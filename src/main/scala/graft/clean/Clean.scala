package graft.clean

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, NumericType}
import graft.functions.ExactPercentile

/** Cleaning pipeline — Spark re-expression of `clean_data`
  * (`/root/reference/app.py:104-137`): F1 drop-missing → F3 sentinel
  * range filter → F4 quantile spike smoothing (motion only) → F5 sort.
  *
  * Semantics pinned by SURVEY.md §2.3 [verified] facts:
  *  - "missing" = NULL or NaN (pandas NaN ≙ both in Spark's world);
  *  - range filter is strict: remove `col < -900 OR col > 10000`
  *    (`app.py:116` — so -900, 9999 and 10000 are KEPT);
  *  - per-column removal counts are *sequential* (col order), even
  *    though the surviving row set is just the conjunction;
  *  - smoothing replaces values outside (q0.01, q0.99) with the median
  *    computed *including* the spikes — deliberately non-idempotent;
  *  - `accel_z` is excluded from smoothing (`app.py:123`).
  *
  * Scale notes: the filters are single conjunctive predicates (Catalyst
  * folds them; they push down to the scan). The report counts are one
  * aggregate pass of conditional counts — not N sequential jobs. The
  * quantiles are one exact-percentile aggregate over the smoothed
  * columns that also counts the replaced spikes; exact percentiles
  * materialize per-group value buffers, so at 100 TB the bounded-memory
  * route is `approx_percentile`.
  */
object Clean {

  /** Motion channels the reference smooths — accel_z deliberately absent
    * (`app.py:123`). */
  val motionSmoothCols: Seq[String] = Seq("accel_x", "accel_y", "gyro_x", "gyro_y", "gyro_z")

  /** Columns the reference's `select_dtypes(np.number)` would pick
    * (`app.py:114`): every numeric column, including ids. */
  def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSeq

  private def isFractional(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType match {
      case DoubleType | FloatType => true
      case _                      => false
    }

  /** NULL-or-NaN test for one column. */
  def missing(df: DataFrame, c: String): Column =
    if (isFractional(df, c)) col(c).isNull || isnan(col(c)) else col(c).isNull

  /** Row has any missing value — pandas `dropna()` predicate (F1,
    * `app.py:108`). */
  def anyMissing(df: DataFrame): Column =
    df.columns.map(c => missing(df, c)).reduce(_ || _)

  /** F1 — drop rows with any missing value. */
  def dropMissing(df: DataFrame): DataFrame = df.filter(!anyMissing(df))

  /** F3 predicate — value is a sentinel / out of physical range
    * (strict, `app.py:116`). */
  def outOfRange(c: String): Column = col(c) < -900 || col(c) > 10000

  /** F3 — remove rows failing the range check on any numeric column. */
  def rangeFilter(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df else df.filter(!cols.map(outOfRange).reduce(_ || _))

  /** Sequential per-column removal counts for the cleaning report:
    * count(i) = rows that survive columns 0..i-1 but fail column i —
    * exactly what the reference's loop reports (`app.py:115-120`).
    * One aggregate pass. Returns (colName -> removedRows). */
  def rangeFilterReport(df: DataFrame, cols: Seq[String]): Seq[(String, Long)] = {
    if (cols.isEmpty) return Seq.empty
    val aggs = cols.zipWithIndex.map { case (c, i) =>
      val failsHere = outOfRange(c)
      val survivedPrior =
        if (i == 0) lit(true) else cols.take(i).map(p => !outOfRange(p)).reduce(_ && _)
      count_if(survivedPrior && failsHere).as(c)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }
  }

  /** F4 — quantile spike smoothing (`app.py:122-131`): values outside
    * (q`lo`, q`hi`) become the column median. Exact linear-interpolation
    * percentiles (pandas type-7 ≙ Spark `percentile`); one aggregate pass
    * over all columns returns each column's bounds and its replaced
    * count, collected as scalars (the reference's q01/q99/median plus a
    * count). Returns (smoothed frame, colName -> replaced values);
    * all-NULL columns are left alone and unreported. */
  def spikeSmooth(df: DataFrame, cols: Seq[String],
                  lo: Double = 0.01, hi: Double = 0.99): (DataFrame, Seq[(String, Long)]) = {
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) return (df, Seq.empty)
    val aggs = present.map(c => spikeAgg(col(c), lo, hi))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val found = present.zipWithIndex.flatMap { case (c, i) => spikes(row, i).map(c -> _) }
    (replaceSpikes(df, found), found.map { case (c, s) => c -> s.replaced })
  }

  /** One column's F4 bounds and the number of its values outside
    * (`lo`, `hi`), the values `replaceSpikes` rewrites. */
  private final case class Spikes(lo: Double, median: Double, hi: Double, replaced: Long)

  /** The F4 kernel both smoothing paths share: one aggregate giving the
    * (q`lo`, median, q`hi`) bounds of `values` AND the count outside
    * (q`lo`, q`hi`), from the same sorted buffer — no second pass. */
  private def spikeAgg(values: Column, lo: Double, hi: Double): Column =
    ExactPercentile.percentilesWithOutside(values, Seq(lo, 0.5, hi))

  /** `spikeAgg`'s result at `row(i)`; None when the column had no values
    * (a NULL struct), so smoothing is skipped instead of NPE-ing. */
  private def spikes(row: Row, i: Int): Option[Spikes] =
    Option(row.getStruct(i)).map { s =>
      val q = s.getSeq[Double](0)
      Spikes(q(0), q(1), q(2), s.getLong(1))
    }

  private def replaceSpikes(df: DataFrame, found: Seq[(String, Spikes)]): DataFrame =
    found.foldLeft(df) { case (d, (c, s)) =>
      d.withColumn(c, when(col(c) < s.lo || col(c) > s.hi, lit(s.median)).otherwise(col(c)))
    }

  /** F5 — sort by timestamp (`app.py:133-135`). Range-partitioned sort;
    * no global single partition. */
  def sortByTimestamp(df: DataFrame, tsCol: String = "timestamp"): DataFrame =
    if (df.columns.contains(tsCol)) df.orderBy(col(tsCol)) else df

  /** Full `clean_data` pipeline with report strings, mirroring
    * `app.py:104-137`. `sensorType` ∈ {camera, motion, log}: smoothing
    * only fires for motion, like the reference.
    *
    * Job discipline: the reference re-scans its in-memory frame per
    * report line; at 100 TB each scan is a full pass. Here ALL report
    * numbers (missing, sequential range counts, replaced spikes) AND the
    * smoothing quantiles ride ONE combined aggregate — percentiles take
    * `when(cleanCond, col)` inputs, so "quantiles of the cleaned data"
    * needs no separate job on the cleaned subset, and the spike counts
    * come from the same sorted buffers. Total: one aggregate (one
    * collect) for every sensor type, motion included. The output stays
    * sorted by timestamp (F5). */
  def clean(df: DataFrame, sensorType: String): (DataFrame, Seq[String]) = {
    var report = Vector.empty[String]
    val numeric = numericCols(df)
    val smoothCols =
      if (sensorType == "motion") motionSmoothCols.filter(df.columns.contains)
      else Seq.empty[String]

    val miss = anyMissing(df)
    val survivesRange =
      if (numeric.isEmpty) lit(true) else numeric.map(c => !outOfRange(c)).reduce(_ && _)
    val cleanCond = !miss && survivesRange

    // ---- the one pass: every count + the smoothing bounds ----
    // count_if, not sum(when(…)): a zero-row frame must count 0, not NULL
    val rangeAggs = numeric.zipWithIndex.map { case (c, i) =>
      val survivedPrior =
        if (i == 0) lit(true) else numeric.take(i).map(p => !outOfRange(p)).reduce(_ && _)
      count_if(!miss && survivedPrior && outOfRange(c)).as(s"__r_$c")
    }
    val qAggs = smoothCols.map(c => spikeAgg(when(cleanCond, col(c)), 0.01, 0.99).as(s"__q_$c"))
    val aggs = count_if(miss).as("__miss") +: (rangeAggs ++ qAggs)
    val row = df.agg(aggs.head, aggs.tail: _*).head()

    val nMiss = row.getLong(0)
    if (nMiss > 0) report :+= s"Removed $nMiss rows with missing values"
    numeric.zipWithIndex.foreach { case (c, i) =>
      val n = row.getLong(1 + i)
      if (n > 0) report :+= s"Removed $n outliers from $c" // app.py:120 wording
    }
    // a column with ZERO clean rows has no bounds: it is not smoothed
    val found = smoothCols.zipWithIndex.flatMap { case (c, i) =>
      spikes(row, 1 + numeric.size + i).map(c -> _)
    }
    found.foreach { case (c, s) =>
      if (s.replaced > 0) report :+= s"Smoothed ${s.replaced} spikes in $c" // app.py:131 wording
    }

    // ---- the (lazy) transform itself ----
    val smoothed = replaceSpikes(rangeFilter(dropMissing(df), numeric), found)
    val sorted = sortByTimestamp(smoothed)
    if (df.columns.contains("timestamp")) report :+= "Sorted by timestamp"
    (sorted, report)
  }
}
