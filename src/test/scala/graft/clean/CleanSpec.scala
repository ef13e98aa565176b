package graft.clean

import graft.GraftSpec
import graft.sources.SampleData
import org.apache.spark.sql.functions._

/** Pins the [verified] cleaning semantics (app.py:104-137 /
  * FIXTURES §A5): NULL-or-NaN dropna, strict sentinel bounds,
  * sequential report counts, non-idempotent smoothing. */
class CleanSpec extends GraftSpec {

  test("sentinel fixture: strict < -900 / > 10000 bounds") {
    import spark.implicits._
    // FIXTURES sentinel.csv: removed -901, -999, 10001, NaN; kept -900, 9999, 10000
    val df = Seq(-901.0, -900.0, -999.0, 9999.0, 10000.0, 10001.0, Double.NaN)
      .toDF("v")
    val noMissing = Clean.dropMissing(df)
    assert(noMissing.count() === 6) // NaN row dropped by F1
    val kept = Clean.rangeFilter(noMissing, Seq("v")).collect().map(_.getDouble(0)).toSet
    assert(kept === Set(-900.0, 9999.0, 10000.0))
  }

  test("dropMissing treats NULL and NaN alike, only on fractional columns") {
    import spark.implicits._
    val df = Seq(
      (Some(1.0), Some("a")), (Some(Double.NaN), Some("b")),
      (None: Option[Double], Some("c")), (Some(2.0), None: Option[String])
    ).toDF("x", "s")
    val out = Clean.dropMissing(df).collect()
    assert(out.map(_.getDouble(0)).toSeq === Seq(1.0))
  }

  test("range-filter report counts are SEQUENTIAL per column") {
    import spark.implicits._
    // row1 fails both a and b -> counted only under a (first failing col)
    // row2 fails only b; row3 clean
    val df = Seq((20000.0, 20000.0), (1.0, -950.0), (2.0, 3.0)).toDF("a", "b")
    val report = Clean.rangeFilterReport(df, Seq("a", "b")).toMap
    assert(report("a") === 1L)
    assert(report("b") === 1L)
    val reversed = Clean.rangeFilterReport(df, Seq("b", "a")).toMap
    assert(reversed("b") === 2L) // both failing rows now hit b first
    assert(reversed("a") === 0L)
  }

  test("spike smoothing replaces out-of-quantile values with the median and is non-idempotent") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val vals = Seq.fill(600)(rng.nextGaussian())
    val df = vals.toDF("accel_x")
    val (s1, rep1) = Clean.spikeSmooth(df, Seq("accel_x"))
    assert(rep1.head._2 > 0, "first pass must replace some spikes")
    assert(rep1.head._2 <= 12, "at most ~1% on each side of 600 rows")
    val (_, rep2) = Clean.spikeSmooth(s1, Seq("accel_x"))
    assert(rep2.head._2 > 0, "smoothing is deliberately non-idempotent (app.py:125-130)")
  }

  test("clean(camera) drops exactly the NaN rows; -999 rows are a subset") {
    val cam = SampleData.camera(spark, n = 500)
    val nNaN = cam.filter(isnan(col("object_x"))).count()
    assert(nNaN > 0)
    val (cleaned, report) = Clean.clean(cam, "camera")
    assert(cleaned.count() === 500 - nNaN)
    // -999 sentinels live only in NaN rows (same uniform draw) -> none survive
    assert(cleaned.filter(col("object_y") === -999.0).count() === 0)
    assert(report.exists(_.startsWith(s"Removed $nNaN rows with missing values")))
    assert(report.contains("Sorted by timestamp"))
  }

  test("clean(motion) smooths spike channels but never accel_z") {
    val mot = SampleData.motion(spark, n = 600)
    val (cleaned, report) = Clean.clean(mot, "motion")
    assert(cleaned.count() === 600) // no missing values -> nothing dropped
    assert(report.exists(_.matches("Smoothed \\d+ spikes in accel_x")))
    assert(!report.exists(_.contains("accel_z")),
      "accel_z is excluded from smoothing (app.py:123)")
  }

  test("clean(motion) with zero clean rows skips smoothing instead of NPE-ing") {
    import spark.implicits._
    // every row has a NaN -> no rows pass cleanCond -> null quantiles
    val mot = Seq((Double.NaN, 1.0, 2.0), (3.0, Double.NaN, 4.0))
      .toDF("accel_x", "accel_y", "accel_z")
    val (cleaned, report) = Clean.clean(mot, "motion")
    assert(cleaned.count() === 0)
    assert(!report.exists(_.startsWith("Smoothed")))
  }

  test("a zero-row frame cleans to zero rows with zero counts (header-only CSV)") {
    for ((empty, kind) <- Seq(SampleData.camera(spark, n = 500).limit(0) -> "camera",
                              SampleData.motion(spark, n = 600).limit(0) -> "motion")) {
      val (cleaned, report) = Clean.clean(empty, kind)
      assert(cleaned.count() === 0, kind)
      assert(report === Seq("Sorted by timestamp"), kind)
    }
    val empty = SampleData.motion(spark, n = 600).limit(0)
    assert(Clean.rangeFilterReport(empty, Seq("accel_x", "gyro_z")) ===
      Seq("accel_x" -> 0L, "gyro_z" -> 0L))
    assert(Clean.spikeSmooth(empty, Clean.motionSmoothCols)._2.isEmpty)
  }

  test("the folded spike counts equal an explicit two-pass count") {
    val mot = SampleData.motion(spark, n = 5000)
    val cols = Clean.motionSmoothCols
    // the two passes the fold replaces: bounds first, then a count
    // against those bounds
    def twoPass(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
      val bounds = cols.map(c => graft.functions.ExactPercentile.percentiles(col(c), Seq(0.01, 0.99)))
      val q = df.agg(bounds.head, bounds.tail: _*).head()
      val counts = cols.zipWithIndex.map { case (c, i) =>
        val Seq(lo, hi) = q.getSeq[Double](i)
        count_if(col(c) < lo || col(c) > hi)
      }
      val n = df.agg(counts.head, counts.tail: _*).head()
      cols.indices.map(i => cols(i) -> n.getLong(i)).toMap
    }
    val Smoothed = "Smoothed (\\d+) spikes in (\\w+)".r
    val folded = Clean.clean(mot, "motion")._2.collect { case Smoothed(n, c) => c -> n.toLong }
    val kept = Clean.rangeFilter(Clean.dropMissing(mot), Clean.numericCols(mot))
    assert(folded.size === cols.size)
    assert(folded.toMap === twoPass(kept))
    // the standalone F4 step rides the same kernel
    assert(Clean.spikeSmooth(mot, cols)._2.toMap === twoPass(mot))
  }

  test("clean output collects in timestamp order (F5)") {
    for ((raw, kind) <- Seq(SampleData.camera(spark, n = 500) -> "camera",
                            SampleData.motion(spark, n = 600) -> "motion")) {
      val scrambled = raw.orderBy(col(raw.columns.last).desc)
      val ts = Clean.clean(scrambled, kind)._1.collect()
        .map(_.getAs[java.sql.Timestamp]("timestamp").getTime).toSeq
      assert(ts.nonEmpty && ts === ts.sorted, kind)
    }
  }
}
