package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.functions.{array, call_function, lit}
import org.apache.spark.sql.types._

/** Growable primitive double buffer — the aggregation state. */
final class DoubleBuf(var arr: Array[Double], var n: Int) {
  def this() = this(new Array[Double](64), 0)
  def add(d: Double): Unit = {
    if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
    arr(n) = d; n += 1
  }
  def merge(o: DoubleBuf): Unit = {
    if (n + o.n > arr.length)
      arr = java.util.Arrays.copyOf(arr, math.max(n + o.n, n * 2))
    System.arraycopy(o.arr, 0, arr, n, o.n); n += o.n
  }
}

/** Exact linear-interpolation percentiles (pandas type-7 ≙ Spark
  * `percentile` ≙ DuckDB `quantile_cont`) as a primitive-buffer
  * aggregate.
  *
  * Why not the built-in: Spark's `Percentile` accumulates a boxed
  * `OpenHashMap[Double, Long]` per partition — on a 600k-row column
  * that's ~1M boxed inserts and dominates the aggregate. This buffer
  * appends primitive doubles and sorts once at eval: identical
  * results, ~5× faster at bench scale.
  *
  * `countOutside` also returns, from the same sorted buffer, how many
  * values lie strictly outside (first, last percentile) — the count a
  * second `v < lo OR v > hi` pass over the input would give.
  *
  * Scale note: like the built-in exact percentile, state is O(rows)
  * per group — that is inherent to EXACT quantiles. At 100 TB use
  * Spark's bounded-memory `approx_percentile` sketch; this aggregate
  * exists because the oracle contract demands exact. */
case class ExactPercentile(
    child: Expression,
    percentages: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
    countOutside: Boolean = false)
  extends TypedImperativeAggregate[DoubleBuf] {

  private def qType = ArrayType(DoubleType, containsNull = false)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType =
    if (countOutside) StructType(Seq(StructField("q", qType, nullable = false),
      StructField("outside", LongType, nullable = false)))
    else qType

  override def createAggregationBuffer(): DoubleBuf = new DoubleBuf()

  override def update(buf: DoubleBuf, input: InternalRow): DoubleBuf = {
    val v = child.eval(input)
    // Decimal does NOT extend java.lang.Number — a bare Number cast
    // would make DecimalType columns a regression vs the built-in
    if (v != null) buf.add(v match {
      case d: Decimal => d.toDouble
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"graft_percentile: non-numeric input $other (${child.dataType})")
    })
    buf
  }

  override def merge(buf: DoubleBuf, other: DoubleBuf): DoubleBuf = {
    buf.merge(other); buf
  }

  override def eval(buf: DoubleBuf): Any = {
    if (buf.n == 0) return null
    val a = java.util.Arrays.copyOf(buf.arr, buf.n)
    java.util.Arrays.sort(a)
    val qs = percentages.map { p =>
      val pos = p * (a.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < a.length) a(lo) * (1 - frac) + a(lo + 1) * frac else a(lo)
    }.toArray
    if (countOutside) InternalRow(new GenericArrayData(qs), outside(a, qs.head, qs.last))
    else new GenericArrayData(qs)
  }

  /** Values strictly below `lo` or above `hi` under SQL double ordering
    * (NaN above every number, -0.0 equal to 0.0). */
  private def outside(a: Array[Double], lo: Double, hi: Double): Long = {
    var n = 0L
    var i = 0
    while (i < a.length) {
      if (SQLOrderingUtil.compareDoubles(a(i), lo) < 0 ||
          SQLOrderingUtil.compareDoubles(a(i), hi) > 0) n += 1
      i += 1
    }
    n
  }

  override def serialize(buf: DoubleBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): DoubleBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val arr = new Array[Double](math.max(n, 1))
    var i = 0
    while (i < n) { arr(i) = bb.getDouble; i += 1 }
    new DoubleBuf(arr, n)
  }

  override def withNewMutableAggBufferOffset(o: Int): ExactPercentile =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ExactPercentile =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(child = cs.head)
}

object ExactPercentile {

  /** Idempotent registration; the percentage argument must be a
    * foldable array/double literal (same restriction as the built-in
    * `percentile`). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_percentile", { es =>
      val ps = es(1).eval(null) match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          a.toDoubleArray().toSeq
        case d: java.lang.Number => Seq(d.doubleValue())
        case other => throw new IllegalArgumentException(
          s"graft_percentile: non-foldable percentage $other")
      }
      ExactPercentile(es.head, ps).toAggregateExpression()
    }, "scala_udf")
  }

  /** Column API: exact percentiles of `e` at `ps`, as array<double>. */
  def percentiles(e: Column, ps: Seq[Double]): Column = {
    register(SparkSession.active)
    call_function("graft_percentile", e, array(ps.map(lit): _*))
  }

  /** Column API: exact percentiles of `e` at `ps` plus the number of
    * values strictly outside (`ps.head`, `ps.last`) percentiles, in one
    * aggregate, as struct<q: array<double>, outside: bigint>; NULL when
    * `e` has no non-NULL value. */
  def percentilesWithOutside(e: Column, ps: Seq[Double]): Column =
    column(ExactPercentile(expression(e), ps, countOutside = true).toAggregateExpression())
}
