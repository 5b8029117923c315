package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Flatten}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Single-pass per-dimension Welford statistics over an array column,
  * without explode — SURVEY §4 custom #1, the one mandatory custom Catalyst
  * piece.
  *
  * The reference fits channel scalers by flattening each 16×16 channel to a
  * vector and running three separate full passes
  * (train_classification.py:184-186). An explode-based Spark equivalent
  * multiplies rows ×(H·W·C) — 768× — before the aggregate, which is
  * unacceptable at the 100 TB design point. This aggregate keeps one mutable
  * buffer of 4·dim doubles per partition (mean/M2/min/max per dimension,
  * Chan-merge across partitions), so the plan is Scan → partial agg → 1-row
  * shuffle → final agg: shuffle volume is O(dim), independent of row count.
  *
  * Result: array<struct<mean, stddev_pop, min, max>> of length `dim`
  * (population σ — sklearn StandardScaler ddof=0 semantics).
  */
case class ChannelStatsAgg(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  // buffer layout: [count, mean*dim, m2*dim, min*dim, max*dim]
  private val n = dim

  override def createAggregationBuffer(): Array[Double] = {
    val b = new Array[Double](1 + 4 * n)
    java.util.Arrays.fill(b, 1 + 2 * n, 1 + 3 * n, Double.PositiveInfinity) // min
    java.util.Arrays.fill(b, 1 + 3 * n, 1 + 4 * n, Double.NegativeInfinity) // max
    b
  }

  override def update(b: Array[Double], input: InternalRow): Array[Double] =
    flattenedChild match {
      case Some(grid) => updateRows(b, grid.eval(input).asInstanceOf[ArrayData])
      case None =>
        val v = child.eval(input)
        if (v == null) return b
        val arr = v.asInstanceOf[ArrayData]
        checkLength(arr.numElements())
        val cnt = b(0) + 1
        b(0) = cnt
        var d = 0
        while (d < n) { welford(b, cnt, d, arr, d); d += 1 }
        b
    }

  /** `flatten(grid)` read in place: the rows of `grid` in row-major order
    * feed the same per-element update as the flat array would, so a row's
    * contribution is bit-equal, without materializing the flat array. As
    * with `Flatten`, a null grid or any null row makes the value null, and
    * the row is skipped.
    */
  private def updateRows(b: Array[Double], grid: ArrayData): Array[Double] = {
    if (grid == null) return b
    val rows = grid.numElements()
    var total = 0
    var r = 0
    while (r < rows) {
      if (grid.isNullAt(r)) return b
      total += grid.getArray(r).numElements()
      r += 1
    }
    checkLength(total)
    val cnt = b(0) + 1
    b(0) = cnt
    var d = 0
    r = 0
    while (r < rows) {
      val row = grid.getArray(r)
      val len = row.numElements()
      var i = 0
      while (i < len) { welford(b, cnt, d, row, i); d += 1; i += 1 }
      r += 1
    }
    b
  }

  // exposed to arbitrary SQL via GraftExtensions — fail loudly on ragged or
  // null-holed arrays rather than reading past the element region
  // strict equality: a longer array silently truncated would mask an
  // upstream reshape bug just as badly as a short one read out of bounds
  private def checkLength(len: Int): Unit =
    if (len != n)
      throw new IllegalArgumentException(s"channel_stats(dim=$n) got an array of $len elements")

  /** Welford step for dimension `d` with element `i` of `arr`, `cnt` rows in. */
  @inline private def welford(b: Array[Double], cnt: Double, d: Int, arr: ArrayData, i: Int): Unit = {
    if (arr.isNullAt(i))
      throw new IllegalArgumentException(
        s"channel_stats: null element at index $d (nulls unsupported)")
    val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
    val mean = b(1 + d)
    val delta = x - mean
    val newMean = mean + delta / cnt
    b(1 + d) = newMean
    b(1 + n + d) += delta * (x - newMean)
    if (x < b(1 + 2 * n + d)) b(1 + 2 * n + d) = x
    if (x > b(1 + 3 * n + d)) b(1 + 3 * n + d) = x
  }

  override def merge(a: Array[Double], c: Array[Double]): Array[Double] = {
    val na = a(0); val nc = c(0)
    if (nc == 0) return a
    if (na == 0) { System.arraycopy(c, 0, a, 0, c.length); return a }
    val tot = na + nc
    var d = 0
    while (d < n) {
      val delta = c(1 + d) - a(1 + d)
      a(1 + d) += delta * nc / tot                      // merged mean
      a(1 + n + d) += c(1 + n + d) + delta * delta * na * nc / tot // merged M2
      if (c(1 + 2 * n + d) < a(1 + 2 * n + d)) a(1 + 2 * n + d) = c(1 + 2 * n + d)
      if (c(1 + 3 * n + d) > a(1 + 3 * n + d)) a(1 + 3 * n + d) = c(1 + 3 * n + d)
      d += 1
    }
    a(0) = tot
    a
  }

  override def eval(b: Array[Double]): Any = {
    val cnt = b(0)
    val rows = (0 until n).map { d =>
      if (cnt == 0) InternalRow(null, null, null, null)
      else InternalRow(
        b(1 + d),
        math.sqrt(b(1 + n + d) / cnt),   // population stddev (ddof=0)
        b(1 + 2 * n + d),
        b(1 + 3 * n + d))
    }
    new GenericArrayData(rows.toArray[Any])
  }

  override def serialize(b: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(b.length * 8)
    b.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getDouble)
  }

  @transient private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  /** The grid when the child is `flatten(grid)`, which [[update]] walks in place. */
  @transient private lazy val flattenedChild: Option[Expression] = child match {
    case Flatten(grid) => Some(grid)
    case _ => None
  }

  override def dataType: DataType = ArrayType(new StructType()
    .add("mean", DoubleType).add("stddev", DoubleType)
    .add("min", DoubleType).add("max", DoubleType))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
  override def withNewMutableAggBufferOffset(o: Int): ChannelStatsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ChannelStatsAgg =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "channel_stats"
}

object ChannelStats {
  /** Column API: per-dimension (mean, stddev_pop, min, max) over an
    * array<float|double> column of fixed length `dim`.
    */
  def channelStats(arr: Column, dim: Int): Column =
    GraftColumnBridge.column(
      ChannelStatsAgg(GraftColumnBridge.expression(arr), dim).toAggregateExpression())
}
