package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

import graft.operators.HistogramQuantile

/** Fixed-bin histogram quantile as a mergeable native aggregate — the one
  * implementation behind every histogram-quantile entry point (marEx D13,
  * detect.py:2737–2865).
  *
  * Input is `(bin, cnt)`: a bin index from [[HistogramQuantile.binCol]] and
  * the number of samples it stands for (1 for a raw value). A row with a
  * null bin or count adds nothing. The buffer is a dense count array that
  * grows to the largest bin seen; it serialises only its present bins, so
  * a partial-aggregate shuffle of many small groups ships a few
  * (bin, count) pairs per group rather than the whole bin range.
  *
  * `eval` is [[HistogramQuantileAgg.cdfWalk]], which Detect's Hobday kernel
  * shares; a group with no counted sample yields null.
  */
case class HistogramQuantileAgg(
    bin: Expression,
    cnt: Expression,
    q: Double,
    lo: Double,
    width: Double,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(bin, cnt)
  override def inputTypes = Seq(IntegerType, LongType)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val b = bin.eval(input)
    val c = cnt.eval(input)
    if (b == null || c == null) buf
    else {
      val i = b.asInstanceOf[Int]
      // double on growth: bins arriving in ascending order copy O(n) in total
      val out = if (i < buf.length) buf
        else java.util.Arrays.copyOf(buf, math.max(i + 1, 2 * buf.length))
      out(i) += c.asInstanceOf[Long]
      out
    }
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = if (b.length <= a.length) a else java.util.Arrays.copyOf(a, b.length)
    var i = 0
    while (i < b.length) { out(i) += b(i); i += 1 }
    out
  }

  override def eval(buf: Array[Long]): Any = {
    val total = buf.sum
    if (total == 0L) null else HistogramQuantileAgg.cdfWalk(buf, total, q, lo, width)
  }

  /** Present bins only, ascending, as (int bin, long count) pairs. */
  override def serialize(buf: Array[Long]): Array[Byte] = {
    val present = buf.indices.filter(buf(_) != 0L)
    val bb = ByteBuffer.allocate(present.length * 12)
    present.foreach(i => bb.putInt(i).putLong(buf(i)))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bytes.length / 12
    val buf = new Array[Long](if (n == 0) 0 else bb.getInt((n - 1) * 12) + 1)
    (0 until n).foreach(_ => buf(bb.getInt()) = bb.getLong())
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HistogramQuantileAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistogramQuantileAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HistogramQuantileAgg =
    copy(bin = newChildren(0), cnt = newChildren(1))
  override def prettyName: String = "histogram_quantile"
}

object HistogramQuantileAgg {
  /** The aggregate over raw values: each non-null, non-NaN value counts once
    * in its [[HistogramQuantile.binCol]] bin. */
  def ofValues(value: Column, q: Double, lo: Double, width: Double, nBins: Int): HistogramQuantileAgg =
    HistogramQuantileAgg(GraftColumnBridge.converted(HistogramQuantile.binCol(value, lo, width, nBins)),
      Literal(1L), q, lo, width)

  /** Column-API entry point: `df.groupBy(...).agg(histogramQuantile($"v", 0.95, 0, 25, 200))`. */
  def histogramQuantile(c: Column, q: Double, lo: Double, width: Double, nBins: Int): Column =
    GraftColumnBridge.column(ofValues(c, q, lo, width, nBins).toAggregateExpression())

  /** The quantile of the histogram `counts` (bin → samples; `total` > 0 of
    * them): walk the CDF over present bins to the first bin whose
    * cdf = cum/total reaches q and interpolate linearly between bin centers
    * from the previous present bin, or from (cdf 0, `lo`) when there is
    * none; mass below range (bin 0) clamps to `lo` (detect.py:2839–2864). */
  def cdfWalk(counts: Array[Long], total: Long, q: Double, lo: Double, width: Double): Double = {
    def center(b: Int): Double = if (b >= 1) lo + (b - 0.5) * width else lo
    var cum = 0L
    var prevBin = -1
    var prevCdf = 0.0
    var i = 0
    while (i < counts.length) {
      if (counts(i) > 0) {
        cum += counts(i)
        val cdf = cum.toDouble / total.toDouble
        if (cdf >= q) {
          if (i == 0) return lo
          val cPrev = if (prevBin < 0) lo else center(prevBin)
          return cPrev + (q - prevCdf) / (cdf - prevCdf) * (center(i) - cPrev)
        }
        prevBin = i; prevCdf = cdf
      }
      i += 1
    }
    Double.NaN // unreachable for q ≤ 1: the last present bin has cdf 1
  }
}
