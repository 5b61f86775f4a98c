package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mutable aggregation state for [[HistogramAgg]] / [[SumHistogramsAgg]].
  *
  * Mirrors the reference histogram accumulator state (reference:
  * rust/datafusion-extensions/src/histogram/accumulator.rs:20-130):
  * fixed-range equal-width bins, plus exact sum / sum of squares / count
  * so variance and mean are exact even though the bins are lossy.
  */
final class HistogramBuffer(
    var start: Double,
    var end: Double,
    var sum: Double,
    var sumSq: Double,
    var count: Long,
    var bins: Array[Long]) {

  def initialized: Boolean = bins != null

  def ensureBins(nbBins: Int): Unit =
    if (bins == null) bins = new Array[Long](nbBins)

  /** Bin a value: clamped floor((v-start)/width), out-of-range values land
    * in the first/last bin (reference accumulator.rs:118-129, where the
    * saturating `as usize` cast sends negatives to bin 0).
    */
  def add(v: Double): Unit = {
    val width = (end - start) / bins.length
    val raw = math.floor((v - start) / width)
    val idx =
      if (raw.isNaN || raw < 0.0) 0
      else if (raw > bins.length - 1.0) bins.length - 1
      else raw.toInt
    bins(idx) += 1L
    sum += v
    sumSq += v * v
    count += 1L
  }

  def mergeFrom(o: HistogramBuffer): Unit = {
    if (o == null || !o.initialized) return
    if (!initialized) {
      start = o.start; end = o.end
      bins = o.bins.clone()
      sum = o.sum; sumSq = o.sumSq; count = o.count
    } else {
      require(o.bins.length == bins.length,
        s"sum_histograms: incompatible bin counts ${o.bins.length} vs ${bins.length}")
      require(o.start == start && o.end == end,
        s"sum_histograms: incompatible ranges [${o.start},${o.end}) vs [$start,$end)")
      var i = 0
      while (i < bins.length) { bins(i) += o.bins(i); i += 1 }
      sum += o.sum; sumSq += o.sumSq; count += o.count
    }
  }

  def toRow: InternalRow =
    if (!initialized) null
    else new GenericInternalRow(Array[Any](start, end, sum, sumSq, count, new GenericArrayData(bins.map(x => x: Any))))

  def serialize(): Array[Byte] = {
    val n = if (bins == null) -1 else bins.length
    val bb = ByteBuffer.allocate(8 * 4 + 8 + 4 + math.max(n, 0) * 8)
    bb.putDouble(start).putDouble(end).putDouble(sum).putDouble(sumSq).putLong(count).putInt(n)
    if (n >= 0) bins.foreach(bb.putLong)
    bb.array()
  }
}

object HistogramBuffer {
  def empty: HistogramBuffer = new HistogramBuffer(0.0, 0.0, 0.0, 0.0, 0L, null)

  def deserialize(bytes: Array[Byte]): HistogramBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val b = new HistogramBuffer(bb.getDouble, bb.getDouble, bb.getDouble, bb.getDouble, bb.getLong, null)
    val n = bb.getInt
    if (n >= 0) {
      b.bins = Array.fill(n)(bb.getLong)
    }
    b
  }

  val dataType: StructType = StructType(Seq(
    StructField("start", DoubleType, nullable = false),
    StructField("end", DoubleType, nullable = false),
    StructField("sum", DoubleType, nullable = false),
    StructField("sum_sq", DoubleType, nullable = false),
    StructField("count", LongType, nullable = false),
    StructField("bins", ArrayType(LongType, containsNull = false), nullable = false)))

  /** Read a histogram struct value back into a buffer (for merging). */
  def fromStruct(row: InternalRow): HistogramBuffer = {
    val b = new HistogramBuffer(row.getDouble(0), row.getDouble(1), row.getDouble(2),
      row.getDouble(3), row.getLong(4), null)
    b.bins = row.getArray(5).toLongArray()
    b
  }
}

/** `make_histogram(start, end, nb_bins, value)` — aggregate a numeric
  * column into a fixed-range histogram struct
  * `{start, end, sum, sum_sq, count, bins}`.
  *
  * Spark-first design: a [[TypedImperativeAggregate]] so the sketch is
  * built map-side and merged — one small struct crosses the shuffle per
  * group, never the raw values. (reference:
  * rust/datafusion-extensions/src/histogram/histogram_udaf.rs)
  */
case class HistogramAgg(
    startExpr: Expression,
    endExpr: Expression,
    nbBinsExpr: Expression,
    valueExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HistogramBuffer] {

  override def children: Seq[Expression] = Seq(startExpr, endExpr, nbBinsExpr, valueExpr)
  override def nullable: Boolean = true
  override def dataType: DataType = HistogramBuffer.dataType
  override def prettyName: String = "make_histogram"

  override def createAggregationBuffer(): HistogramBuffer = HistogramBuffer.empty

  override def update(buffer: HistogramBuffer, input: InternalRow): HistogramBuffer = {
    val v = valueExpr.eval(input)
    if (v != null) {
      if (!buffer.initialized) {
        buffer.start = startExpr.eval(input).asInstanceOf[Double]
        buffer.end = endExpr.eval(input).asInstanceOf[Double]
        val nb = nbBinsExpr.eval(input).asInstanceOf[Int]
        require(nb >= 1, s"make_histogram: nb_bins must be >= 1, got $nb")
        buffer.ensureBins(nb)
      }
      buffer.add(v.asInstanceOf[Double])
    }
    buffer
  }

  override def merge(buffer: HistogramBuffer, input: HistogramBuffer): HistogramBuffer = {
    buffer.mergeFrom(input); buffer
  }

  override def eval(buffer: HistogramBuffer): Any = buffer.toRow

  override def serialize(buffer: HistogramBuffer): Array[Byte] = buffer.serialize()
  override def deserialize(storageFormat: Array[Byte]): HistogramBuffer =
    HistogramBuffer.deserialize(storageFormat)

  override def withNewMutableAggBufferOffset(newOffset: Int): HistogramAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistogramAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HistogramAgg =
    copy(startExpr = newChildren(0), endExpr = newChildren(1),
      nbBinsExpr = newChildren(2), valueExpr = newChildren(3))
}

/** `sum_histograms(histo)` — merge pre-computed histogram structs
  * (reference: rust/datafusion-extensions/src/histogram/sum_histograms_udaf.rs).
  * Enables minute→hour style rollups without touching raw data again.
  */
case class SumHistogramsAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HistogramBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = HistogramBuffer.dataType
  override def prettyName: String = "sum_histograms"

  override def createAggregationBuffer(): HistogramBuffer = HistogramBuffer.empty

  override def update(buffer: HistogramBuffer, input: InternalRow): HistogramBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.mergeFrom(HistogramBuffer.fromStruct(v.asInstanceOf[InternalRow]))
    buffer
  }

  override def merge(buffer: HistogramBuffer, input: HistogramBuffer): HistogramBuffer = {
    buffer.mergeFrom(input); buffer
  }

  override def eval(buffer: HistogramBuffer): Any = buffer.toRow

  override def serialize(buffer: HistogramBuffer): Array[Byte] = buffer.serialize()
  override def deserialize(storageFormat: Array[Byte]): HistogramBuffer =
    HistogramBuffer.deserialize(storageFormat)

  override def withNewMutableAggBufferOffset(newOffset: Int): SumHistogramsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SumHistogramsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SumHistogramsAgg =
    copy(child = newChildren(0))
}
