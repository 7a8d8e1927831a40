package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst AGGREGATE building a fixed-bin histogram sketch (t4):
  * one `TypedImperativeAggregate` whose buffer is the 600-counter bin
  * array — the EXACT member of the mergeable-summary family (t1/t3's
  * HLL sketches are probabilistic; a fixed-bin histogram is a sketch
  * whose merge is plain addition and whose answers are exactly
  * reproducible, so it passes the hash gate, not just a tolerance
  * check).
  *
  * Contract: input is an integer metric in CENTS; bin i counts values
  * in [100·i, 100·(i+1)) for i in 0..599, with both tails CLAMPED into
  * the edge bins (bin = min(599, max(0, x div 100)), floor division —
  * so negative inputs land in bin 0 and overflows in bin 599, never
  * dropped: Σbins == row count by construction). Addition is
  * commutative/associative — partial aggregation, shuffle merge order,
  * and day→total rollups cannot change the result.
  *
  * Why this shape: a per-(group, shard) histogram row is the
  * persistable daily summary a 100 TB metrics pipeline stores; any
  * coarser rollup (weekly, global) is elementwise addition of the
  * 600-long arrays — never a second pass over raw data — and any
  * bin-resolution quantile reads off the cumulative counts (q32's
  * index-rank convention). One buffer object + O(1) per row beats 600
  * declarative `sum(when(...))` columns (the SimHashBands64 lesson:
  * the generated 600-buffer update function would be enormous). */
case class HistBins600(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hist_bins600 expects BIGINT, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](600)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      val bin = math.min(599L, math.max(0L, Math.floorDiv(x, 100L))).toInt
      buf(bin) += 1L
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 600) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(600 * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](600)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "hist_bins600"

  override def withNewMutableAggBufferOffset(newOffset: Int): HistBins600 =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistBins600 =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HistBins600 =
    copy(child = newChild)
}
