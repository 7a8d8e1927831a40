package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst AGGREGATE for the k SMALLEST DISTINCT int64 values
  * of a group, k a foldable INT argument. Two uses:
  *
  * t6's bottom-k ("theta", KMV) sketch is `bottom_k(h, 256)`: unlike HLL
  * it supports set algebra — two groups' sketches merge by
  * union-and-trim, and the intersection survives inside the merged
  * bottom-k. The TreeSet buffer is O(k) per group however large the
  * group, with an early-out once it is full and the value exceeds its
  * max.
  *
  * The co-purchase graph family's basket cap (round 14; guide
  * §2.3/§2.4): the capped-basket pair build used to run distinct →
  * window row_number ≤ cap → self-join on the basket key — two exchanges plus a full per-basket sort before the pair
  * fan-out. `groupBy(basket).agg(bottom_k(part, cap))` computes the
  * identical capped part set in ONE partial-aggregatable exchange:
  * map-side buffers are O(cap) per basket (the same hot-basket memory
  * guard the streaming window rank provided — a collect_set cap would
  * buffer the whole hot basket), dedup happens in the buffer (so the
  * pre-distinct exchange disappears), and the sorted output array
  * feeds a row-local pair generator instead of a self-join.
  *
  * Determinism: "k smallest distinct values" is a pure set function of
  * the input — partial aggregation, merge order, and group splits
  * cannot change it. Output: sorted ascending ARRAY<BIGINT> (≤ k). */
case class BottomK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType) TypeCheckResult.TypeCheckFailure(
      s"bottom_k expects BIGINT, got ${child.dataType.simpleString}")
    else if (k <= 0) TypeCheckResult.TypeCheckFailure(
      s"bottom_k expects a positive k, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def add(buf: java.util.TreeSet[java.lang.Long], v: Long): Unit = {
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last()) {
      if (buf.add(v)) { buf.remove(buf.last()); () }
    }
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      row: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(row)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
                     b2: java.util.TreeSet[java.lang.Long])
      : java.util.TreeSet[java.lang.Long] = {
    val it = b2.iterator()
    while (it.hasNext) add(b1, it.next())
    b1
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 8)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte])
      : java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bottom_k"

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BottomK =
    copy(child = newChild)
}
