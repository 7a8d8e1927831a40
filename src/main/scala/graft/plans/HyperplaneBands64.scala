package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst aggregate for the 64-hyperplane sign sketch over
  * quantized exploded embeddings (qd4/qd5/qs1/qs3's perVec): one
  * `TypedImperativeAggregate` with a 65-counter buffer (64 int64
  * projection sums + the squared norm) replaces 65 separate `sum()`
  * aggregate functions.
  *
  * Semantics (bit-identical to the declarative form and the DuckDB
  * oracle): per input row (i0, xi), counter j accumulates
  * `(((1103515245·(64j + i0) + 12345) mod 2^31) − 2^30) · xi` and the
  * norm counter accumulates xi². The result is
  * `array(k0, k1, k2, k3, n2)`: bit r of 16-bit band key k is set iff
  * projection counter 16k+r > 0. Addition commutativity makes partial
  * aggregation and merge order irrelevant; overflow audit as in
  * DedupExt's scaladoc (|weight| ≤ 2^30, |xi| ≤ 1e7, 64 terms →
  * |sum| < 2^63).
  *
  * Motivation is SimHashBands64's: one buffer object and a tight JVM
  * loop under ObjectHashAggregate, instead of a 65-buffer generated
  * update function; identical 520 B/vector partial shuffle. */
case class HyperplaneBands64(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hyperplane_bands64 expects (BIGINT, BIGINT), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](65)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val i0v = left.eval(row)
    val xiv = right.eval(row)
    if (i0v != null && xiv != null) {
      val i0 = i0v.asInstanceOf[Long]
      val xi = xiv.asInstanceOf[Long]
      var j = 0
      while (j < 64) {
        val w = ((1103515245L * (64L * j + i0) + 12345L) % 2147483648L) - 1073741824L
        buf(j) += w * xi
        j += 1
      }
      buf(64) += xi * xi
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var j = 0
    while (j < 65) { b1(j) += b2(j); j += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Long](5)
    var j = 0
    while (j < 64) {
      if (buf(j) > 0) out(j >> 4) |= 1L << (j & 15)
      j += 1
    }
    out(4) = buf(64)
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(65 * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](65)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "hyperplane_bands64"

  override def withNewMutableAggBufferOffset(newOffset: Int): HyperplaneBands64 =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HyperplaneBands64 =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HyperplaneBands64 =
    copy(left = newLeft, right = newRight)
}
