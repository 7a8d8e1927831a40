package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst AGGREGATE for the 64-bit SimHash sketch (qd2): one
  * `TypedImperativeAggregate` with a single 64-counter buffer replaces
  * the declarative form's 64 separate `sum()` aggregate functions.
  *
  * Semantics (bit-identical to the declarative form and the DuckDB
  * oracle): per input token hash `h`, counter j accumulates
  * `2·(((a_j·h + b_j) mod P) & 1) − 1` for the shared permutation
  * constants a_j = 1000003·j + 12345, b_j = 777767·j + 13,
  * P = 1e9+7; the result packs sign bits into FOUR 16-bit band keys
  * `array(b0..b3)` with bit r of band k set iff counter 16k+r > 0.
  * Addition is commutative/associative, so partial aggregation and
  * merge order cannot change the result.
  *
  * Input domain: `h` is reduced mod P (non-negative) before the
  * multiply. roll_hash31 outputs already lie in [0, P), so the mask is
  * the identity on the documented pipeline; it exists so the globally
  * registered SQL function stays overflow-free (and deterministic) for
  * arbitrary BIGINT inputs instead of silently wrapping int64 where
  * DuckDB would raise an overflow error.
  *
  * Why an imperative aggregate: 64 independent `sum`s carry 64
  * aggregate buffers through codegen — the generated update function is
  * enormous (slow to janino-compile, hostile to JIT) and each buffer
  * pays its own bookkeeping. Here the planner runs ObjectHashAggregate
  * with ONE buffer object and a tight 64-iteration JVM loop per row;
  * the partial-aggregate shuffle payload is the same 512 bytes per
  * group either way. */
case class SimHashBands64(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  private val P = 1000000007L

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash_bands64 expects BIGINT, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v != null) {
      // mask the input into the rolling-hash domain [0, P) before the
      // multiply: for roll_hash31 outputs (the documented domain) this
      // is the identity, and for ad-hoc SQL callers passing arbitrary
      // BIGINTs it keeps a*h inside int64 (a < 2^26, h < 2^30) instead
      // of silently wrapping — DuckDB would error on the same overflow,
      // so unmasked wraparound could diverge from the oracle semantics
      val raw = v.asInstanceOf[Long] % P
      val h = if (raw < 0) raw + P else raw
      var j = 0
      while (j < 64) {
        val a = 1000003L * j + 12345L
        val b = 777767L * j + 13L
        buf(j) += 2L * (((a * h + b) % P) & 1L) - 1L
        j += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var j = 0
    while (j < 64) { b1(j) += b2(j); j += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    val keys = new Array[Long](4)
    var j = 0
    while (j < 64) {
      if (buf(j) > 0) keys(j >> 4) |= 1L << (j & 15)
      j += 1
    }
    new GenericArrayData(keys)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(64 * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](64)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "simhash_bands64"

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashBands64 =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashBands64 =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SimHashBands64 =
    copy(child = newChild)
}
