package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst aggregate for the second-moment accumulation behind
  * PCA/whitening (qe6): over fixed-point int64 embedding arrays of
  * width 64, ONE pass accumulates n, the per-dimension sums Σxᵢ, and
  * the upper-triangle raw second moments Σxᵢxⱼ (i ≤ j) into a single
  * `Array[Long]` buffer — 1 + 64 + 2080 = 2145 counters.
  *
  * Why an imperative aggregate: the declarative alternatives either
  * self-join the exploded (vec_id, i, xi) relation (corpus × 64² join
  * rows through a shuffle — measured 4.0 s at sf0.1) or run 2080
  * separate sum() buffers (the janino-hostile wide-aggregate shape
  * SimHashBands64 documents). Here the update is a tight 2080-iteration
  * JVM loop per vector, the partial-aggregate payload is one ~17 KB
  * buffer per partition, and addition is commutative/associative so
  * merge order cannot change the result — the exact-sum guarantee the
  * decimal convention exists for, kept in int64.
  *
  * Overflow bound (documented precondition, q105's convention): the
  * counters are exact while n · max|xᵢxⱼ| < 2^63. At fixed-point scale
  * 1e7 on unit-range embeddings a product is ≤ 1e14, bounding the
  * corpus at n ≲ 9·10⁴ vectors; callers with larger corpora DECLARE a
  * coarser scale (1e5 ⟹ products ≤ 1e10 ⟹ n ≲ 9·10⁸) — the scale is
  * part of the query contract, replayed in the oracle, so the trade is
  * explicit and hash-checked. qe6 declares scale 1e7 with the
  * 5k-vector fixture three orders inside the bound.
  *
  * Output: ARRAY<BIGINT> of length 2145, layout [n, s_1..s_64,
  * m_{1,1}, m_{1,2}, .., m_{1,64}, m_{2,2}, .., m_{64,64}] (row-major
  * upper triangle). NULL arrays, arrays of length ≠ 64 and arrays
  * holding a NULL element are skipped (callers pre-filter; the guard
  * keeps the kernel total, and a NULL element is never read as 0).
  */
case class CovAccum64(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  private val D = 64
  private val Len = 1 + D + D * (D + 1) / 2

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cov_accum64 expects ARRAY<BIGINT>, got ${t.simpleString}")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](Len)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() == D && !(0 until D).exists(arr.isNullAt)) {
        val x = new Array[Long](D)
        var i = 0
        while (i < D) { x(i) = arr.getLong(i); i += 1 }
        buf(0) += 1L
        i = 0
        var k = 1 + D
        while (i < D) {
          buf(1 + i) += x(i)
          val xi = x(i)
          var j = i
          while (j < D) {
            buf(k) += xi * x(j)
            j += 1; k += 1
          }
          i += 1
        }
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < Len) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(Len * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](Len)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cov_accum64"

  override def withNewMutableAggBufferOffset(newOffset: Int): CovAccum64 =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CovAccum64 =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CovAccum64 =
    copy(child = newChild)
}
