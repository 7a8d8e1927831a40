package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst COUNT-MIN SKETCH aggregate (t5): one
  * `TypedImperativeAggregate` whose buffer is the 4×256 counter matrix
  * (flattened row-major, 1024 longs) — the frequency member of the
  * mergeable-summary family next to t1/t3's HLL (distinct counts) and
  * t4's HistBins600 (value distribution). Cormode–Muthukrishnan's
  * point-query guarantee: est(key) = min_j row_j[h_j(key)] ≥ true
  * count always (counters only ever add), with overestimate bounded by
  * the collision mass of a 256-cell row.
  *
  * Contract: input is the corpus's shared rolling hash h ∈ [0, P)
  * (P = 1e9+7 — the cross-engine `roll_hash31` convention, so the
  * sketch is replayable in SQL); row j uses the qd1 parameter family
  * a_j = 1000003·j + 12345, b_j = 777767·j + 13, and
  * cell_j = ((a_j·h + b_j) mod P) mod 256. All arithmetic stays in
  * int64 (a_j·h < 2^52). Merge is elementwise addition —
  * commutative/associative, so partial aggregation, shuffle merge
  * order, and group→global rollups cannot change any counter.
  *
  * Why this shape: a per-(group, shard) sketch row is the persistable
  * summary a 100 TB token-frequency pipeline stores; any coarser
  * rollup is elementwise addition of 1024-long arrays — never a second
  * pass over raw data — and a point estimate is 4 array reads. One
  * buffer + O(4) per row beats 1024 declarative sum(when) columns (the
  * SimHashBands64 codegen-size lesson). */
case class CmsSketch4x256(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  import CmsSketch4x256._

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cms4x256 expects BIGINT, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](N)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var j = 0
      while (j < Depth) {
        buf(j * Width + cell(j, h)) += 1L
        j += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < N) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(N * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](N)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cms4x256"

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch4x256 =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch4x256 =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsSketch4x256 =
    copy(child = newChild)
}

object CmsSketch4x256 {
  val Depth = 4
  val Width = 256
  val N: Int = Depth * Width
  val P = 1000000007L

  /** cell_j(h) = ((a_j·hh + b_j) mod P) mod 256 with hh = h pmod P —
    * the qd1 parameter family. The input is reduced into [0, P) FIRST
    * (the SimHashBands64 out-of-domain lesson): the SQL function is
    * registered globally, so arbitrary BIGINTs can reach it, and
    * without the pmod a negative h would yield a negative cell (array
    * underflow) while a huge h would overflow a_j·h past int64. After
    * the reduction a_j·hh < 2^52 — exact. Inputs congruent mod P are
    * indistinguishable by construction. */
  def cell(j: Int, h: Long): Int = {
    val hh = ((h % P) + P) % P
    ((((1000003L * j + 12345L) * hh + (777767L * j + 13L)) % P) % Width).toInt
  }
}
