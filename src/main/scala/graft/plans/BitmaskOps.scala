package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Native bitmask kernels for the dictionary-bitmask Jaccard family
  * (guide §4: per-row hot-path work as codegen'd JVM loops, not
  * higher-order-function lambda chains).
  *
  * `popcount_and(ma, mb)` — Σ bit_count(ma[i] & mb[i]) over the common
  * prefix of two ARRAY<BIGINT> masks. Replaces
  * `aggregate(zip_with(ma, mb, (x,y) -> bit_count(x & y)), 0L, ...)`,
  * which allocates an intermediate array and evaluates two lambda chains
  * PER CANDIDATE PAIR — the single hottest per-row kernel in the
  * near-dedup verify joins (q28/qd1/qd24/qc1/qc3/TrainingData.clean).
  * Same result by construction: both forms reduce bit_count(a & b) over
  * index-aligned words (masks share one dictionary, so widths match;
  * the min-length guard only defends malformed input).
  *
  * `bitmask64(tis, wmax)` — the (wmax+1)-word bitmask with bit t set at
  * word t/64, position t%64, for every t in `tis` with 0 ≤ t/64 ≤ wmax.
  * Replaces
  * `transform(sequence(0L, wmax), w -> aggregate(filter(tis, t -> t div 64 = w), 0L, (acc, t) -> acc | shiftleft(1L, ...)))`,
  * which is O(words × nt) lambda evaluations per document (it re-scans
  * the full rank array once per output word); the native loop is one
  * allocation + one O(nt) pass. Identical output for the in-repo inputs
  * (non-negative ranks; out-of-range ranks are dropped exactly like the
  * filter's `t div 64 = w` miss).
  */
case class PopcountAnd(left: Expression, right: Expression)
    extends BinaryExpression {
  private def ok(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"popcount_and expects two ARRAY<BIGINT> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = LongType
  override def prettyName: String = "popcount_and"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    PopcountAnd.popAnd(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.PopcountAnd.popAnd($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PopcountAnd {
  def popAnd(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0; var s = 0L
    while (i < n) {
      s += java.lang.Long.bitCount(a.getLong(i) & b.getLong(i))
      i += 1
    }
    s
  }
}

case class Bitmask64(left: Expression, right: Expression)
    extends BinaryExpression {
  private def okArr(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  // a foldable wmax is checked against the array limit at analysis; a
  // column wmax fails the same check per row in build64
  override def checkInputDataTypes(): TypeCheckResult =
    if (!okArr(left.dataType) || right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bitmask64 expects (ARRAY<BIGINT>, BIGINT), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    else (if (right.foldable) right.eval() else null) match {
      case w: Long if !Bitmask64.fits(w) =>
        TypeCheckResult.TypeCheckFailure(Bitmask64.tooWide(w))
      case _ => TypeCheckResult.TypeCheckSuccess
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bitmask64"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Bitmask64.build64(a.asInstanceOf[ArrayData], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.Bitmask64.build64($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Bitmask64 {
  /** Most words one mask may hold: the largest JVM array Spark allocates. */
  private val MaxWords = ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH.toLong

  private[plans] def fits(wmax: Long): Boolean = wmax < MaxWords

  private[plans] def tooWide(wmax: Long): String =
    s"bitmask64: wmax $wmax asks for ${BigInt(wmax) + 1} words, more than " +
      s"one array holds ($MaxWords)"

  def build64(tis: ArrayData, wmax: Long): ArrayData = {
    if (!fits(wmax)) throw new IllegalArgumentException(tooWide(wmax))
    // wmax = -1 is the empty mask, and no word w >= 0 satisfies
    // w <= wmax < 0, so every negative wmax is the empty mask too
    val words = new Array[Long](math.max(wmax, -1L).toInt + 1)
    val n = tis.numElements()
    var i = 0
    while (i < n) {
      val t = tis.getLong(i)
      val w = t >> 6
      if (w >= 0 && w <= wmax) words(w.toInt) |= 1L << (t & 63)
      i += 1
    }
    new GenericArrayData(words)
  }
}
