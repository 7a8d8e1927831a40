package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** First common element of two SORTED ascending BIGINT arrays, or -1
  * when the intersection is empty — the sorted-merge sibling of
  * `intersect_sorted_count` that stops at the first hit.
  *
  * The kernel behind first-shared-token candidate emission
  * (`BitmaskJaccard.prefixPairsFused`): a prefix-filter join emits one
  * row per SHARED prefix token of a pair, and keeping only the row
  * whose join key equals the pair's first common prefix rank makes the
  * join output pair-unique BY CONSTRUCTION — no distinct exchange over
  * the candidate stream at all (the same plan move as the LSH bands'
  * first-matching-band emission). O(prefix length) per row, emitted
  * inside whole-stage codegen.
  *
  * Inputs must be sorted ascending; elements are non-negative ranks,
  * so the -1 sentinel never collides (callers comparing against a real
  * rank get `false` for disjoint arrays, which is the desired drop).
  * NULL array input → NULL result; NULL ELEMENTS are skipped (the
  * function is registered globally for ad-hoc SQL, so it must be total
  * over arbitrary ARRAY<BIGINT> values — getLong on a null slot would
  * otherwise silently read 0 and report a phantom match).
  */
case class FirstCommonSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  private def ok(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"first_common_sorted expects two ARRAY<BIGINT> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = LongType
  override def prettyName: String = "first_common_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    FirstCommonSorted.merge(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.plans.FirstCommonSorted.merge($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FirstCommonSorted {
  /** Two-pointer merge over sorted long arrays; first match or -1.
    * Null slots are skipped, never read. */
  def merge(a: ArrayData, b: ArrayData): Long = {
    var i = 0; var j = 0
    val (na, nb) = (a.numElements(), b.numElements())
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) return x
        else if (x < y) i += 1
        else j += 1
      }
    }
    -1L
  }
}
