package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native merge-intersection size of two SORTED arrays (ASCII/binary
  * order for strings — `sort_array`'s order): the corpus-scale exact
  * set-intersection kernel.
  *
  * Versus the dictionary-bitmask kernel (BitmaskJaccard.masks): masks
  * are O(vocabulary/64) words PER DOC and need a broadcastable global
  * dictionary; sorted token arrays are O(doc length) with NO dictionary
  * and no broadcast assumption — the verify step that still works when
  * the vocabulary is 10^9 tokens. The merge walk is emitted as a tight
  * two-pointer loop in whole-stage codegen.
  *
  * Inputs must be sorted ascending and duplicate-free for set semantics
  * (duplicates count min-multiplicity, the standard sorted-merge rule).
  * NULL array → NULL; null elements are not expected (sort_array puts
  * them first; they compare only against each other).
  */
case class IntersectSortedCount(left: Expression, right: Expression)
    extends BinaryExpression {
  /** Supported element type, ignoring containsNull (nullability differs
    * between e.g. array('x') and CAST(NULL AS ARRAY<STRING>)). */
  private def elem(t: DataType): Option[DataType] = t match {
    case ArrayType(e @ (StringType | LongType), _) => Some(e)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elem(left.dataType).isDefined
        && elem(left.dataType) == elem(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"intersect_sorted_count expects two equal ARRAY<STRING>/ARRAY<BIGINT> " +
        s"arguments, got (${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_sorted_count"

  private def isString = elem(left.dataType).contains(StringType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (isString) IntersectSortedCount.mergeStr(x, y)
    else IntersectSortedCount.mergeLong(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isString) "mergeStr" else "mergeLong"
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.plans.IntersectSortedCount.$fn($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntersectSortedCount {
  /** Two-pointer merge count over sorted UTF8String arrays. */
  def mergeStr(a: ArrayData, b: ArrayData): Long = {
    var i = 0; var j = 0; var n = 0L
    val (na, nb) = (a.numElements(), b.numElements())
    while (i < na && j < nb) {
      val x: UTF8String = a.getUTF8String(i)
      val y: UTF8String = b.getUTF8String(j)
      val c = x.compareTo(y)
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** Two-pointer merge count over sorted long arrays. */
  def mergeLong(a: ArrayData, b: ArrayData): Long = {
    var i = 0; var j = 0; var n = 0L
    val (na, nb) = (a.numElements(), b.numElements())
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
}
