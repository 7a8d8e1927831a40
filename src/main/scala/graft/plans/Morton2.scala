package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native codegen Morton (Z-order) interleave of two 21-bit
  * coordinates — the hot-path form of `operators/Scale.zorder2`. The
  * declarative HOF spelling (`aggregate(sequence(0, 20), ...)`)
  * materializes a 21-element array and runs its lambda interpreted per
  * element (~42 boxed ops/row); this expression spreads each
  * coordinate's bits with five mask-shift rounds (the classic
  * bit-twiddling ladder) in straight-line codegen'd long arithmetic.
  * Semantics are EXACTLY `Scale.mortonKey`/`zorder2` — inputs masked
  * to their low 21 bits, x on even positions, y on odd — and
  * `ScaleSpec` pins three-way agreement.
  */
case class Morton2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"morton2 expects (BIGINT, BIGINT), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = LongType
  override def prettyName: String = "morton2"
  override def foldable: Boolean = left.foldable && right.foldable

  override protected def nullSafeEval(x: Any, y: Any): Any =
    Morton2.interleave(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.plans.Morton2.interleave($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Morton2 {
  /** Spread the low 21 bits of v onto the even bit positions 0,2,..,40
    * (five mask-shift rounds — no loop, no allocation). */
  def spread(v: Long): Long = {
    var x = v & 0x1FFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Static kernel — called from both interpreted eval and codegen. */
  def interleave(x: Long, y: Long): Long =
    spread(x) | (spread(y) << 1)
}
