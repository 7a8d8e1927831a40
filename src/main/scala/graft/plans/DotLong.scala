package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native int64 dot product over two BIGINT arrays — the hot loop of the
  * fixed-point embedding kernels (qd4/qs1/qs2 dots, norms, and centroid
  * assignment).
  *
  * The equivalent `aggregate(zip_with(a, b, (x, y) -> x*y), 0L, ...)`
  * higher-order-function form is evaluated INTERPRETED, one lambda frame
  * per element with boxed accumulators; this expression emits a tight
  * primitive loop over the two `ArrayData` values inside whole-stage
  * codegen — no per-element allocation at all.
  *
  * Semantics (the declared kernel contract, matching the oracle's
  * SUM(u.xi * v.xi) joins on equal-length arrays):
  *  - truncates to the shorter length when lengths differ;
  *  - NULL array → NULL result (null-intolerant, BinaryExpression);
  *  - NULL elements contribute 0 (the quantized arrays never carry null
  *    elements — floor() of a non-null float is non-null).
  */
case class DotLong(left: Expression, right: Expression) extends BinaryExpression {
  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_long expects two ARRAY<BIGINT> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += $a.getLong($i) * $b.getLong($i);
         |  }
         |}
         |${ev.value} = $s;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
