package graft.plans

import graft.geo.Geo
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the great-circle cross-track distance
  * (SURVEY §4.3 "optional upgrade" / §2A R10): unlike a Scala UDF, this
  * stays inside whole-stage codegen — `doGenCode` emits a direct static
  * call with primitive doubles (no boxing, no encoder round-trip), so the
  * spatial join's hot loop is one fused Java method.
  *
  * Arguments: (px, py, x1, y1, x2, y2) — point lon/lat, segment endpoint
  * lon/lats. Null-intolerant: any null input → null.
  */
case class CrosstrackM(children: Seq[Expression]) extends Expression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == 6 && children.forall(_.dataType == DoubleType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"crosstrack_m expects 6 DOUBLE arguments, got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "crosstrack_m"
  // deterministic + foldable → Catalyst's ConstantFolding evaluates
  // all-literal calls at planning time (Expression.foldable defaults to
  // false, which would block the built-in rule)
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else Geo.crosstrackM(
      vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double],
      vs(4).asInstanceOf[Double], vs(5).asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val nullCheck =
      if (nullable) evals.map(e => s"${e.isNull}").mkString(" || ") else "false"
    val args = evals.map(_.value).mkString(", ")
    val childCode = evals.map(_.code).reduce(_ + _)
    ev.copy(code =
      code"""$childCode
         |boolean ${ev.isNull} = $nullCheck;
         |double ${ev.value} = -1.0;
         |if (!${ev.isNull}) { ${ev.value} = graft.geo.Geo.crosstrackM($args); }
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}
