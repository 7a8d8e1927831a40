package graft.plans

import graft.geo.FuzzyDates
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen form of the fuzzy-date parsers (SURVEY §2B's declared
  * "upgrade path" for the scalar UDFs): `fuzzy_min_ms(s)` /
  * `fuzzy_max_ms(s)` return the widest-interpretation period endpoint in
  * epoch ms, NULL for null/unparseable input (N4 semantics).
  *
  * Versus the `udf(...)` wrapper: no encoder round-trip, no Option
  * boxing, and the call participates in whole-stage codegen — this
  * parser runs once per NDJSON row on both sides of the geo pipeline,
  * so it is the per-row scalar hot path of `segments`/`housePoints`.
  */
case class FuzzyMs(child: Expression, isMin: Boolean) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  // unparseable input yields NULL even when the input is non-null
  override def nullable: Boolean = true
  override def prettyName: String = if (isMin) "fuzzy_min_ms" else "fuzzy_max_ms"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else FuzzyMs.parse(v.asInstanceOf[UTF8String], isMin)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val boxed = ctx.freshName("fuzzy")
    ev.copy(code =
      code"""${c.code}
         |boolean ${ev.isNull} = true;
         |long ${ev.value} = 0L;
         |if (!${c.isNull}) {
         |  java.lang.Long $boxed = graft.plans.FuzzyMs.parse(${c.value}, $isMin);
         |  if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.longValue(); }
         |}
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FuzzyMs {
  /** Static kernel shared by interpreted eval and codegen. */
  def parse(s: UTF8String, isMin: Boolean): java.lang.Long = {
    val str = s.toString
    val r = if (isMin) FuzzyDates.minMs(str) else FuzzyDates.maxMs(str)
    r match {
      case Some(v) => java.lang.Long.valueOf(v)
      case None => null
    }
  }
}
