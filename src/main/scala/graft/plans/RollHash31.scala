package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen form of the engine's cross-engine rolling hash
  * H(s) = fold(acc·31 + codepoint) mod 1e9+7 (see DedupExt scaladoc):
  * the declarative form — `aggregate(split(s, ''), 0L, (acc, ch) ->
  * (acc*31 + ascii(ch)) % P)` — allocates one single-character string
  * per input character and runs the lambda interpreted; this expression
  * iterates the string's codepoints in a tight loop.
  *
  * Equivalence: `split(s, '')` + `ascii` folds over UTF-16 code units
  * (taking each unit's first codepoint), while this iterates true
  * codepoints — identical for all BMP text and for the engine's declared
  * ASCII token contract; the DuckDB mirror (`string_split` + `unicode`)
  * is codepoint-based like this form.
  */
case class RollHash31(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"roll_hash31 expects STRING, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "roll_hash31"
  override def foldable: Boolean = child.foldable

  override protected def nullSafeEval(input: Any): Any =
    RollHash31.roll(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.RollHash31.roll($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollHash31 {
  private val P = 1000000007L

  /** Static kernel — called from both interpreted eval and codegen. */
  def roll(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }
}
