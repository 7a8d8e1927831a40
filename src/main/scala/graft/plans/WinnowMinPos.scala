package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native winnowing fingerprint selection (qd25's kernel):
  * `winnow_minpos(hs, w)` ≡ the DISTINCT set of
  * `(array_min(slice(hs, st, w)),
  *    st + w − array_position(reverse(slice(hs, st, w)), array_min(...)))`
  * over every window start st ∈ [1, size(hs) − w + 1] — per window, the
  * minimum gram hash with the RIGHTMOST tie, as (h, p) pairs with p the
  * 1-based absolute position (the Schleimer/Wilkerson/Aiken winnowing
  * rule).
  *
  * Why native: the declarative form explodes one row per window start
  * and evaluates `slice` + `array_min` + `reverse` + `array_position`
  * as INTERPRETED per-row expressions — three array allocations and
  * O(w) lambda-free but interpreted scans per window — and then pays a
  * full distinct EXCHANGE to collapse the adjacent-window repeats. This
  * kernel runs one O(n) monotonic-deque sliding minimum (back-eviction
  * on `>=` keeps exactly the rightmost minimum at the front) and dedups
  * row-locally: selections of consecutive windows are equal or advance
  * (a window never re-selects an earlier position than its
  * predecessor's pick — the predecessor's minimum would contradict it),
  * so last-emitted comparison IS the distinct. Pair-set equality with
  * the declarative form is pinned by WinnowMinPosSpec on randomized
  * arrays (ties, duplicates, short inputs).
  *
  * `size(hs) < w` yields the empty array (callers guard anyway; the
  * declarative sequence() would DESCEND — the repo-wide trap). NULL
  * array → NULL; elements must be non-null (gram hashes by
  * construction).
  */
case class WinnowMinPos(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), IntegerType) if right.foldable =>
      right.eval() match {
        case w: Int if w < 1 => TypeCheckResult.TypeCheckFailure(
          s"winnow_minpos window must be >= 1, got $w")
        case _ => TypeCheckResult.TypeCheckSuccess
      }
    case _ => TypeCheckResult.TypeCheckFailure(
      s"winnow_minpos expects (ARRAY<BIGINT>, foldable INT), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h", LongType, nullable = false),
      StructField("p", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "winnow_minpos"

  override protected def nullSafeEval(hs: Any, w: Any): Any =
    WinnowMinPos.select(hs.asInstanceOf[ArrayData], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (h, w) => s"graft.plans.WinnowMinPos.select($h, $w)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object WinnowMinPos {
  /** Distinct (min-hash, rightmost 1-based position) selections of every
    * width-`w` sliding window over `hs`. */
  def select(hs: ArrayData, w: Int): ArrayData = {
    require(w >= 1, s"winnow window must be >= 1, got $w")
    val n = hs.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val v = hs.toLongArray()
    // monotonic deque of indices; values strictly increasing front to
    // back. Evicting the back on >= means an equal later value replaces
    // an earlier one — the front is always the window's RIGHTMOST min.
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    val out = new java.util.ArrayList[Any](n - w + 1)
    var lastP = -1L
    var i = 0
    while (i < n) {
      while (tail > head && v(dq(tail - 1)) >= v(i)) tail -= 1
      dq(tail) = i; tail += 1
      val st = i - w + 1 // 0-based window start
      if (st >= 0) {
        while (dq(head) < st) head += 1
        val j = dq(head) // 0-based rightmost-min index
        val p = j + 1L   // 1-based absolute position
        // adjacent windows repeat or advance; same p ⇒ same h, so the
        // last-emitted check is exactly DISTINCT over (h, p)
        if (p != lastP) {
          out.add(new GenericInternalRow(Array[Any](v(j), p)))
          lastP = p
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private[plans] val ident = FunctionIdentifier("winnow_minpos")
  private[plans] val info =
    new ExpressionInfo(classOf[WinnowMinPos].getName, "winnow_minpos")

  private def build(args: Seq[Expression]): Expression = {
    require(args.length == 2,
      s"winnow_minpos expects 2 arguments, got ${args.length}")
    WinnowMinPos(args.head, args(1))
  }

  /** Register in a live session (idempotent). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction("winnow_minpos", build, "built-in")

  private[plans] def builder: Seq[Expression] => Expression = build
}
