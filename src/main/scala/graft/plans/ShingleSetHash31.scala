package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Native sorted-distinct w-token shingle fingerprint set:
  * `shingle_set_hash31(tokens, w)` ≡
  * `array_sort(array_distinct(IF(size(tk) >= w,
  *    transform(sequence(1, size(tk)-w+1),
  *      k -> roll_hash31(array_join(slice(tk, k, w), ' '))), array())))`
  * — the per-document candidate-generation input of the containment /
  * Jaccard near-dedup family (qd15's shape).
  *
  * Why native: the declarative form runs the lambda INTERPRETED per
  * window (HOFs never enter whole-stage codegen) and allocates a slice
  * array + a joined string per position, then rehashes every character
  * w times (each char sits in w windows). This kernel hashes each
  * token's characters ONCE — H and 31^len per token — and composes
  * window hashes by the polynomial identity
  * H(x ++ y) = H(x)·31^len(y) + H(y) (mod P), so total char work is
  * O(doc length), window work O(1) per window, and one JVM sort+dedup
  * replaces the Catalyst array_distinct/array_sort pair.
  *
  * Null elements compose exactly like array_join's skip-null rule
  * (absent token, no separator). NULL tokens array → NULL. The hash
  * values are bit-identical to roll_hash31 of the joined string, so the
  * DuckDB oracle replay (string_split + list_reduce mirror) is
  * unchanged. Codepoint iteration matches RollHash31 (BMP/ASCII
  * contract documented there).
  */
case class ShingleSetHash31(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), IntegerType) if right.foldable =>
      right.eval() match {
        case w: Int if w < 1 => TypeCheckResult.TypeCheckFailure(
          s"shingle_set_hash31 width must be >= 1, got $w")
        case _ => TypeCheckResult.TypeCheckSuccess
      }
    case _ => TypeCheckResult.TypeCheckFailure(
      s"shingle_set_hash31 expects (ARRAY<STRING>, foldable INT), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_set_hash31"

  override protected def nullSafeEval(toks: Any, w: Any): Any =
    ShingleSetHash31.shingles(toks.asInstanceOf[ArrayData], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, w) => s"graft.plans.ShingleSetHash31.shingles($t, $w)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ShingleSetHash31 {
  private val P = 1000000007L

  /** Sorted distinct rolling hashes of every w-token window. */
  def shingles(toks: ArrayData, w: Int): ArrayData = {
    require(w >= 1, s"shingle width must be >= 1, got $w")
    val n = toks.numElements()
    if (n < w) return new GenericArrayData(Array.emptyLongArray)
    // per token: H(t), 31^codepoints(t) mod P; null tokens marked
    val h = new Array[Long](n)
    val pow = new Array[Long](n)
    val isNull = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) { isNull(i) = true }
      else {
        val str = toks.getUTF8String(i).toString
        var acc = 0L; var p = 1L; var j = 0
        val len = str.length
        while (j < len) {
          val cp = str.codePointAt(j)
          acc = (acc * 31 + cp) % P
          p = (p * 31) % P
          j += Character.charCount(cp)
        }
        h(i) = acc; pow(i) = p
      }
      i += 1
    }
    val out = new Array[Long](n - w + 1)
    var k = 0
    while (k <= n - w) {
      // fold the window left-to-right via H(x ++ ' ' ++ t) =
      // H(x)·(31·31^len(t)) + (32·31^len(t) + H(t)), skipping nulls
      // exactly like array_join (no separator for an absent token)
      var acc = 0L
      var first = true
      var j = k
      while (j < k + w) {
        if (!isNull(j)) {
          if (first) { acc = h(j); first = false }
          else acc = (acc * ((31L * pow(j)) % P) + (32L * pow(j) + h(j)) % P) % P
        }
        j += 1
      }
      out(k) = acc
      k += 1
    }
    java.util.Arrays.sort(out)
    // in-place dedup of the sorted window hashes
    var m = 0
    var r = 0
    while (r < out.length) {
      if (r == 0 || out(r) != out(m - 1)) { out(m) = out(r); m += 1 }
      r += 1
    }
    new GenericArrayData(if (m == out.length) out else java.util.Arrays.copyOf(out, m))
  }

  private[plans] val ident = FunctionIdentifier("shingle_set_hash31")
  private[plans] val info =
    new ExpressionInfo(classOf[ShingleSetHash31].getName, "shingle_set_hash31")

  private def build(args: Seq[Expression]): Expression = {
    require(args.length == 2,
      s"shingle_set_hash31 expects 2 arguments, got ${args.length}")
    ShingleSetHash31(args.head, args(1))
  }

  /** Register in a live session (idempotent). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction("shingle_set_hash31", build, "built-in")

  private[plans] def builder: Seq[Expression] => Expression = build
}
