package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler similarity as a native codegen expression — the scoring
  * kernel of the record-linkage verb (qd13).
  *
  * Spark ships Levenshtein but no Jaro-Winkler; the usual fallback is a
  * Scala UDF (boxed, codegen-opaque, un-pushable). This is the canonical
  * Winkler variant, evaluated over the strings' UTF-8 BYTES:
  *
  *   - match window = max(|a|,|b|)/2 - 1 (floored at 0); greedy left-to-
  *     right matching, each b-byte consumed at most once;
  *   - transpositions t = half the count of matched pairs that disagree
  *     in match order;
  *   - jaro = (m/|a| + m/|b| + (m-t)/m) / 3, with the 0-match and
  *     either-side-empty cases pinned to 0.0 and byte-equal pinned to 1.0
  *     (empty==empty is 0.0, not 1.0 — the cross-engine convention);
  *   - winkler boost only when jaro > 0.7: + L·0.1·(1-jaro) for a common
  *     prefix of L ≤ 4 bytes.
  *
  * Byte-wise (not codepoint-wise) evaluation and this exact floating-point
  * operation order are deliberate: they make the score bit-identical to
  * the DuckDB oracle's `jaro_winkler_similarity` (verified exhaustively on
  * 50k random pairs), so qd13's threshold filter makes the same keep/drop
  * decision in both engines and the emitted double hash-matches.
  */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaro_winkler expects (STRING, STRING), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerSim.jw(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c1, c2) => s"graft.plans.JaroWinklerSim.jw($c1, $c2)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinklerSim {
  /** Static kernel — called from both interpreted eval and codegen. */
  def jw(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.getBytes
    val b = ub.getBytes
    val l1 = a.length
    val l2 = b.length
    if (l1 == 0 || l2 == 0) return 0.0
    if (java.util.Arrays.equals(a, b)) return 1.0

    val window = math.max((math.max(l1, l2) >> 1) - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2, i + window + 1)
      var j = lo
      var matched = false
      while (j < hi && !matched) {
        if (!m2(j) && b(j) == a(i)) {
          m1(i) = true; m2(j) = true; m += 1; matched = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0

    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    t >>= 1

    val jaro =
      (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3.0
    if (jaro > 0.7) {
      var p = 0
      val maxP = math.min(4, math.min(l1, l2))
      while (p < maxP && a(p) == b(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    } else jaro
  }
}
