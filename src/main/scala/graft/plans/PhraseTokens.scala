package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native RAKE phrase segmentation (qt28's hot path):
  * `phrase_tokens(tk, stops)` ≡ the (pid, pos, w) rows of
  *
  *   posexplode(tk) → is_stop = array_contains(stops, w)
  *   → pid = sum(is_stop) over (partition by doc order by pos)
  *   → filter(is_stop = 0 AND w != '')
  *
  * i.e. every non-stop, non-empty token with its 0-based position and
  * the running count of stop tokens at or before it (the RAKE phrase
  * id: tokens between two stopwords share one pid).
  *
  * Why native: the declarative form shuffles and SORTS every token row
  * of the corpus through a doc-keyed window just to compute a running
  * count that is a pure function of the token array — one row-local
  * pass here, no exchange, no per-doc sort. The emitted pid is the
  * inclusive running stop count exactly as the window computed it
  * (emitted tokens are never stops, so inclusive ≡ exclusive).
  * PhraseTokensSpec pins row-set equality against the window form on
  * randomized token arrays (empty tokens, leading/trailing/repeated
  * stops).
  *
  * NULL tokens array → NULL; null elements are skipped (they are
  * neither stops nor emitted — `array_contains` and `w != ''` both
  * reject them). The stop list must be a foldable non-null array.
  */
case class PhraseTokens(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"phrase_tokens expects (ARRAY<STRING>, foldable ARRAY<STRING>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pid", LongType, nullable = false),
      StructField("pos", IntegerType, nullable = false),
      StructField("w", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "phrase_tokens"

  /** The foldable stop list as a set, built once per expression
    * instance; eval and codegen both probe it. A null list yields an
    * empty set, never probed: a null `stops` makes every result null. */
  @transient private lazy val stopSet: java.util.Set[UTF8String] =
    PhraseTokens.stopSet(right.eval().asInstanceOf[ArrayData])

  override protected def nullSafeEval(tk: Any, stops: Any): Any =
    PhraseTokens.tokens(tk.asInstanceOf[ArrayData], stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("stopSet", stopSet, "java.util.Set")
    defineCodeGen(ctx, ev,
      (t, _) => s"graft.plans.PhraseTokens.tokens($t, $set)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PhraseTokens {
  /** The non-null entries of a stop list; empty for a null list. */
  def stopSet(stops: ArrayData): java.util.Set[UTF8String] = {
    val set = new java.util.HashSet[UTF8String]()
    if (stops != null) {
      var i = 0
      while (i < stops.numElements()) {
        if (!stops.isNullAt(i)) set.add(stops.getUTF8String(i).clone())
        i += 1
      }
    }
    set
  }

  /** (pid, pos, w) for every non-stop, non-empty token; pid = running
    * stop count. */
  def tokens(tk: ArrayData, stopSet: java.util.Set[UTF8String]): ArrayData = {
    val n = tk.numElements()
    val out = new java.util.ArrayList[Any](n)
    var pid = 0L
    var i = 0
    while (i < n) {
      if (!tk.isNullAt(i)) {
        val w = tk.getUTF8String(i)
        if (stopSet.contains(w)) pid += 1L
        else if (w.numBytes() > 0)
          // clone: the UTF8String may point into a reused row buffer
          out.add(new GenericInternalRow(Array[Any](pid, i, w.clone())))
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private[plans] val ident = FunctionIdentifier("phrase_tokens")
  private[plans] val info =
    new ExpressionInfo(classOf[PhraseTokens].getName, "phrase_tokens")

  private def build(args: Seq[Expression]): Expression = {
    require(args.length == 2,
      s"phrase_tokens expects 2 arguments, got ${args.length}")
    PhraseTokens(args.head, args(1))
  }

  /** Register in a live session (idempotent). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction("phrase_tokens", build, "built-in")

  private[plans] def builder: Seq[Expression] => Expression = build
}
