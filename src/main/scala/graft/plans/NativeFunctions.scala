package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.{AnalysisException, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.IntegerType

/** The one table of graft's native SQL functions: name, argument count
  * and builder. [[GraftExtensions]] injects every entry into each
  * session of a cluster started with
  * `spark.sql.extensions=graft.plans.GraftExtensions`; [[ensure]]
  * registers the entries a session built without the extension lacks.
  * A new kernel is one line here — no call site registers anything.
  *
  * The builder wrapper checks the argument count, so a wrong count is an
  * `AnalysisException` naming the function (`WRONG_NUM_ARGS`), raised
  * while the query is analysed and before any job runs. */
object NativeFunctions {
  final case class Entry(name: String, arity: Int, className: String,
                         build: Seq[Expression] => Expression) {
    val ident: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(className, name)
    val builder: Seq[Expression] => Expression = args =>
      if (args.length == arity) build(args)
      else throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$name`", "expectedNum" -> arity.toString,
        "actualNum" -> args.length.toString, "docroot" -> SPARK_DOC_ROOT))
  }

  private def fn[E <: Expression](name: String, arity: Int)(
      build: Seq[Expression] => E)(implicit ct: ClassTag[E]): Entry =
    Entry(name, arity, ct.runtimeClass.getName, build)

  val entries: Seq[Entry] = Seq(
    fn("crosstrack_m", 6)(CrosstrackM(_)),
    fn("fuzzy_min_ms", 1)(a => FuzzyMs(a(0), isMin = true)),
    fn("fuzzy_max_ms", 1)(a => FuzzyMs(a(0), isMin = false)),
    fn("morton2", 2)(a => Morton2(a(0), a(1))),
    // dot_long reads a NULL element as 0 by contract: the oracle's
    // SUM(u.xi * v.xi) join skips a NULL product the same way
    fn("dot_long", 2)(a => DotLong(a(0), a(1))),
    fn("roll_hash31", 1)(a => RollHash31(a(0))),
    fn("shingle_set_hash31", 2)(a => ShingleSetHash31(a(0), a(1))),
    fn("winnow_minpos", 2)(a => WinnowMinPos(a(0), a(1))),
    fn("phrase_tokens", 2)(a => PhraseTokens(a(0), a(1))),
    fn("intersect_sorted_count", 2)(a => IntersectSortedCount(a(0), a(1))),
    fn("first_common_sorted", 2)(a => FirstCommonSorted(a(0), a(1))),
    fn("popcount_and", 2)(a => PopcountAnd(a(0), a(1))),
    fn("bitmask64", 2)(a => Bitmask64(a(0), a(1))),
    fn("jaro_winkler", 2)(a => JaroWinklerSim(a(0), a(1))),
    fn("simhash_bands64", 1)(a => SimHashBands64(a(0))),
    fn("hyperplane_bands64", 2)(a => HyperplaneBands64(a(0), a(1))),
    fn("cov_accum64", 1)(a => CovAccum64(a(0))),
    fn("hist_bins600", 1)(a => HistBins600(a(0))),
    fn("cms4x256", 1)(a => CmsSketch4x256(a(0))),
    fn("bottom_k", 2)(a => BottomK(a(0), foldableInt("bottom_k", "k", a))))

  /** Register every entry `spark`'s function registry lacks: one lookup
    * per entry, no job. Idempotent, so any entry point that may be handed
    * a session built without [[GraftExtensions]] calls it first. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    entries.foreach { e =>
      if (!registry.functionExists(e.ident))
        registry.registerFunction(e.ident, e.info, e.builder)
    }
  }

  /** The value of a call's last argument `param`, which must be a
    * foldable, non-null INT (`bottom_k`'s k). */
  private def foldableInt(name: String, param: String, args: Seq[Expression]): Int = {
    val e = args.last
    val v = if (e.foldable && e.dataType == IntegerType) e.eval() else null
    if (v == null) throw new AnalysisException(
      "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT", Map(
        "sqlExpr" -> s"\"$name(${args.map(_.sql).mkString(", ")})\"",
        "inputName" -> s"`$param`", "inputType" -> "\"INT\"",
        "inputExpr" -> s"\"${e.sql}\""))
    v.asInstanceOf[Int]
  }
}

/** `SparkSessionExtensions` entry point: set
  * `spark.sql.extensions=graft.plans.GraftExtensions` and every
  * [[NativeFunctions]] entry resolves in plain SQL, and the graft planner
  * strategy and optimizer rules are installed, on every session of the
  * cluster. (ExtensionsSpec drives a fresh session through this path.) */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => SessionizeStrategy)
    ext.injectOptimizerRule(_ => BinnedRangeJoinRule)
    ext.injectOptimizerRule(_ => MatViewRewrite)
    ext.injectOptimizerRule(_ => JaroWinklerPrefilter)
    ext.injectOptimizerRule(_ => SaltedTopKRule)
    ext.injectOptimizerRule(_ => FkJoinElimRule)
    NativeFunctions.entries.foreach(e =>
      ext.injectFunction((e.ident, e.info, e.builder)))
  }
}
