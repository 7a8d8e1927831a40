package graft

import graft.geo.EtlFramework
import graft.plans.NativeFunctions
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** The cluster-deploy entry point (`spark.sql.extensions=
  * graft.plans.GraftExtensions`) must install every graft native
  * function and the Sessionize planner strategy on a fresh session —
  * the path a user's spark-submit takes. A session built without the
  * extension must still run graft's entry points (`SparkEntry.queries`,
  * `EtlFramework.run`), which call `NativeFunctions.ensure`. */
class ExtensionsSpec extends AnyFunSuite {

  private def withExtensionSession[A](f: SparkSession => A): A = {
    // `spark.sql.extensions` is a STATIC conf — it only takes effect on
    // the builder that creates the SparkContext, so TestSpark declares
    // it for the whole suite. newSession() builds a FRESH SessionState
    // from the same extensions object: its function registry contains
    // exactly what GraftExtensions injected and none of the functions
    // other specs' sessions registered — resolution below is therefore
    // attributable to the injection path alone.
    f(TestSpark.spark.newSession())
  }

  test("extensions session: native functions resolve in plain SQL, no register() calls") {
    withExtensionSession { s =>
      val r = s.sql(
        """SELECT roll_hash31('abc') AS h,
          |       dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d,
          |       intersect_sorted_count(array(1L, 2L, 3L), array(2L, 3L, 9L)) AS i,
          |       first_common_sorted(array(1L, 5L, 7L), array(2L, 5L, 7L)) AS fc,
          |       fuzzy_min_ms('1854') AS fmin,
          |       fuzzy_max_ms('1854') AS fmax,
          |       crosstrack_m(0.0D, 0.0D, -0.001D, 0.0D, 0.001D, 0.0D) AS ct
          |""".stripMargin).collect()(0)
      // values cross-checked against the expressions the oracle-gated
      // queries already hash-verify
      assert(r.getLong(1) === 4L * 1 + 5 * 2 + 6 * 3)
      assert(r.getLong(2) === 2L)
      assert(r.getLong(3) === 5L)
      assert(r.getLong(4) < r.getLong(5), "fuzzy year must span an interval")
      assert(math.abs(r.getDouble(6)) < 1e-6, "point on the segment has crosstrack 0")
      // the aggregate functions injected as builders resolve too
      val agg = s.sql(
        """SELECT simhash_bands64(h) AS sb, hyperplane_bands64(id, h) AS hb
          |FROM (SELECT id, roll_hash31(CAST(id AS STRING)) AS h FROM range(10))
          |""".stripMargin).collect()(0)
      assert(!agg.isNullAt(0) && !agg.isNullAt(1))
    }
  }

  test("extensions session: every NativeFunctions entry resolves, and the injected set is the table") {
    withExtensionSession { s =>
      for (e <- NativeFunctions.entries) {
        val desc = s.sql(s"DESCRIBE FUNCTION ${e.name}").collect().map(_.getString(0))
        assert(desc.contains(s"Function: ${e.name}"), desc.mkString("\n"))
      }
      val injected = s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet --
        FunctionRegistry.builtin.listFunction().map(_.funcName)
      assert(injected === NativeFunctions.entries.map(_.name).toSet)
    }
  }

  /** A fresh session with every table entry dropped: what a caller's
    * session built without the extension looks like. */
  private def strippedSession(): SparkSession = {
    val s = TestSpark.spark.newSession()
    NativeFunctions.entries.foreach(e => s.sessionState.functionRegistry.dropFunction(e.ident))
    intercept[AnalysisException](s.sql("SELECT roll_hash31('a')"))
    s
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  test("no-extension session: SparkEntry.queries ensures the natives, rows match the extension session") {
    // one native-using query per family: dedup, sketch, geo, streaming
    for (q <- Seq("qd25_winnow", "t6_theta", "g02_nearest", "s07_fpdedup")) {
      val want = canon(SparkEntry.queries(q)(TestSpark.spark.newSession(), TestSpark.Sf))
      val got = canon(SparkEntry.queries(q)(strippedSession(), TestSpark.Sf))
      graft.operators.OpCaches.releaseAll()
      assert(want.nonEmpty && got === want, q)
    }
  }

  test("no-extension session: EtlFramework.run ensures the natives, records match") {
    val fx = "src/test/resources/geo"
    val cfg = Map("streetsPath" -> s"$fx/streets.ndjson",
      "housesPath" -> s"$fx/house_numbers.ndjson")
    def records(s: SparkSession, base: String): Seq[String] = {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      EtlFramework.run(EtlFramework.addressesModule, cfg, base, EtlFramework.Tools(s))
      canon(s.read.json(s"$base/addresses/transform/records").selectExpr("cast(type as string)", "obj"))
    }
    val want = records(TestSpark.spark.newSession(), "target/ext-etl-ext")
    val got = records(strippedSession(), "target/ext-etl-stripped")
    assert(want.nonEmpty && got === want)
  }

  test("extensions session: Sessionize strategy is planner-installed") {
    withExtensionSession { s =>
      assert(s.sessionState.planner.strategies
        .contains(graft.plans.SessionizeStrategy),
        "SessionizeStrategy not injected by GraftExtensions")
    }
  }
}
