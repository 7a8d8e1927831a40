package graft

import graft.plans.JaroWinklerSim
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class JaroWinklerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Independent reference implementation (codepoint-agnostic: ASCII
    * inputs only in the property test, where bytes == chars). */
  private def refJw(s1: String, s2: String): Double = {
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    if (s1 == s2) return 1.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1); val m2 = new Array[Boolean](l2)
    var m = 0
    for (i <- 0 until l1) {
      val lo = math.max(0, i - window); val hi = math.min(l2, i + window + 1)
      var j = lo
      var done = false
      while (j < hi && !done) {
        if (!m2(j) && s2(j) == s1(i)) { m1(i) = true; m2(j) = true; m += 1; done = true }
        j += 1
      }
    }
    if (m == 0) return 0.0
    var t = 0; var k = 0
    for (i <- 0 until l1) if (m1(i)) {
      while (!m2(k)) k += 1
      if (s1(i) != s2(k)) t += 1
      k += 1
    }
    t /= 2
    val j = (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3.0
    if (j > 0.7) {
      var p = 0
      while (p < math.min(4, math.min(l1, l2)) && s1(p) == s2(p)) p += 1
      j + p * 0.1 * (1.0 - j)
    } else j
  }

  test("known textbook values") {
    def jw(a: String, b: String): Double =
      JaroWinklerSim.jw(UTF8String.fromString(a), UTF8String.fromString(b))
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.84) < 1e-15)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    assert(jw("same", "same") === 1.0)
    assert(jw("", "") === 0.0)   // cross-engine convention: empty -> 0
    assert(jw("a", "") === 0.0)
    assert(jw("abc", "xyz") === 0.0) // no matches
  }

  test("kernel == independent reference on 5k random ASCII pairs") {
    val rnd = new scala.util.Random(31)
    val alpha = "abcdefghij 0123-_."
    def word() = Seq.fill(rnd.nextInt(30))(alpha(rnd.nextInt(alpha.length))).mkString
    for (_ <- 1 to 5000) {
      val a = word(); val b = word()
      val native = JaroWinklerSim.jw(UTF8String.fromString(a), UTF8String.fromString(b))
      assert(native === refJw(a, b), s"mismatch on (${a}, ${b})")
    }
  }

  test("null propagation and codegen participation") {
    val r = spark.sql(
      "SELECT jaro_winkler(CAST(NULL AS STRING), 'x') AS n, " +
        "jaro_winkler('crate', 'trace') AS v").collect()(0)
    assert(r.isNullAt(0))
    assert(r.getDouble(1) > 0.7)
    val plan = spark.range(100)
      .selectExpr("CAST(id AS STRING) AS a", "CAST(id + 1 AS STRING) AS b")
      .selectExpr("jaro_winkler(a, b)")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [jaro_winkler("), s"no codegen span in:\n$plan")
  }

  test("resolves through the extensions path (no register call)") {
    val fresh = spark.newSession()
    val r = fresh.sql("SELECT jaro_winkler('martha', 'marhta') AS s").collect()(0)
    assert(math.abs(r.getDouble(0) - 0.9611111111111111) < 1e-15)
  }

  test("prefilter bound is sound: jw >= tau implies the length ratio bound") {
    // the derivation JaroWinklerPrefilter injects: jw >= τ (τ > 0.8)
    // ⟹ min_len ≥ (5τ−4)·max_len. Verify on random pairs for several
    // thresholds — no qualifying pair may violate the bound.
    val rnd = new scala.util.Random(41)
    val alpha = "abcdef "
    def word(max: Int) =
      Seq.fill(1 + rnd.nextInt(max))(alpha(rnd.nextInt(alpha.length))).mkString
    for (_ <- 1 to 20000; tau <- Seq(0.85, 0.9, 0.95)) {
      val a = word(30); val b = word(30)
      val jw = JaroWinklerSim.jw(UTF8String.fromString(a), UTF8String.fromString(b))
      if (jw >= tau) {
        val (lo, hi) = (math.min(a.length, b.length), math.max(a.length, b.length))
        assert(lo >= (5.0 * tau - 4.0 - 1e-9) * hi,
          s"bound violated: jw=$jw tau=$tau for (${a}, ${b})")
      }
    }
  }

  test("optimizer injects octet_length bounds into qd14's plan; idempotent; lossless") {
    val df = SparkEntry.queries("qd14_jwdocs")(spark, TestSpark.Sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("octet_length"),
      s"no injected length prefilter in optimized plan:\n$opt")
    // idempotency: the fixed-point batch ran the rule to stability —
    // exactly 4 bound comparisons (2 per jw conjunct side), not a
    // re-added pile
    val n = "octet_length\\(".r.findAllIn(opt).length
    assert(n <= 8, s"rule not idempotent — $n octet_length occurrences:\n$opt")
    // losslessness: same rows with the rule excluded
    val plain = spark.newSession()
    plain.conf.set("spark.sql.optimizer.excludedRules",
      "graft.plans.JaroWinklerPrefilter")
    val without = SparkEntry.queries("qd14_jwdocs")(plain, TestSpark.Sf)
      .collect().toSeq
    assert(df.collect().toSeq == without,
      "prefilter changed the result set")
  }
}
