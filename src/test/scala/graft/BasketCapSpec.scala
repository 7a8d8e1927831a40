package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BasketCap

/** Verdict-r8 item 7: the bipartite co-occurrence projections (q102,
  * q104) must bound per-basket pair fan-out so one hot basket can't go
  * quadratic. Pins: (a) the cap keeps exactly the N smallest parts —
  * the declarative semantics both oracles replay; (b) a hot basket far
  * above the cap is bounded while small baskets pass through verbatim;
  * (c) the cap never binds on the actual fixture (so q102/q104 results
  * are provably unchanged by the guard at test scale). */
class BasketCapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("hot basket bounded to the cap's smallest parts; small baskets untouched") {
    import spark.implicits._
    val hot = (1L to 500L).map(p => (1L, p * 10))       // 500-part basket
    val small = Seq((2L, 7L), (2L, 3L), (3L, 42L))       // 2- and 1-part
    val rel = (hot ++ small).toDF("o", "p")
    val capped = BasketCap.capParts(rel, "o", "p", cap = 64)
    val byBasket = capped.groupBy("o")
      .agg(count(lit(1)).as("n"), max("p").as("mx"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byBasket(1L) == ((64L, 640L)),
      "hot basket must keep exactly the 64 SMALLEST parts")
    assert(byBasket(2L) == ((2L, 7L)) && byBasket(3L) == ((1L, 42L)),
      "baskets under the cap must pass through verbatim")
    // the quadratic bound the guard exists for
    val pairs = capped.as("a")
      .join(capped.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.o")).agg(count(lit(1)).as("n_pairs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs(1L) == 64L * 63L / 2L, "pair fan-out must be cap-bounded")
  }

  test("cappedPairs ≡ capParts + self-join (round-14 fused build)") {
    import spark.implicits._
    // duplicates + a hot basket + singletons: cappedPairs must dedup
    // (the old pipeline ran on a distinct relation), cap to the 64
    // smallest, and emit exactly the u < v pairs of the old self-join
    val hot = (1L to 200L).flatMap(p => Seq((1L, p * 3), (1L, p * 3)))
    val rest = Seq((2L, 7L), (2L, 3L), (2L, 7L), (3L, 42L), (4L, 5L), (4L, 9L))
    val rel = (hot ++ rest).toDF("o", "p")
    val old = {
      val c = BasketCap.capParts(rel.distinct(), "o", "p")
      c.as("a").join(c.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v"))
    }
    val fused = BasketCap.cappedPairs(rel, "o", "p")
    assert(fused.exceptAll(old).isEmpty && old.exceptAll(fused).isEmpty,
      "fused pair rows must equal the window + self-join rows (with multiplicity)")
    assert(fused.count() == 64L * 63L / 2L + 1L + 1L,
      "hot basket cap-bounded, 2-part baskets emit one pair, singleton none")
  }

  test("bottom_k: k smallest distinct, sorted ascending, null-safe") {
    import spark.implicits._
    val df = Seq((1L, java.lang.Long.valueOf(5L)),
        (1L, java.lang.Long.valueOf(5L)), (1L, java.lang.Long.valueOf(-3L)),
        (1L, null.asInstanceOf[java.lang.Long]),
        (1L, java.lang.Long.valueOf(9L)), (1L, java.lang.Long.valueOf(1L)),
        (2L, java.lang.Long.valueOf(8L)))
      .toDF("g", "x")
    val out = df.groupBy("g").agg(expr("bottom_k(x, 3)").as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) == Seq(-3L, 1L, 5L), "dedup + k smallest + ascending")
    assert(out(2L) == Seq(8L))
  }

  test("the cap never binds on the fixture — q102/q104 results unchanged by the guard") {
    val b = Tables(spark, TestSpark.Sf, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val maxBasket = b.groupBy("o").agg(count(lit(1)).as("n"))
      .agg(max("n")).head().getLong(0)
    assert(maxBasket <= BasketCap.DefaultCap,
      s"fixture max basket $maxBasket exceeds the cap — q102/q104 results would change")
    assert(BasketCap.capParts(b, "o", "p").count() == b.count())
  }
}
