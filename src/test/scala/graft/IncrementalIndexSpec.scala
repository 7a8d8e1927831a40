package graft

import graft.operators.Scale
import graft.queries.DedupExt
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves qd7's persistence claim concretely: the band-signature index
  * is a pure function of the index corpus, so a production pipeline
  * writes it ONCE, bucketed by the band join keys, and every subsequent
  * ingest joins its (small) incoming signature relation against the
  * stored table with NO index-side shuffle — the index never moves
  * again. The test pins (a) plan shape: exactly one band-key exchange,
  * on the incoming side, and (b) result equivalence with the inline
  * (recompute-everything) qd7 near-set. */
class IncrementalIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("persisted bucketed band index joins an ingest batch with no index-side shuffle") {
    val docs = Tables(spark, TestSpark.Sf, "documents")
    val sigs = DedupExt.bandSignatures(docs)
    val isInc = col("doc_id") % 10 === 7

    spark.sql("DROP TABLE IF EXISTS band_index")
    Scale.writeBucketed(sigs.filter(!isInc), "band_index", Seq("band", "key"), 8)

    def nearSet(index: org.apache.spark.sql.DataFrame): (Set[Long], String) = {
      val firstMatch = (1 until 4).map(b =>
          col("x.band") < b || col(s"x.k${b - 1}") =!= col(s"y.k${b - 1}"))
        .reduce(_ && _)
      val near = sigs.filter(isInc).as("x")
        .join(index.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key")
            && firstMatch)
        .select(col("x.doc_id").as("doc_id"),
          expr("intersect_sorted_count(x.hs, y.hs)").as("inter"),
          col("x.nt").as("na"), col("y.nt").as("nb"))
        .filter(lit(10) * col("inter") >= lit(8) * (col("na") + col("nb") - col("inter")))
        .select("doc_id").distinct()
      (near.collect().map(_.getLong(0)).toSet,
        near.queryExecution.executedPlan.toString)
    }

    // force the sort-merge path so the assertion exercises bucketing,
    // not a broadcast of the (tiny at test scale) incoming side
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (bucketed, fullPlan) = nearSet(spark.table("band_index"))
      // AQE prints Final + Initial subtrees; analyze only the final one
      val plan = fullPlan.split("== Initial Plan ==").head
      // exactly ONE exchange on the band join keys: the incoming side.
      // A second one would mean the persisted index is being reshuffled
      // per ingest — the exact cost the bucketed layout exists to avoid.
      val bandExchanges = "Exchange hashpartitioning\\(band".r.findAllIn(plan).size
      assert(bandExchanges == 1,
        s"expected 1 band-key exchange (incoming side only), got $bandExchanges:\n$plan")
      val (inline, _) = nearSet(sigs.filter(!isInc))
      assert(bucketed === inline,
        "persisted-index near set diverges from the inline recompute")
      assert(bucketed.nonEmpty, "degenerate fixture: no near verdicts")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      spark.sql("DROP TABLE IF EXISTS band_index")
    }
  }
}
