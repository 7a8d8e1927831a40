package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural pins for the round-9 retrieval/dedup additions:
  *
  *  - qd18 sorted-neighborhood: the window-lead candidate emission must
  *    equal the textbook rank-self-join formulation (the oracle's form)
  *    row for row — pinning that the join-free plan IS blocked SNM —
  *    and every pair must be within the declared window distance.
  *  - qs15 MMR: the greedy-selection invariants (ranks 1..4 distinct,
  *    rank 1 = relevance argmax, scores non-increasing — each step's
  *    winner was available a step earlier with a no-larger penalty).
  */
class SnmMmrSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Sf = TestSpark.Sf

  test("qd18 lead-based candidates == rank-self-join SNM formulation") {
    val p = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 32).as("sp"),
        substring(translate(lower(col("text")), "aeiou ", ""), 1, 12)
          .as("skey"))
      .withColumn("blk", substring(col("skey"), 1, 2))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("blk"))
      .orderBy(col("skey"), col("doc_id"))
    val r = p.withColumn("rn", row_number().over(w))
    val a = r.select(col("lang"), col("blk"), col("rn").as("rna"),
      col("doc_id").as("ia"), col("sp").as("sa"))
    val b = r.select(col("lang"), col("blk"), col("rn").as("rnb"),
      col("doc_id").as("ib"), col("sp").as("sb"))
    val joined = a.join(b, Seq("lang", "blk"))
      .filter(col("rnb") > col("rna") && col("rnb") <= col("rna") + 3)
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"),
        expr("jaro_winkler(sa, sb)").as("jw"))
      .filter(col("jw") >= 0.82)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      .toSet
    val lead = SparkEntry.queries("qd18_sortedneighborhood")(spark, Sf)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      .toSet
    assert(lead === joined)
    assert(lead.nonEmpty)
  }

  test("qs15 MMR greedy invariants: distinct picks, argmax start, non-increasing scores") {
    val rows = SparkEntry.queries("qs15_mmr")(spark, Sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    val ids = rows.map(_.getLong(1))
    assert(ids.distinct.length === 4)
    val scores = rows.map(_.getDouble(2))
    scores.sliding(2).foreach { case Array(x, y) =>
      assert(x >= y, s"MMR scores must be non-increasing: $x then $y")
    }
    // rank 1 is the plain relevance argmax: mmr_1 = 0.7 * max rel, so
    // every later score is bounded by it (checked above) AND the pick
    // must also appear in the top of the relevance-only order — pinned
    // indirectly by the oracle hash; here we pin the structural bound
    assert(scores.head === scores.max)
  }
}
