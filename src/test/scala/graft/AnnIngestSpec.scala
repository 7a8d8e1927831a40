package graft

import graft.operators.DedupIndex
import graft.queries.{DedupExt, StreamingQueries, Streams}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming ANN ingest contract (round 6, s12's vector twin): a
  * foreachBatch sink gates each micro-batch of embeddings against the
  * PERSISTED bucketed ANN index and upserts the accepted vectors, so
  * batch N+1 dedups against batch N's acceptances. Equivalence oracle:
  * the s15 batch replay (itself DuckDB-hash-checked). The corpus
  * fixture has no cross-batch near-dup above the 0.4 threshold, so the
  * growth path is pinned separately with a PLANTED duplicate (an exact
  * copy of an accepted batch-1 vector must come back 'dup' in
  * batch 2 — cosine exactly 1.0, provable only via the upsert). */
class AnnIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("s15 streamed two-batch vector ingest == sequential replay, across a checkpointed restart") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val isA = col("vec_id") % 10 === 3
    val isB = col("vec_id") % 10 === 7
    val tmp = java.nio.file.Files.createTempDirectory("graft-s15").toString
    val (idxDir, inDir, cp, res) =
      (s"$tmp/index", s"$tmp/in", s"$tmp/cp", s"$tmp/res")

    DedupIndex.writeAnn(emb.filter(!isA && !isB), idxDir)
    try {
      // run 1: only batch A staged — one micro-batch
      emb.filter(isA).coalesce(1).write.parquet(inDir)
      Streams.s15(spark, idxDir, inDir, cp, res)
      // RESTART: stage batch B, re-run with the same checkpoint — the
      // processed file must be skipped and the index must already hold
      // batch A's accepted vectors
      emb.filter(isB).coalesce(1).write.mode("append").parquet(inDir)
      Streams.s15(spark, idxDir, inDir, cp, res)

      val got = spark.read.parquet(res)
        .select("vec_id", "verdict", "batch").orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val expect = DedupExt.queries("s15_anningest")(spark, TestSpark.Sf)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      graft.operators.OpCaches.releaseAll()
      assert(got === expect,
        "streamed ANN ingest verdicts diverge from the sequential batch replay")
      assert(got.map(_._1).distinct.size === got.size, "duplicate verdicts")
      assert(got.size === emb.filter(isA || isB).count())
    } finally {
      DedupIndex.detachAnn(spark, idxDir)
      graft.operators.OpCaches.releaseAll()
    }
  }

  test("s15 upsert really grows the index: a planted copy of an accepted vector comes back dup") {
    val emb = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft-s15p").toString
    val (idxDir, inDir, cp, res) =
      (s"$tmp/index", s"$tmp/in", s"$tmp/cp", s"$tmp/res")

    DedupIndex.writeAnn(emb.filter(col("vec_id") < 10), idxDir)
    try {
      // batch 1: one corpus vector far from the base index
      val probe = emb.filter(col("vec_id") === 20)
      probe.coalesce(1).write.parquet(inDir)
      Streams.s15(spark, idxDir, inDir, cp, res)
      val v1 = spark.read.parquet(res).filter(col("batch") === 1)
        .select("vec_id", "verdict").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(v1 === Seq((20L, "new")),
        s"fixture degenerate: vector 20 not accepted against base index: $v1")

      // batch 2: an EXACT copy under a new id — cosine 1.0 against the
      // upserted vector; 'dup' is only reachable through the growth
      probe.select(lit(9020L).as("vec_id"), col("embedding"), col("label"))
        .coalesce(1).write.mode("append").parquet(inDir)
      Streams.s15(spark, idxDir, inDir, cp, res)
      val v2 = spark.read.parquet(res).filter(col("batch") === 2)
        .select("vec_id", "verdict").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(v2 === Seq((9020L, "dup")),
        s"planted duplicate not caught by the grown index: $v2")
    } finally {
      DedupIndex.detachAnn(spark, idxDir)
      graft.operators.OpCaches.releaseAll()
    }
  }
}
