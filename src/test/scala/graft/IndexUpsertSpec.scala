package graft

import graft.operators.DedupIndex
import graft.queries.{StreamingQueries, Streams}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-6 streaming index-upsert contract (VERDICT r5 item #4):
  * the foreachBatch ingest maintains the persisted bucketed index —
  * batch N+1 dedups against batch N's accepted docs — and a
  * checkpointed RESTART between the two batches neither reprocesses
  * batch A nor loses the index growth. Equivalence oracle: the s12
  * batch replay (itself DuckDB-hash-checked). */
class IndexUpsertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("s12 streamed two-batch upsert == sequential replay, across a checkpointed restart") {
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
    val isA = col("doc_id") % 10 === 3
    val isB = col("doc_id") % 10 === 7
    val tmp = java.nio.file.Files.createTempDirectory("graft-s12").toString
    val (idxDir, inDir, cp, res) =
      (s"$tmp/index", s"$tmp/in", s"$tmp/cp", s"$tmp/res")

    DedupIndex.write(docs.filter(!isA && !isB), idxDir)
    try {
      // run 1: only batch A staged — one micro-batch
      docs.filter(isA).coalesce(1).write.parquet(inDir)
      Streams.s12(spark, idxDir, inDir, cp, res)
      // RESTART: stage batch B, re-run with the same checkpoint — the
      // already-processed file must be skipped (exactly-once), and the
      // index must already hold batch A's accepted docs
      docs.filter(isB).coalesce(1).write.mode("append").parquet(inDir)
      Streams.s12(spark, idxDir, inDir, cp, res)

      val got = spark.read.parquet(res)
        .select("doc_id", "verdict", "batch").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val expect = StreamingQueries.queries("s12_indexupsert")(spark, TestSpark.Sf)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(got === expect,
        "streamed index-upsert verdicts diverge from the sequential batch replay")
      // exactly-once: every staged doc exactly one verdict row
      assert(got.map(_._1).distinct.size === got.size, "duplicate verdicts")
      assert(got.size === docs.filter(isA || isB).count())
      // the upsert really grew the index: batch B must contain at least
      // one verdict caused by an accepted batch-A doc (the replay agrees,
      // so only guard the fixture is non-degenerate: some non-'new' in B)
      assert(got.exists { case (_, v, b) => b == 2L && v != "new" },
        "degenerate fixture: batch B saw nothing in the grown index")
      // BOTH index relations grew by the accepted docs (round-7 fixed
      // bug: the fp append silently wrote zero rows because `accepted`
      // recomputed against the just-mutated bands table after its
      // refresh invalidated the cached verdict plan — pin the fp SET
      // growth, not just band growth)
      val nAccepted = got.count(_._2 == "new")
      val idxNow = DedupIndex.load(spark, idxDir)
      assert(idxNow.fp.count() == docs.filter(!isA && !isB)
        .select("text").distinct().count() + nAccepted,
        "fp set did not grow by the accepted docs")

      // COMPACTION: two upserts have fragmented every bucket; a new
      // generation must (1) shrink to one file per bucket, (2) produce
      // bit-identical probe verdicts, (3) keep the no-index-side-
      // exchange probe plan (same bucketed layout).
      def parquetFiles(p: String): Int =
        org.apache.commons.io.FileUtils
          .listFiles(new java.io.File(p), Array("parquet"), true).size()
      val fragmented = parquetFiles(s"$idxDir/bands")
      val gen2 = s"$tmp/index-gen2"
      val c = DedupIndex.compact(spark, idxDir, gen2)
      try {
        assert(parquetFiles(s"$gen2/bands") <= DedupIndex.Buckets,
          "compaction left more than one file per bucket")
        assert(parquetFiles(s"$gen2/bands") < fragmented,
          s"compaction did not reduce fragments ($fragmented)")
        val probe = docs.filter(col("doc_id") % 10 === 1)
        def verdicts(h: DedupIndex.Handles) = {
          val fp = probe.select(col("doc_id"), expr("roll_hash31(text)").as("fp"))
          graft.queries.DedupExt.incrementalVerdicts(
              fp, h.fp, graft.queries.DedupExt.bandSignatures(probe), h.bands)
            .orderBy("doc_id").collect().map(_.toSeq).toSeq
        }
        val old = verdicts(DedupIndex.load(spark, idxDir))
        graft.operators.OpCaches.releaseAll()
        assert(verdicts(c) === old,
          "compacted generation changed probe verdicts")
        // plan: the compacted generation still probes with NO index-side
        // exchange (PersistIndexSpec's pin, re-asserted post-compaction):
        // force the SMJ path and count exactly ONE band-key exchange —
        // the incoming side — while the index side scans Bucketed: true
        val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val fp = probe.select(col("doc_id"), expr("roll_hash31(text)").as("fp"))
          val v = graft.queries.DedupExt.incrementalVerdicts(
            fp, c.fp, graft.queries.DedupExt.bandSignatures(probe), c.bands)
          v.collect()
          // post-collect the AQE plan string carries BOTH the final and
          // the initial plan — count exchanges in the final section only
          val p = v.queryExecution.executedPlan.toString
            .split("== Initial Plan ==").head
          val bandEx = "Exchange hashpartitioning\\(band".r.findAllIn(p).size
          assert(bandEx === 1,
            s"expected 1 band-key exchange (incoming side only), got $bandEx:\n$p")
          assert(p.contains("Bucketed: true"),
            s"compacted scan lost its bucketing:\n$p")
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      } finally DedupIndex.detach(spark, gen2)
    } finally {
      DedupIndex.detach(spark, idxDir)
      graft.operators.OpCaches.releaseAll()
    }
  }
}
