package graft

import graft.operators.DedupIndex
import graft.queries.DedupExt
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-6 index-lifecycle contract (VERDICT r5 item #1): the
  * dedup/ANN index is written ONCE as bucketed parquet, a session with
  * no memory of the write re-attaches to the files via DDL, and the
  * probe join reads the index with NO index-side exchange — the
  * persisted corpus never moves again, only the (small) ingest batch
  * shuffles. qd10_persistindex carries the same claim through the
  * DuckDB oracle gate; this spec pins the fresh-catalog path and the
  * plan shape at test scale. */
class PersistIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("detached catalog re-attaches via DDL; probe join has no index-side exchange") {
    val dir = "target/graft-index-spec/sf0_001"
    val docs = Tables(spark, TestSpark.Sf, "documents")
    val isInc = col("doc_id") % 10 === 7

    DedupIndex.write(docs.filter(!isInc), dir)
    // simulate a fresh session: drop every catalog entry the write
    // registered and evict all cached blocks — only the files survive,
    // exactly what a new JVM would find
    DedupIndex.detach(spark, dir)
    spark.catalog.clearCache()

    val idx = DedupIndex.load(spark, dir)
    val incFp = docs.filter(isInc)
      .select(col("doc_id"), expr("roll_hash31(text)").as("fp"))
    val incBands = DedupExt.bandSignatures(docs.filter(isInc))
    val verdicts = DedupExt.incrementalVerdicts(
      incFp, idx.fp, incBands, idx.bands)

    // force the sort-merge path so the assertions exercise bucketing,
    // not a broadcast of the (tiny at test scale) incoming side
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val got = verdicts.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val expect = DedupExt.queries("qd7_incremental")(spark, TestSpark.Sf)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got === expect,
        "persisted-index verdicts diverge from the inline qd7 recompute")
      assert(got.exists(_._2 != "new"), "degenerate fixture: all 'new'")

      // plan shape on the SAME queryExecution the collect ran (AQE
      // final plan); analyze only the final subtree
      val plan = verdicts.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // exactly ONE exchange on the band join keys (the incoming side)
      // and ONE on fp (the incoming side): a second of either means
      // the persisted index is being reshuffled per ingest — the exact
      // cost the bucketed layout exists to avoid
      val bandEx = "Exchange hashpartitioning\\(band".r.findAllIn(plan).size
      assert(bandEx == 1,
        s"expected 1 band-key exchange (incoming side only), got $bandEx:\n$plan")
      // and the index scan really is a bucketed read
      assert(plan.contains("SelectedBucketsCount"),
        s"index side not read as a bucketed table:\n$plan")
      // the fp semi-join asserted standalone: in the full verdict plan
      // AQE's empty-relation propagation can eliminate the whole exact
      // branch when the fixture has no exact dups (it did at sf0.001),
      // which would make a zero-exchange count vacuous
      val exact = incFp.join(idx.fp, Seq("fp"), "left_semi")
      exact.collect()
      val eplan = exact.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val fpEx = "Exchange hashpartitioning\\(fp".r.findAllIn(eplan).size
      assert(fpEx == 1,
        s"expected 1 fp exchange (incoming side only), got $fpEx:\n$eplan")
      assert(eplan.contains("SelectedBucketsCount"),
        s"fp index side not read as a bucketed table:\n$eplan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      DedupIndex.detach(spark, dir)
    }
  }

  test("ANN index: fresh-catalog load reproduces qs3 with no index-side exchange") {
    val dir = "target/graft-annindex-spec/sf0_001"
    val emb = Tables(spark, TestSpark.Sf, "embeddings")

    DedupIndex.writeAnn(emb, dir)
    DedupIndex.detachAnn(spark, dir)
    spark.catalog.clearCache()

    val idx = DedupIndex.loadAnn(spark, dir)
    val verdicts = DedupExt.annBatchVerdicts(idx.bands, idx.vec)
    try {
      val got = verdicts.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSeq
      graft.operators.OpCaches.releaseAll()
      val expect = DedupExt.queries("qs3_annbatch")(spark, TestSpark.Sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSeq
      assert(got === expect,
        "persisted-ANN-index probe batch diverges from the inline qs3 recompute")
      assert(got.nonEmpty, "degenerate fixture: no probe hits")

      // probe side is an explicit broadcast, so the index side of the
      // (k, key) join must carry ZERO exchanges — any exchange on the
      // band keys means the persisted corpus index is being reshuffled
      // per probe batch
      val plan = verdicts.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val bandEx = "Exchange hashpartitioning\\(k".r.findAllIn(plan).size
      assert(bandEx == 0,
        s"expected no band-key exchange (probe side broadcasts), got $bandEx:\n$plan")
      assert(plan.contains("SelectedBucketsCount"),
        s"ANN index side not read as a bucketed table:\n$plan")
    } finally {
      graft.operators.OpCaches.releaseAll()
      DedupIndex.detachAnn(spark, dir)
    }
  }

  test("ANN upsert grows the index to the monolithic relation; compaction folds fragments") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-annups").toString
    val dir = s"$tmp/index"
    val emb = Tables(spark, TestSpark.Sf, "embeddings")
    val isB = col("vec_id") % 10 === 3

    // upsert contract: base(90%) + appended batch ≡ monolithic rebuild
    DedupIndex.writeAnn(emb.filter(!isB), dir)
    DedupIndex.upsertAnn(emb.filter(isB), dir)
    try {
      val grown = DedupIndex.loadAnn(spark, dir)
      val mono = DedupExt.queries("qs3_annbatch")(spark, TestSpark.Sf)
        .collect().map(_.toSeq).toSeq
      graft.operators.OpCaches.releaseAll()
      val got = DedupExt.annBatchVerdicts(grown.bands, grown.vec)
        .collect().map(_.toSeq).toSeq
      assert(got === mono,
        "upsert-grown ANN index diverges from the inline monolithic probe")
      assert(got.nonEmpty, "degenerate fixture: no probe hits")

      // compaction: fragments shrink to ≤1 file per bucket, verdicts
      // bit-identical, probe plan still exchange-free on the index side
      def parquetFiles(p: String): Int =
        org.apache.commons.io.FileUtils
          .listFiles(new java.io.File(p), Array("parquet"), true).size()
      val fragmented = parquetFiles(s"$dir/vbands")
      val gen2 = s"$tmp/index-gen2"
      val c = DedupIndex.compactAnn(spark, dir, gen2)
      try {
        assert(parquetFiles(s"$gen2/vbands") <= DedupIndex.Buckets,
          "ANN compaction left more than one file per bucket")
        assert(parquetFiles(s"$gen2/vbands") < fragmented,
          s"ANN compaction did not reduce fragments ($fragmented)")
        val verdicts = DedupExt.annBatchVerdicts(c.bands, c.vec)
        val gotC = verdicts.collect().map(_.toSeq).toSeq
        assert(gotC === mono,
          "compacted ANN generation changed probe verdicts")
        val plan = verdicts.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        val bandEx = "Exchange hashpartitioning\\(k".r.findAllIn(plan).size
        assert(bandEx == 0,
          s"expected no band-key exchange post-compaction, got $bandEx:\n$plan")
        assert(plan.contains("SelectedBucketsCount"),
          s"compacted ANN scan lost its bucketing:\n$plan")
      } finally DedupIndex.detachAnn(spark, gen2)
    } finally {
      graft.operators.OpCaches.releaseAll()
      DedupIndex.detachAnn(spark, dir)
    }
  }

  test("bucket count is on-disk identity: conf sizes writes, mismatched attach throws") {
    // absolute path: relative locations resolve against the warehouse
    // on the write side but the process CWD on the metadata side
    val tmp = java.nio.file.Files.createTempDirectory("graft-bknob").toString
    val dir = s"$tmp/buckets-knob"
    val docs = Tables(spark, TestSpark.Sf, "documents").limit(40)

    // the deployment knob: a session conf sizes NEW indexes
    spark.conf.set(DedupIndex.BucketsConf, "4")
    try DedupIndex.write(docs, dir)
    finally spark.conf.unset(DedupIndex.BucketsConf)
    assert(DedupIndex.recordedBuckets(spark, dir) === Some(4),
      "write did not record the conf-sized bucket count")

    DedupIndex.detach(spark, dir)
    spark.catalog.clearCache()

    // attach with no explicit count resolves from the METADATA, not the
    // (now absent) conf — the DDL must declare the written layout
    val idx = DedupIndex.load(spark, dir)
    try {
      val files = org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(s"$dir/bands"), Array("parquet"), true)
      val suffixes = files.iterator()
      var maxBucket = -1
      while (suffixes.hasNext) {
        val n = suffixes.next().getName
        // bucketed file names carry _0000N bucket ids
        "_(\\d{5})\\.".r.findFirstMatchIn(n)
          .foreach(m => maxBucket = math.max(maxBucket, m.group(1).toInt))
      }
      assert(maxBucket >= 0 && maxBucket < 4,
        s"expected 4-bucket layout on disk, saw bucket id $maxBucket")
      assert(idx.bands.count() > 0)

      // a contradicting explicit count must fail LOUDLY — a silently
      // wrong CLUSTERED BY would give wrong (not slow) probe joins
      val e = intercept[IllegalArgumentException] {
        DedupIndex.load(spark, dir, buckets = 8)
      }
      assert(e.getMessage.contains("4 buckets") ||
        e.getMessage.contains("written with 4"),
        s"mismatch error does not name the recorded count: ${e.getMessage}")

      // same contract on the upsert path (ANN variant shares the code)
      val e2 = intercept[IllegalArgumentException] {
        DedupIndex.load(spark, dir, buckets = 16)
      }
      assert(e2.getMessage.contains("identity"))
    } finally DedupIndex.detach(spark, dir)
  }

  test("legacy index (no metadata) attaches at the compiled constant, never the conf") {
    // the round-11 advisor finding: a pre-metadata index was physically
    // written with DedupIndex.Buckets; resolving a metadata-less attach
    // from graft.index.buckets would declare a wrong CLUSTERED BY and
    // return silently wrong shuffle-free probe joins
    val tmp = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    val dir = s"$tmp/legacy-idx"
    val docs = Tables(spark, TestSpark.Sf, "documents").limit(40)
    DedupIndex.write(docs, dir) // default = Buckets (8)
    DedupIndex.detach(spark, dir)
    spark.catalog.clearCache()
    // simulate a legacy index: remove the metadata record
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "_graft_index_meta.json"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "._graft_index_meta.json.crc"))
    assert(DedupIndex.recordedBuckets(spark, dir).isEmpty)
    // a live session conf must NOT leak into the attach
    spark.conf.set(DedupIndex.BucketsConf, "16")
    try {
      val idx = DedupIndex.load(spark, dir)
      assert(idx.bands.count() > 0)
      val ddl = spark.sql(
        s"SHOW CREATE TABLE ${DedupIndex.bandsTable(dir)}")
        .collect().head.getString(0)
      assert(ddl.contains(s"INTO ${DedupIndex.Buckets} BUCKETS"),
        s"legacy attach declared a conf-derived bucket count:\n$ddl")
    } finally {
      spark.conf.unset(DedupIndex.BucketsConf)
      DedupIndex.detach(spark, dir)
    }
  }
}
