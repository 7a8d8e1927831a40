package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SnapTable
import graft.queries.Streams

/** S16 snapshot-table streaming sink: one atomic commit per micro-batch,
  * checkpointed restart skips processed files, and the batchId guard
  * makes a re-delivered batch a no-op (exactly-once into the table). */
class SnapSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streamed commits == batch replay across a checkpointed restart; replays skipped") {
    val e = Tables(spark, TestSpark.Sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-s16").toString
    val (tableDir, inDir, cp) = (s"$tmp/table", s"$tmp/in", s"$tmp/cp")

    // run 1: only half A staged — one micro-batch, one commit
    e.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(inDir)
    Streams.s16(spark, tableDir, inDir, cp)
    assert(SnapTable.latestVersion(spark, tableDir) == 1)
    // table is readable mid-stream at the committed version
    assert(SnapTable.read(spark, tableDir).count() ==
      e.filter(col("event_id") % 2 === 0).count())

    // RESTART: stage half B, same checkpoint — file A must be skipped,
    // exactly one new commit lands
    e.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(inDir)
    Streams.s16(spark, tableDir, inDir, cp)
    assert(SnapTable.latestVersion(spark, tableDir) == 2)
    assert(SnapTable.meta(spark, tableDir)("batchId") == "1")

    // final state == all events, each exactly once
    val got = SnapTable.read(spark, tableDir)
      .orderBy("event_id").collect().toSeq
    val expect = e.orderBy("event_id").collect().toSeq
    assert(got == expect)

    // crash-replay guard: re-presenting an already-committed batch id
    // is a no-op — no new version, state unchanged
    val replay = e.filter(col("event_id") % 2 === 1)
    assert(!Streams.s16CommitBatch(spark, tableDir, replay, 1L))
    assert(SnapTable.latestVersion(spark, tableDir) == 2)
    // and a genuinely new batch id still commits
    assert(Streams.s16CommitBatch(spark, tableDir,
      replay.limit(0), 2L))
    assert(SnapTable.latestVersion(spark, tableDir) == 3)
  }

  test("native V2 sink twin: writeStream.format(graft-snap), exactly-once across restart") {
    // round 13: the same contract as s16, with NO foreachBatch — the
    // sink is a native StreamingWrite whose per-epoch commit carries
    // the exactly-once marker in the manifest itself (streamQuery/
    // streamEpoch meta), so the crash window between table commit and
    // checkpoint write cannot double-land a batch.
    import org.apache.spark.sql.streaming.Trigger
    val e = Tables(spark, TestSpark.Sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-v2sink").toString
    val (tableDir, inDir, cp) = (s"$tmp/table", s"$tmp/in", s"$tmp/cp")

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(e.schema).parquet(inDir)
        .writeStream.format("graft-snap")
        .option("path", tableDir).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // run 1: half A → one epoch, one commit
    e.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(inDir)
    runOnce()
    assert(SnapTable.latestVersion(spark, tableDir) == 1)
    assert(SnapTable.read(spark, tableDir).count() ==
      e.filter(col("event_id") % 2 === 0).count())
    val m1 = SnapTable.meta(spark, tableDir)
    assert(m1.contains("streamQuery") && m1("streamEpoch") == "0",
      s"epoch marker missing from the commit metadata: $m1")

    // restart from the same checkpoint: file A skipped, exactly one
    // new commit lands
    e.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(inDir)
    runOnce()
    assert(SnapTable.latestVersion(spark, tableDir) == 2)
    val got = SnapTable.read(spark, tableDir)
      .orderBy("event_id").collect().toSeq
    assert(got == e.orderBy("event_id").collect().toSeq,
      "restart must deliver every event exactly once")

    // a REPLAYED epoch is a no-op: the recovered batch's commit sees
    // its epoch at/below the table's last committed epoch and skips
    val write = new graft.sources.SnapStreamingWrite(tableDir, e.schema,
      SnapTable.meta(spark, tableDir)("streamQuery"))
    write.commit(1L, Array(graft.sources.SnapStreamFileMessage(None)))
    assert(SnapTable.latestVersion(spark, tableDir) == 2,
      "a replayed epoch must not commit a new version")

    // an empty run commits nothing (no version churn)
    runOnce()
    assert(SnapTable.latestVersion(spark, tableDir) == 2)

    // the native batch reader + the streamed table compose: the table
    // reads back through the connector identically
    assert(spark.read.format("graft-snap").load(tableDir).count() ==
      e.count())
  }

  test("the V2 sink and SQL UPDATE write INT96 timestamps, arrays and structs") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("graft-nested-sink").toString
    val (tableDir, inDir, cp) = (s"$tmp/table", s"$tmp/in", s"$tmp/cp")
    val src = GraftSnapSpec.nested(spark, 0, 2000, 2)
    GraftSnapSpec.withInt96(spark) {
      src.write.parquet(inDir)
      spark.readStream.schema(src.schema).parquet(inDir)
        .writeStream.format("graft-snap")
        .option("path", tableDir).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(SnapTable.latestVersion(spark, tableDir) == 1)
    assert(GraftSnapSpec.physicalTypes(spark, tableDir, "ts") === Set("INT96"))
    assert(GraftSnapSpec.canon(SnapTable.read(spark, tableDir)) ===
      GraftSnapSpec.canon(src))

    // SQL UPDATE through a snap catalog rewrites the matched files
    spark.conf.set("spark.sql.catalog.snapnest",
      classOf[graft.sources.SnapCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapnest.warehouse", s"$tmp/wh")
    val t = s"$tmp/wh/db/t"
    spark.sql("""CREATE TABLE snapnest.db.t (k BIGINT, ts TIMESTAMP,
                 tags ARRAY<STRING>, s STRUCT<a: BIGINT, b: STRING>)
                 USING `graft-snap` TBLPROPERTIES ('statCols' = 'k')""")
    src.createOrReplaceTempView("nested_src")
    GraftSnapSpec.withInt96(spark) {
      spark.sql("INSERT INTO snapnest.db.t SELECT * FROM nested_src")
      spark.sql("""UPDATE snapnest.db.t
                   SET ts = ts + INTERVAL 1 DAY, tags = concat(tags, array('u')),
                       s = named_struct('a', s.a + 1, 'b', s.b)
                   WHERE k % 3 = 0""")
    }
    assert(SnapTable.meta(spark, t)("rowLevelOp") == "UPDATE")
    assert(GraftSnapSpec.physicalTypes(spark, t, "ts") === Set("INT96"))
    val hit = col("k") % 3 === 0
    val want = src.select(col("k"),
      when(hit, col("ts") + expr("INTERVAL 1 DAY")).otherwise(col("ts")).as("ts"),
      when(hit, concat(col("tags"), array(lit("u")))).otherwise(col("tags"))
        .as("tags"),
      when(hit, struct((col("s.a") + 1).as("a"), col("s.b").as("b")))
        .otherwise(col("s")).as("s"))
    assert(GraftSnapSpec.canon(SnapTable.read(spark, t)) ===
      GraftSnapSpec.canon(want))
  }

  test("SQL UPDATE and DELETE keep the untouched rows of multi-row-group files") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rowgroups").toString
    spark.conf.set("spark.sql.catalog.snaprg",
      classOf[graft.sources.SnapCatalog].getName)
    spark.conf.set("spark.sql.catalog.snaprg.warehouse", s"$tmp/wh")
    val t = s"$tmp/wh/db/t"
    spark.sql("""CREATE TABLE snaprg.db.t (k BIGINT, v BIGINT)
                 USING `graft-snap` TBLPROPERTIES ('statCols' = 'k')""")
    spark.range(0, 1000, 1, 1).select(col("id").as("k"), col("id").as("v"))
      .createOrReplaceTempView("rowgroup_src")
    // small row groups: one file holds k in [0, 1000) as ascending ranges
    spark.conf.set("parquet.block.size", "1024")
    try {
      spark.sql("INSERT INTO snaprg.db.t SELECT * FROM rowgroup_src")
      val blocks = SnapTable.plan(spark, t, 0).files.map { e =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(e.path),
            spark.sparkContext.hadoopConfiguration))
        try r.getFooter.getBlocks.size finally r.close()
      }
      assert(blocks.max > 2, s"row groups per file: $blocks")
      // k >= 500 matches no row of the leading row groups: the rewritten
      // file must still carry them
      spark.sql("UPDATE snaprg.db.t SET v = 0 WHERE k >= 500")
      assert(SnapTable.meta(spark, t)("rowLevelOp") == "UPDATE")
      val updated = spark.table("rowgroup_src")
        .select(col("k"), when(col("k") >= 500, lit(0L)).otherwise(col("v")).as("v"))
      assert(GraftSnapSpec.canon(SnapTable.read(spark, t)) ===
        GraftSnapSpec.canon(updated))
      // a conjunct the manifest cannot evaluate forces the row-level path
      spark.sql("DELETE FROM snaprg.db.t WHERE k >= 500 AND k % 3 = 0")
      val kept = updated.filter(!(col("k") >= 500 && col("k") % 3 === 0))
      assert(kept.count() == 833)
      assert(GraftSnapSpec.canon(SnapTable.read(spark, t)) ===
        GraftSnapSpec.canon(kept))
    } finally spark.conf.unset("parquet.block.size")
  }
}
