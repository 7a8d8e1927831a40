package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{SnapMv, SnapTable}
import graft.queries.Streams

/** S18 streaming MV maintenance off the snapshot commit log: the
  * summary equals the batch aggregate after every sync, survives a
  * checkpointed restart without double-folding, and replayed
  * commits/syncs are no-ops (exactly-once by construction). */
class MvStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def e = Tables(spark, TestSpark.Sf, "events")
    .select(col("event_id"), col("event_type"), col("value"))

  private val spec = SnapMv.MvSpec(
    groupCols = Seq("event_type"),
    sums = Seq(Conv.dec6(col("value"))),
    maxs = Seq(col("event_id")))

  private def mvRows(mvDir: String): Seq[(String, Long, java.math.BigDecimal, Long)] =
    SnapMv.read(spark, mvDir)
      .select(col("event_type"), col("_cnt"), col("_sum_0"), col("_max_0"))
      .orderBy("event_type").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2), r.getLong(3)))

  private def expectRows(df: org.apache.spark.sql.DataFrame)
      : Seq[(String, Long, java.math.BigDecimal, Long)] =
    df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(Conv.dec6(col("value"))).as("s"),
        max(col("event_id")).as("m"))
      .orderBy("event_type").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2), r.getLong(3)))

  test("streamed MV == batch aggregate across a checkpointed restart") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-s18").toString
    val (tableDir, mvDir, inDir, cp) =
      (s"$tmp/table", s"$tmp/mv", s"$tmp/in", s"$tmp/cp")

    // run 1: half A staged — one micro-batch, one commit, one sync
    e.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(inDir)
    Streams.s18(spark, tableDir, mvDir, inDir, cp, spec)
    assert(SnapTable.latestVersion(spark, tableDir) == 1)
    assert(SnapMv.state(spark, mvDir) == SnapMv.State(1, 1))
    assert(mvRows(mvDir) == expectRows(e.filter(col("event_id") % 2 === 0)))

    // RESTART with half B staged — file A skipped via checkpoint,
    // exactly one new commit + one new fold
    e.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(inDir)
    Streams.s18(spark, tableDir, mvDir, inDir, cp, spec)
    assert(SnapTable.latestVersion(spark, tableDir) == 2)
    assert(SnapMv.state(spark, mvDir) == SnapMv.State(2, 2))
    assert(mvRows(mvDir) == expectRows(e))

    // replayed sync with nothing new: state unchanged, summary unchanged
    assert(SnapMv.sync(spark, tableDir, mvDir, spec) == SnapMv.State(2, 2))
    assert(mvRows(mvDir) == expectRows(e))

    // a crash BETWEEN commit and sync: the commit lands (new batch id),
    // the process dies before sync — the next sync alone catches up
    Streams.s16CommitBatch(spark, tableDir,
      e.filter(col("event_id") % 2 === 1)
        .withColumn("event_id", col("event_id") + 1000000L), 2L)
    assert(SnapMv.state(spark, mvDir).syncedVersion == 2) // MV behind
    val st = SnapMv.sync(spark, tableDir, mvDir, spec)
    assert(st == SnapMv.State(3, 3))
    val expect3 = expectRows(e.unionByName(
      e.filter(col("event_id") % 2 === 1)
        .withColumn("event_id", col("event_id") + 1000000L)))
    assert(mvRows(mvDir) == expect3)

    // a replayed COMMIT (same batch id) is a no-op end to end
    assert(!Streams.s16CommitBatch(spark, tableDir,
      e.limit(5), 2L))
    assert(SnapMv.sync(spark, tableDir, mvDir, spec) == SnapMv.State(3, 3))
    assert(mvRows(mvDir) == expect3)
  }

  test("sync of an appended version reads its files under the recorded schema") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mvschema").toString
    val (tableDir, mvDir) = (s"$tmp/table", s"$tmp/mv")
    SnapTable.commit(spark, tableDir, e.filter(col("event_id") % 2 === 0))
    assert(SnapMv.sync(spark, tableDir, mvDir, spec) == SnapMv.State(1, 1))
    SnapTable.commit(spark, tableDir, e.filter(col("event_id") % 2 === 1),
      append = true)
    val (st, jobs) = JobLog(spark)(SnapMv.sync(spark, tableDir, mvDir, spec))
    assert(st == SnapMv.State(2, 2))
    assert(jobs.count(_.schemaInference) === 0, jobs.map(_.name))
    assert(mvRows(mvDir) == expectRows(e))
  }

  test("sync refuses non-append versions (retractions out of scope)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-s18b").toString
    val (tableDir, mvDir) = (s"$tmp/table", s"$tmp/mv")
    SnapTable.commit(spark, tableDir, e.filter(col("event_id") % 2 === 0))
    SnapMv.sync(spark, tableDir, mvDir, spec)
    // an overwrite commit REPLACES membership — the MV must refuse it
    SnapTable.commit(spark, tableDir, e.filter(col("event_id") % 2 === 1))
    intercept[IllegalArgumentException] {
      SnapMv.sync(spark, tableDir, mvDir, spec)
    }
  }
}
