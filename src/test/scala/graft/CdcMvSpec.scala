package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{SnapMv, SnapTable}

/** S27 changelog-consuming MV refresh (verdict-r8 item 9): the
  * retraction fold over copy-on-write update/delete versions must
  * (a) equal a full recompute of the mutated table at every version,
  * (b) be restart-safe — folding half the versions, then continuing
  * from durable state, lands on the identical summary,
  * (c) read NULL-measure groups exactly like a recompute, and
  * (d) never mix disciplines with the append-only sync (cross-guards
  * both ways — the append path's guarantees stay intact). */
class CdcMvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDirs(tag: String): (String, String) = {
    val t = s"target/graft-cdcmvspec-tbl/$tag"
    val m = s"target/graft-cdcmvspec-mv/$tag"
    SnapTable.destroy(spark, t); SnapMv.destroy(spark, m)
    (t, m)
  }

  private def ev = Tables(spark, TestSpark.Sf, "events")
    .select(col("event_id"), col("event_type"), col("value"))

  private val spec = SnapMv.MvSpec(
    groupCols = Seq("event_type"),
    sums = Seq(col("value").cast("decimal(18,6)")))

  /** Build the four-version fixture: two appends, a COW update, a
    * delete. Returns the table dir. */
  private def buildTable(tag: String): String = {
    val (t, _) = freshDirs(tag)
    SnapTable.commit(spark, t, ev.filter(col("event_id") % 2 === 0),
      append = true, meta = Map("batchId" -> "0"))
    SnapTable.commit(spark, t, ev.filter(col("event_id") % 2 === 1),
      append = true, meta = Map("batchId" -> "1"))
    SnapTable.update(spark, t, col("event_id") % 7 === 0,
      Map("value" -> (col("value") + lit(100.0d))))
    SnapTable.delete(spark, t, col("event_id") % 5 === 0)
    t
  }

  private def recompute(tdir: String, v: Int): Seq[(String, Long, Option[BigDecimal])] =
    SnapTable.read(spark, tdir, v)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s"))
      .orderBy("event_type")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1),
        Option(r.getDecimal(2)).map(BigDecimal(_))))

  private def summary(mdir: String): Seq[(String, Long, Option[BigDecimal])] =
    SnapMv.readCdc(spark, mdir, spec)
      .orderBy("event_type")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1),
        Option(r.getDecimal(2)).map(BigDecimal(_))))

  test("fold == recompute at every version; restart continues to the same summary") {
    val tdir = buildTable("restart")
    val latest = SnapTable.latestVersion(spark, tdir)
    assert(latest == 4, "fixture must produce four versions")
    // one-shot fold
    val m1 = s"target/graft-cdcmvspec-mv/oneshot"
    SnapMv.destroy(spark, m1)
    val st1 = SnapMv.syncCdc(spark, tdir, m1, spec)
    assert(st1 == SnapMv.State(4, 4), s"four incremental generations, got $st1")
    assert(summary(m1) == recompute(tdir, 4))
    // the delete must actually have retracted rows for this to be a test
    assert(recompute(tdir, 4).map(_._2).sum < recompute(tdir, 2).map(_._2).sum)

    // restart: fold only v1..v2 by syncing before the DML versions exist
    val tdir2 = s"target/graft-cdcmvspec-tbl/twophase"
    val m2 = s"target/graft-cdcmvspec-mv/twophase"
    SnapTable.destroy(spark, tdir2); SnapMv.destroy(spark, m2)
    SnapTable.commit(spark, tdir2, ev.filter(col("event_id") % 2 === 0),
      append = true, meta = Map("batchId" -> "0"))
    SnapTable.commit(spark, tdir2, ev.filter(col("event_id") % 2 === 1),
      append = true, meta = Map("batchId" -> "1"))
    val mid = SnapMv.syncCdc(spark, tdir2, m2, spec)
    assert(mid == SnapMv.State(2, 2))
    assert(summary(m2) == recompute(tdir2, 2),
      "append-only versions through the CDC fold must equal recompute too")
    SnapTable.update(spark, tdir2, col("event_id") % 7 === 0,
      Map("value" -> (col("value") + lit(100.0d))))
    SnapTable.delete(spark, tdir2, col("event_id") % 5 === 0)
    // 'restart': a new fold call picks up from the durable pointer
    val st2 = SnapMv.syncCdc(spark, tdir2, m2, spec)
    assert(st2 == SnapMv.State(4, 4))
    assert(summary(m2) == summary(m1), "two-phase fold must equal one-shot")
    // idempotent replay: nothing new to fold, state unchanged
    assert(SnapMv.syncCdc(spark, tdir2, m2, spec) == st2)
  }

  test("an overwrite that retypes a column folds under each version's recorded schema") {
    val (tdir, mdir) = freshDirs("retype")
    SnapTable.commit(spark, tdir, ev.filter(col("event_id") % 2 === 0),
      append = true)
    // the overwrite turns value DOUBLE into BIGINT: the files it removes
    // still hold doubles
    SnapTable.commit(spark, tdir, ev.filter(col("event_id") % 3 === 0)
      .withColumn("value", col("value").cast("bigint")))
    val (st, jobs) = JobLog(spark)(SnapMv.syncCdc(spark, tdir, mdir, spec))
    assert(st == SnapMv.State(2, 2))
    assert(jobs.count(_.schemaInference) === 0, jobs.map(_.name))
    assert(summary(mdir) == recompute(tdir, 2))
  }

  test("NULL-measure groups read exactly like a recompute") {
    import spark.implicits._
    val tdir = s"target/graft-cdcmvspec-tbl/nulls"
    val mdir = s"target/graft-cdcmvspec-mv/nulls"
    SnapTable.destroy(spark, tdir); SnapMv.destroy(spark, mdir)
    val rows = Seq(
      (1L, "a", Some(2.5)), (2L, "a", None),
      (3L, "b", None), (4L, "b", None),
      (5L, "c", Some(1.0)))
      .toDF("event_id", "event_type", "value")
    SnapTable.commit(spark, tdir, rows)
    // delete the only non-null 'a' row: group a survives with all-NULL
    // values -> _sum must read NULL, not 0
    SnapTable.delete(spark, tdir, col("event_id") === 1L)
    SnapMv.syncCdc(spark, tdir, mdir, spec)
    val got = summary(mdir)
    assert(got == recompute(tdir, 2))
    val a = got.find(_._1 == "a").get
    assert(a._2 == 1L && a._3.isEmpty, s"all-NULL group must read NULL, got $a")
    val b = got.find(_._1 == "b").get
    assert(b._3.isEmpty)
  }

  test("a group whose rows all retract drops out of the summary") {
    import spark.implicits._
    val tdir = s"target/graft-cdcmvspec-tbl/dropout"
    val mdir = s"target/graft-cdcmvspec-mv/dropout"
    SnapTable.destroy(spark, tdir); SnapMv.destroy(spark, mdir)
    val rows = Seq((1L, "only", Some(1.5)), (2L, "keep", Some(2.0)))
      .toDF("event_id", "event_type", "value")
    SnapTable.commit(spark, tdir, rows)
    SnapTable.delete(spark, tdir, col("event_type") === "only")
    SnapMv.syncCdc(spark, tdir, mdir, spec)
    assert(summary(mdir).map(_._1) == Seq("keep"))
  }

  test("fullRefreshOnRewrite: refusal by default, opt-in rebuild == from-scratch, incremental resumes") {
    // the round-11 verdict item: a compaction/GC/DML version must not
    // strand an append-only MV permanently — the opt-in rebuilds over
    // that version's full snapshot and incremental folding resumes
    val (t, m) = freshDirs("fullrefresh")
    def appendSummary(): Seq[(String, Long, Option[BigDecimal])] =
      SnapMv.read(spark, m).orderBy("event_type").collect().toSeq
        .map(r => (r.getString(0), r.getLong(1),
          Option(r.getDecimal(2)).map(BigDecimal(_))))
    def truth(): Seq[(String, Long, Option[BigDecimal])] =
      SnapTable.read(spark, t).groupBy("event_type")
        .agg(count(lit(1)), sum(col("value").cast("decimal(18,6)")))
        .orderBy("event_type").collect().toSeq
        .map(r => (r.getString(0), r.getLong(1),
          Option(r.getDecimal(2)).map(BigDecimal(_))))
    SnapTable.commit(spark, t, ev.filter(col("event_id") % 2 === 0),
      append = true)
    SnapTable.commit(spark, t, ev.filter(col("event_id") % 2 === 1),
      append = true)
    SnapMv.sync(spark, t, m, spec) // incremental through the appends
    assert(appendSummary() === truth())
    // a copy-on-write delete rewrites files: default sync refuses and
    // names the recovery knob
    SnapTable.delete(spark, t, col("event_id") % 5 === 0)
    val e = intercept[IllegalArgumentException] {
      SnapMv.sync(spark, t, m, spec)
    }
    assert(e.getMessage.contains("fullRefreshOnRewrite"), e.getMessage)
    // opt-in: rebuild over v3's full snapshot == a from-scratch summary
    val st = SnapMv.sync(spark, t, m, spec, fullRefreshOnRewrite = true)
    assert(st.syncedVersion == 3)
    assert(appendSummary() === truth())
    // incremental folding RESUMES after the rebuild (no base pass)
    SnapTable.commit(spark, t, ev.filter(col("event_id") % 11 === 3),
      append = true)
    assert(SnapMv.sync(spark, t, m, spec).syncedVersion == 4)
    assert(appendSummary() === truth())
  }

  test("cross-guards: sync refuses a CDC MV, syncCdc refuses an append MV, and the contracts hold") {
    import spark.implicits._
    val tdir = s"target/graft-cdcmvspec-tbl/guards"
    SnapTable.destroy(spark, tdir)
    SnapTable.commit(spark, tdir,
      Seq((1L, "a", Some(1.0))).toDF("event_id", "event_type", "value"))
    // a CDC MV cannot be continued by the append-only sync
    val mCdc = s"target/graft-cdcmvspec-mv/guard-cdc"
    SnapMv.destroy(spark, mCdc)
    SnapMv.syncCdc(spark, tdir, mCdc, spec)
    SnapTable.commit(spark, tdir,
      Seq((2L, "a", Some(2.0))).toDF("event_id", "event_type", "value"),
      append = true)
    val e1 = intercept[IllegalArgumentException] {
      SnapMv.sync(spark, tdir, mCdc, spec)
    }
    assert(e1.getMessage.contains("CDC"))
    // an append MV cannot be continued by syncCdc
    val mApp = s"target/graft-cdcmvspec-mv/guard-app"
    SnapMv.destroy(spark, mApp)
    SnapMv.sync(spark, tdir, mApp, spec)
    SnapTable.delete(spark, tdir, col("event_id") === 1L)
    val e2 = intercept[IllegalArgumentException] {
      SnapMv.syncCdc(spark, tdir, mApp, spec)
    }
    assert(e2.getMessage.contains("append-only"))
    // the append path still refuses removal versions (s18's guarantee)
    val mApp2 = s"target/graft-cdcmvspec-mv/guard-app2"
    SnapMv.destroy(spark, mApp2)
    val e3 = intercept[IllegalArgumentException] {
      SnapMv.sync(spark, tdir, mApp2, spec)
    }
    assert(e3.getMessage.contains("append-only"))
    // MIN/MAX are not retractable
    val e4 = intercept[IllegalArgumentException] {
      SnapMv.syncCdc(spark, tdir, s"target/graft-cdcmvspec-mv/guard-mm",
        SnapMv.MvSpec(Seq("event_type"), maxs = Seq(col("event_id"))))
    }
    assert(e4.getMessage.contains("retractable"))
    // inexact (double) sums are refused
    val e5 = intercept[IllegalArgumentException] {
      SnapMv.syncCdc(spark, tdir, s"target/graft-cdcmvspec-mv/guard-dbl",
        SnapMv.MvSpec(Seq("event_type"), sums = Seq(col("value"))))
    }
    assert(e5.getMessage.contains("inexact"))
  }
}
