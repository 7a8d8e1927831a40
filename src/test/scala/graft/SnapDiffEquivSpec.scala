package graft

import graft.operators.SnapTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 pin for the single-pass SnapTable.diff rewrite: the
  * signed-count + replicate form must emit EXACTLY the multiset the
  * exceptAll pair emitted — including duplicate rows on either side
  * (the multiset semantics CDC consumers rely on) and NULL measure
  * values (NULL group keys compare equal in both formulations). */
class SnapDiffEquivSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dir = "target/graft-snapdiff-equiv"

  test("a table with a change column is rejected before any job, naming the column") {
    import spark.implicits._
    val d = s"$dir-change"
    SnapTable.destroy(spark, d)
    SnapTable.commit(spark, d, Seq((1L, "a")).toDF("k", "Change"))
    SnapTable.commit(spark, d, Seq((2L, "b")).toDF("k", "Change"))
    val (e, jobs) = JobLog(spark)(
      intercept[IllegalArgumentException](SnapTable.diff(spark, d, 1, 2)))
    assert(e.getMessage.contains("`change`") && e.getMessage.contains("`Change`"),
      e.getMessage)
    assert(jobs.isEmpty, jobs.toString)
    SnapTable.destroy(spark, d)
  }

  test("single-pass diff == exceptAll-pair diff as multisets") {
    import spark.implicits._
    SnapTable.destroy(spark, dir)
    // v1: duplicates (1,1cnt twice), a NULL quantity row, a row that
    // survives, a row whose count DROPS from 3 to 1 (partial removal)
    val v1 = Seq(
      (1L, 1L, Option(BigDecimal(10))), (1L, 1L, Option(BigDecimal(10))),
      (2L, 1L, None), (3L, 1L, Option(BigDecimal(7))),
      (4L, 1L, Option(BigDecimal(5))), (4L, 1L, Option(BigDecimal(5))),
      (4L, 1L, Option(BigDecimal(5))))
      .toDF("l_orderkey", "l_linenumber", "l_quantity")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,6)"))
    // v2: one (1,1,10) removed, NULL row kept, (3,..) value changed,
    // (4,..) down to ONE copy, plus a brand-new duplicated row
    val v2 = Seq(
      (1L, 1L, Option(BigDecimal(10))),
      (2L, 1L, None), (3L, 1L, Option(BigDecimal(8))),
      (4L, 1L, Option(BigDecimal(5))),
      (9L, 2L, Option(BigDecimal(1))), (9L, 2L, Option(BigDecimal(1))))
      .toDF("l_orderkey", "l_linenumber", "l_quantity")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,6)"))
    SnapTable.commit(spark, dir, v1)
    SnapTable.commit(spark, dir, v2)

    val a = SnapTable.read(spark, dir, 1)
    val b = SnapTable.read(spark, dir, 2)
    val expected = b.exceptAll(a).withColumn("change", lit("added"))
      .unionByName(a.exceptAll(b).withColumn("change", lit("removed")))

    val got = SnapTable.diff(spark, dir, 1, 2)
    assert(got.columns.toSeq === expected.columns.toSeq)

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(canon(got) === canon(expected))
    // sanity: the partial removal emits exactly 2 'removed' copies of
    // the (4,1,5) row and the new row 2 'added' copies
    val gc = got.groupBy("l_orderkey", "change").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(gc((4L, "removed")) === 2L)
    assert(gc((9L, "added")) === 2L)
    SnapTable.destroy(spark, dir)
  }

  test("columns named like the diff's helper columns: _w, _d, _i") {
    import spark.implicits._
    val d = s"$dir-reserved"
    SnapTable.destroy(spark, d)
    val v1 = Seq((1L, 1L, "a", 10L), (1L, 1L, "a", 10L), (2L, -1L, "b", 0L),
      (3L, 2L, "c", 7L)).toDF("_w", "_d", "_i", "n")
    val v2 = Seq((1L, 1L, "a", 10L), (2L, -1L, "b", 0L), (3L, 2L, "c", 8L),
      (4L, 0L, "_w_", 1L), (4L, 0L, "_w_", 1L)).toDF("_w", "_d", "_i", "n")
    SnapTable.commit(spark, d, v1)
    SnapTable.commit(spark, d, v2)

    val a = SnapTable.read(spark, d, 1)
    val b = SnapTable.read(spark, d, 2)
    val expected = b.exceptAll(a).withColumn("change", lit("added"))
      .unionByName(a.exceptAll(b).withColumn("change", lit("removed")))
    val got = SnapTable.diff(spark, d, 1, 2)
    assert(got.columns.toSeq === Seq("_w", "_d", "_i", "n", "change"))

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(canon(got) === canon(expected))
    assert(canon(got) === Seq("1|1|a|10|removed", "3|2|c|7|removed",
      "3|2|c|8|added", "4|0|_w_|1|added", "4|0|_w_|1|added"))
    SnapTable.destroy(spark, d)
  }

  test("a row repeated 200 000 times diffs through a streaming generator") {
    val d = s"$dir-repeated"
    SnapTable.destroy(spark, d)
    SnapTable.commit(spark, d,
      spark.range(200000).select(lit(7L).as("k"), lit("x").as("v")))
    SnapTable.commit(spark, d, spark.range(1).select(lit(7L).as("k"), lit("x").as("v")))

    val a = SnapTable.read(spark, d, 1)
    val b = SnapTable.read(spark, d, 2)
    val expected = b.exceptAll(a).withColumn("change", lit("added"))
      .unionByName(a.exceptAll(b).withColumn("change", lit("removed")))
    val got = SnapTable.diff(spark, d, 1, 2)
    def counts(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.groupBy("k", "v", "change").count().collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq
    assert(counts(got) === counts(expected))
    assert(counts(got) === Seq("7|x|removed|199999"))
    // the replication is a generator over one row, not an array of
    // |d| elements built per distinct row
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("sequence"), plan)
    assert(plan.contains("Generate"), plan)
    SnapTable.destroy(spark, d)
  }
}
