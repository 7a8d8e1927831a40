package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-15 native winnowing kernel must select EXACTLY the
  * (min-hash, rightmost-position) pair set of the declarative
  * slice/array_min/reverse/array_position form it replaced — including
  * the distinct that the kernel performs row-locally (the proof that
  * adjacent windows repeat-or-advance is load-bearing; randomized ties
  * and duplicates exercise it). */
class WinnowMinPosSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("winnow_minpos == distinct declarative selection on random arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    // small value domain forces heavy ties; lengths straddle the window
    val rows = (1 to 400).map { id =>
      val n = 5 + rnd.nextInt(60)
      (id.toLong, Seq.fill(n)(rnd.nextInt(1 + rnd.nextInt(12)).toLong))
    }
    val df = rows.toDF("id", "hs").cache()
    val native = df
      .select(col("id"), explode(expr("winnow_minpos(hs, 5)")).as("s"))
      .select(col("id"), col("s.h").as("h"), col("s.p").as("p"))
    val ref = df
      .select(col("id"), col("hs"),
        explode(expr("sequence(1, size(hs) - 4)")).as("st"))
      .select(col("id"), expr("slice(hs, st, 5)").as("sl"), col("st"))
      .select(col("id"), expr("array_min(sl)").as("h"),
        (col("st") + lit(5L)
          - expr("array_position(reverse(sl), array_min(sl))"))
          .cast("long").as("p"))
      .distinct()
    assert(native.count() === native.distinct().count(),
      "kernel emitted a duplicate (h, p) pair")
    assert(native.exceptAll(ref).isEmpty && ref.exceptAll(native).isEmpty,
      "kernel selection differs from the declarative form")
    df.unpersist()
  }

  test("short input yields no selections; window 1 selects every position") {
    val r = spark.sql(
      "SELECT size(winnow_minpos(array(1L,2L,3L), 5)) AS a, " +
        "winnow_minpos(CAST(NULL AS ARRAY<BIGINT>), 5) AS b, " +
        "size(winnow_minpos(array(7L,7L,7L), 1)) AS c").head()
    assert(r.getInt(0) === 0)
    assert(r.isNullAt(1))
    assert(r.getInt(2) === 3)
  }

  test("window < 1 is rejected at analysis, before any job runs") {
    val (e, jobs) = JobLog(spark) {
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("SELECT winnow_minpos(array(1L, 2L), 0) AS s")
      }
    }
    assert(e.getMessage.contains("window must be >= 1, got 0"), e.getMessage)
    assert(jobs.isEmpty, jobs)
  }
}
