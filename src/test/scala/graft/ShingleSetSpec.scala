package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ShingleSetHash31 ≡ the declarative form it replaces (qd15's shingle
  * build): array_sort(array_distinct(transform(windows,
  * roll_hash31(array_join(slice, ' '))))) — pinned exactly on the full
  * fixture corpus plus adversarial hand cases (short docs, duplicate
  * windows, empty tokens from double spaces, null elements). */
class ShingleSetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def declForm(w: Int) =
    s"array_sort(array_distinct(IF(size(tk) >= $w, " +
      s"transform(sequence(1, size(tk) - $w + 1), " +
      s"k -> roll_hash31(array_join(slice(tk, k, $w), ' '))), array())))"

  test("kernel == declarative form on every fixture document, w=3 and w=5") {
    graft.plans.RollHash31.register(spark)
    graft.plans.ShingleSetHash31.register(spark)
    for (w <- Seq(3, 5)) {
      val mismatches = Tables(spark, TestSpark.Sf, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .withColumn("want", expr(declForm(w)))
        .withColumn("got", expr(s"shingle_set_hash31(tk, $w)"))
        .filter(not(col("want") <=> col("got")))
        .count()
      assert(mismatches == 0, s"w=$w: kernel diverges from the declarative form")
    }
  }

  test("edge cases: short, empty-token, duplicate, and null-element inputs") {
    graft.plans.RollHash31.register(spark)
    graft.plans.ShingleSetHash31.register(spark)
    import spark.implicits._
    val rows = Seq(
      "a b",                 // shorter than the window -> empty set
      "a",                   // single token
      "",                    // split('') -> one empty token
      "x x x x x",           // all windows identical -> one element
      "a  b c d",            // double space -> empty token inside a window
      "tok1 tok2 tok3 tok1 tok2 tok3 tok1" // duplicate windows interleaved
    ).toDF("text")
      .select(split(col("text"), " ").as("tk"))
      .withColumn("want", expr(declForm(3)))
      .withColumn("got", expr("shingle_set_hash31(tk, 3)"))
    assert(rows.filter(not(col("want") <=> col("got"))).count() == 0)
    // null ELEMENT follows array_join's skip-null rule
    val nullElem = Seq(1).toDF("i")
      .select(array(lit("a"), lit(null).cast("string"), lit("b"), lit("c")).as("tk"))
      .withColumn("want", expr(declForm(3)))
      .withColumn("got", expr("shingle_set_hash31(tk, 3)"))
    assert(nullElem.filter(not(col("want") <=> col("got"))).count() == 0)
    // NULL array -> NULL
    val nullArr = Seq(1).toDF("i")
      .select(expr("shingle_set_hash31(CAST(NULL AS ARRAY<STRING>), 3)").as("g"))
    assert(nullArr.head().isNullAt(0))
  }

  test("output is sorted, distinct, and non-null-typed") {
    graft.plans.ShingleSetHash31.register(spark)
    val out = Tables(spark, TestSpark.Sf, "documents")
      .select(expr("shingle_set_hash31(split(text, ' '), 3)").as("fs"))
    assert(out.schema("fs").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false))
    val bad = out.filter(
      not(col("fs") <=> array_sort(array_distinct(col("fs"))))).count()
    assert(bad == 0, "kernel output must already be sorted and distinct")
  }

  test("width < 1 is rejected at analysis, before any job runs") {
    graft.plans.ShingleSetHash31.register(spark)
    val (e, jobs) = JobLog(spark) {
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql("SELECT shingle_set_hash31(array('a', 'b'), 0) AS s")
      }
    }
    assert(e.getMessage.contains("width must be >= 1, got 0"), e.getMessage)
    assert(jobs.isEmpty, jobs)
  }
}
