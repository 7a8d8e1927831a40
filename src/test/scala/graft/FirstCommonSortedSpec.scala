package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FirstCommonSortedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("first_common_sorted == min of the set intersection on random sorted arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(500) {
      def arr() = Seq.fill(1 + rnd.nextInt(40))(rnd.nextInt(60).toLong)
        .distinct.sorted
      (arr(), arr())
    }
    val df = rows.toDF("a", "b")
      .select(
        expr("first_common_sorted(a, b)").as("native"),
        // reference: smallest shared element, or -1 when disjoint
        coalesce(array_min(array_intersect(col("a"), col("b"))), lit(-1L))
          .as("ref"))
    assert(df.where(col("native") =!= col("ref")).count() === 0)
  }

  test("disjoint → -1; empty → -1; null array → null") {
    val r = spark.sql(
      "SELECT first_common_sorted(array(1L,3L), array(2L,4L)) AS d, " +
        "first_common_sorted(CAST(array() AS ARRAY<BIGINT>), array(1L)) AS e, " +
        "first_common_sorted(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS n").collect()(0)
    assert(r.getLong(0) === -1L)
    assert(r.getLong(1) === -1L)
    assert(r.isNullAt(2))
  }

  test("expression participates in whole-stage codegen") {
    val plan = spark.range(100)
      .selectExpr("array(id, id + 5L) AS a", "array(id + 1L, id + 5L) AS b")
      .selectExpr("first_common_sorted(a, b)")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [first_common_sorted("),
      s"no codegen span in:\n$plan")
  }
}
