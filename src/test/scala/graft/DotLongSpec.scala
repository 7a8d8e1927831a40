package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DotLongSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("dot_long == aggregate(zip_with(...)) HOF on random arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(500) {
      val n = 1 + rnd.nextInt(80)
      (Seq.fill(n)(rnd.nextLong() % 10000000L), Seq.fill(n)(rnd.nextLong() % 10000000L))
    }
    val df = rows.toDF("a", "b")
      .select(
        expr("dot_long(a, b)").as("native"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("hof"))
    assert(df.where(col("native") =!= col("hof")).count() === 0)
  }

  test("length mismatch truncates; null array yields null") {
    val r = spark.sql(
      "SELECT dot_long(array(1L,2L,3L), array(10L,20L)) AS t, " +
        "dot_long(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS n").collect()(0)
    assert(r.getLong(0) === 50L) // 1*10 + 2*20, third element ignored
    assert(r.isNullAt(1))
  }

  test("expression participates in whole-stage codegen") {
    val plan = spark.range(100)
      .selectExpr("array(id, id + 1L) AS a", "array(id, id * 2L) AS b")
      .selectExpr("dot_long(a, b)")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [dot_long("), s"no codegen span in:\n$plan")
  }

  test("roll_hash31 == interpreted HOF fold on random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val strs = Seq.fill(500)(
      Seq.fill(rnd.nextInt(60))(('a' + rnd.nextInt(26)).toChar).mkString) :+ ""
    val df = strs.toDF("s").select(
      expr("roll_hash31(s)").as("native"),
      expr("aggregate(split(s, ''), 0L, (acc, ch) -> (acc * 31 + ascii(ch)) % 1000000007)")
        .as("hof"))
    assert(df.where(col("native") =!= col("hof")).count() === 0)
    val r = spark.sql("SELECT roll_hash31(CAST(NULL AS STRING))").collect()(0)
    assert(r.isNullAt(0))
  }
}
