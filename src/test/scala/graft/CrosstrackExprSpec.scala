package graft

import graft.geo.Geo
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CrosstrackExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("codegen expression == direct Scala function on random inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def v() = -74.02 + rnd.nextDouble() * 0.06
    def w() = 40.69 + rnd.nextDouble() * 0.08
    val rows = Seq.fill(1000)((v(), w(), v(), w(), v(), w()))
    val got = rows.toDF("px", "py", "x1", "y1", "x2", "y2")
      .select(expr("crosstrack_m(px, py, x1, y1, x2, y2)")).as[Double].collect()
    val want = rows.map(r => Geo.crosstrackM(r._1, r._2, r._3, r._4, r._5, r._6))
    got.zip(want).foreach { case (g, e) => assert(g === e, "codegen != eval") }
  }

  test("null inputs propagate to null") {
    val r = spark.sql(
      "SELECT crosstrack_m(CAST(NULL AS DOUBLE), CAST(40.7 AS DOUBLE), CAST(-74.0 AS DOUBLE), " +
        "CAST(40.7 AS DOUBLE), CAST(-73.99 AS DOUBLE), CAST(40.71 AS DOUBLE))")
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("expression participates in whole-stage codegen") {
    val plan = spark.range(100)
      .selectExpr("CAST(id AS DOUBLE) / 1000 - 74.0 AS px", "CAST(id AS DOUBLE) / 1000 + 40.7 AS py")
      .selectExpr("crosstrack_m(px, py, CAST(-74.0 AS DOUBLE), CAST(40.69 AS DOUBLE), " +
        "CAST(-73.99 AS DOUBLE), CAST(40.71 AS DOUBLE))")
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen span
    assert(plan.contains("*(1) Project [crosstrack_m("), s"no codegen span in:\n$plan")
  }

  test("all-literal calls constant-fold at planning time") {
    val plan = spark.range(1)
      .selectExpr("crosstrack_m(CAST(-74.0001 AS DOUBLE), CAST(40.5 AS DOUBLE), " +
        "CAST(-74.0 AS DOUBLE), CAST(40.0 AS DOUBLE), CAST(-74.0 AS DOUBLE), CAST(41.0 AS DOUBLE))")
      .queryExecution.optimizedPlan.toString
    // folded: the projection is a double literal (the alias text still
    // carries the original call for display)
    val expected = Geo.crosstrackM(-74.0001, 40.5, -74.0, 40.0, -74.0, 41.0)
    assert(plan.contains(s"$expected AS "), s"literal call not folded:\n$plan")
  }
}
