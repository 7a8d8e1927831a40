package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** plans/HistBins600: the exact mergeable histogram aggregate (t4). */
class HistBinsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bins match the declarative sum(when) form; tails clamp; nulls skip") {
    import spark.implicits._
    val xs: Seq[java.lang.Long] =
      Seq[java.lang.Long](-500L, 0L, 1L, 99L, 100L, 101L, 59999L, 60000L,
        1000000L, null) ++ (0L until 2000L).map(i => java.lang.Long.valueOf(i * 37))
    val df = xs.toDF("x")
    val hist = df.selectExpr("hist_bins600(x) AS h")
      .selectExpr("posexplode(h) AS (bin, c)").where("c > 0")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val expect = xs.filter(_ != null).map(_.longValue())
      .groupBy(x => math.min(599L, math.max(0L, Math.floorDiv(x, 100L))).toInt)
      .map { case (b, vs) => (b, vs.size.toLong) }
    assert(hist == expect)
    // total count preserved (clamping never drops)
    assert(hist.values.sum == xs.count(_ != null))
    // negative input landed in bin 0, overflow in bin 599
    assert(hist(0) >= 2L && hist.contains(599))
  }

  test("merge across groups == single-pass build (rollup contract)") {
    val e = spark.range(5000).selectExpr(
      "id % 7 AS shard", "(id * id) % 60000 AS x")
    val rolled = e.groupBy("shard").agg(expr("hist_bins600(x)").as("h"))
      .select(posexplode(col("h")).as(Seq("bin", "c")))
      .groupBy("bin").agg(sum("c").as("c")).where("c > 0")
      .orderBy("bin").collect().map(r => (r.getInt(0), r.getLong(1)))
    val direct = e.select(expr("hist_bins600(x)").as("h"))
      .select(posexplode(col("h")).as(Seq("bin", "c"))).where("c > 0")
      .orderBy("bin").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(rolled.toSeq == direct.toSeq)
  }

  test("resolves through the extensions path; plans as ObjectHashAggregate") {
    val fresh = spark.newSession()
    val df = fresh.range(100).selectExpr("hist_bins600(id) AS h")
    val plan = { df.collect(); df.queryExecution.executedPlan.toString }
    assert(plan.contains("ObjectHashAggregate"), s"plan:\n$plan")
  }
}
