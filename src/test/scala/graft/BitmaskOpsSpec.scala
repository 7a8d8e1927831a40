package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-14 native bitmask kernels must be bit-identical to the HOF
  * expressions they replaced (BitmaskJaccard's mask build and popcount
  * verify) — the optimization changes the physical kernel, never the
  * result. */
class BitmaskOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("popcount_and == aggregate(zip_with(bit_count)) on random masks") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows = Seq.fill(500) {
      val n = 1 + rnd.nextInt(20)
      (Seq.fill(n)(rnd.nextLong()), Seq.fill(n)(rnd.nextLong()))
    }
    val df = rows.toDF("ma", "mb")
      .select(expr("popcount_and(ma, mb)").as("native"),
        expr("aggregate(zip_with(ma, mb, (x, y) -> bit_count(x & y)), 0L, " +
          "(acc, c) -> acc + CAST(c AS BIGINT))").as("ref"))
    assert(df.where(col("native") =!= col("ref")).count() === 0)
  }

  test("bitmask64 == transform/aggregate/filter mask build on random rank sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val rows = Seq.fill(300) {
      val wmax = rnd.nextInt(8).toLong
      val tis = Seq.fill(1 + rnd.nextInt(50))(rnd.nextInt(64 * (wmax.toInt + 1)).toLong)
        .distinct
      (tis, wmax)
    }
    val df = rows.toDF("tis", "wmax")
      .select(expr("bitmask64(tis, wmax)").as("native"),
        expr("transform(sequence(0L, wmax), " +
          "w -> aggregate(filter(tis, t -> t div 64 = w), 0L, " +
          "(acc, t) -> acc | shiftleft(1L, cast(t % 64 as int))))").as("ref"))
    assert(df.where(expr("native != ref")).count() === 0)
  }

  test("null handling and empty arrays") {
    val r = spark.sql(
      "SELECT popcount_and(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS n, " +
        "popcount_and(CAST(array() AS ARRAY<BIGINT>), array(-1L)) AS e, " +
        "bitmask64(CAST(array() AS ARRAY<BIGINT>), 2L) AS z, " +
        "bitmask64(CAST(NULL AS ARRAY<BIGINT>), 2L) AS bn").collect()(0)
    assert(r.isNullAt(0))
    assert(r.getLong(1) === 0L)
    assert(r.getSeq[Long](2) === Seq(0L, 0L, 0L))
    assert(r.isNullAt(3))
  }

  test("bitmask64 with a negative wmax is the empty mask, literal or column") {
    // the literal call folds at planning (eval); the column call runs
    // in a codegen'd projection over range
    val lit = spark.sql("SELECT bitmask64(array(3L), -5L)").collect()(0)
    assert(lit.getSeq[Long](0).isEmpty)
    val byCol = spark.range(1)
      .selectExpr("array(3L, 70L) AS tis", "id - 5L AS wmax")
      .selectExpr("bitmask64(tis, wmax)").collect()(0)
    assert(byCol.getSeq[Long](0).isEmpty)
  }

  test("bitmask64 rejects a wmax wider than one array: literal at analysis, column per row") {
    // 2^32 used to wrap to 0 words (ArrayIndexOutOfBoundsException) and
    // Int.MaxValue to a negative size (NegativeArraySizeException)
    Seq(4294967296L, Int.MaxValue.toLong).foreach { w =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT bitmask64(array(64L), ${w}L)").collect())
      assert(e.getMessage.contains("bitmask64"), e.getMessage)
    }
    val e = intercept[Exception](spark.range(1)
      .selectExpr("array(64L) AS tis", "id + 4294967296L AS wmax")
      .selectExpr("bitmask64(tis, wmax)").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("bitmask64: wmax 4294967296")), msgs.mkString("\n"))
  }

  test("kernels participate in whole-stage codegen") {
    val df = spark.range(100)
      .selectExpr("array(id, id * 7L) AS a", "array(id, id + 1L) AS b",
        "array(id % 128) AS tis")
      .selectExpr("popcount_and(a, b) AS p", "bitmask64(tis, 1L) AS m")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen span in:\n$plan")
  }

  test("popcount_and is NULL on a NULL word, as the zip_with form is") {
    import spark.implicits._
    val rows = Seq(
      (Seq(Option(3L), None), Seq(Option(1L), Option(2L))),
      (Seq(Option(7L), Option(1L)), Seq(Option(3L), None)),
      (Seq(Option(7L), Option(1L)), Seq(Option(3L), Option(1L))))
    val df = rows.toDF("ma", "mb")
      .select(expr("popcount_and(ma, mb)").as("native"),
        expr("aggregate(zip_with(ma, mb, (x, y) -> bit_count(x & y)), 0L, " +
          "(acc, c) -> acc + CAST(c AS BIGINT))").as("ref"))
    val got = df.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(got === Seq((None, None), (None, None), (Some(3L), Some(3L))))
    // the constant-folded (interpreted) path agrees
    val lit = spark.sql("SELECT popcount_and(array(3L, NULL), array(1L, 2L))")
      .collect()(0)
    assert(lit.isNullAt(0))
  }
}

