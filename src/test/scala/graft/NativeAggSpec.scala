package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Direct pins for the two native TypedImperativeAggregates
  * (plans/SimHashBands64, plans/HyperplaneBands64): compare against the
  * declarative many-sum-columns form they replaced, on inputs
  * repartitioned to force partial aggregation + buffer merge +
  * serialize/deserialize across many partitions, including null rows.
  * (The oracle hash-check covers end-to-end parity; these isolate the
  * aggregate's merge and serialization paths.) */
class NativeAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val P = 1000000007L

  test("simhash_bands64 == 64 declarative sums under forced merges") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = Seq.tabulate(3000)(i =>
      (i.toLong % 37, if (i % 97 == 0) null else java.lang.Long.valueOf(rnd.nextLong(P))))
    val df = rows.toDF("g", "h").repartition(24).cache()
    val native = df.groupBy("g").agg(expr("simhash_bands64(h)").as("bk"))
      .select(col("g") +: (0 until 4).map(k => col("bk").getItem(k).as(s"b$k")): _*)
    val wSums = (0 until 64).map { j =>
      val a = 1000003L * j + 12345L
      val b = 777767L * j + 13L
      sum(expr(s"2 * ((($a * h + $b) % $P) & 1) - 1")).as(s"w$j")
    }
    val decl = df.groupBy("g").agg(wSums.head, wSums.tail: _*)
      .select(col("g") +: (0 until 4).map(k =>
        (0 until 16).map(r => expr(s"IF(w${16 * k + r} > 0, ${1L << r}L, 0L)"))
          .reduce(_ + _).as(s"b$k")): _*)
    def m(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong).toList).toMap
    assert(m(native) === m(decl))
    df.unpersist()
  }

  test("simhash_bands64 reduces out-of-domain inputs mod P (no int64 wrap)") {
    // the SQL function is registered globally, so arbitrary BIGINTs can
    // reach it: sketch(raw) must equal sketch(((raw % P) + P) % P) —
    // i.e. inputs congruent mod P are indistinguishable, and huge or
    // negative values cannot silently wrap a*h past Long.MaxValue
    import spark.implicits._
    val raw = Seq(Long.MaxValue - 5, Long.MinValue + 17, -123456789L,
      987654321987654L, 3L, P - 1, P, P + 42)
    val masked = raw.map(h => ((h % P) + P) % P)
    def sketch(hs: Seq[Long]): List[Long] = {
      val r = hs.toDF("h").repartition(4)
        .agg(expr("simhash_bands64(h)").as("bk"))
        .select((0 until 4).map(k => col("bk").getItem(k)): _*)
        .head()
      (0 until 4).map(r.getLong).toList
    }
    assert(sketch(raw) === sketch(masked))
  }

  test("hyperplane_bands64 == 65 declarative sums under forced merges") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val rows = for (v <- 0L until 40L; i <- 0 until 64)
      yield (v, i.toLong, rnd.nextLong(20000001L) - 10000000L)
    val df = rows.toDF("vec_id", "i0", "xi").repartition(24).cache()
    val native = df.groupBy("vec_id")
      .agg(expr("hyperplane_bands64(i0, xi)").as("hb"))
      .select(col("vec_id"), col("hb").getItem(4).as("n2"),
        col("hb").getItem(0), col("hb").getItem(1),
        col("hb").getItem(2), col("hb").getItem(3))
    val pSums = (0 until 64).map(j => sum(expr(
      s"(((1103515245 * CAST(${64 * j} + i0 AS BIGINT) + 12345) % 2147483648) - 1073741824) * xi"))
      .as(s"p$j")) :+ sum(col("xi") * col("xi")).as("n2")
    val decl = df.groupBy("vec_id").agg(pSums.head, pSums.tail: _*)
      .select(col("vec_id") +: col("n2") +: (0 until 4).map(k =>
        (0 until 16).map(r => expr(s"IF(p${16 * k + r} > 0, ${1L << r}L, 0L)"))
          .reduce(_ + _).as(s"k$k")): _*)
    def m(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> (1 to 5).map(r.getLong).toList).toMap
    assert(m(native) === m(decl))
    df.unpersist()
  }
}
