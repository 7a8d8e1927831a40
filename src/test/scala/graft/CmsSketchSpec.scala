package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Direct pins for the Count-Min native aggregate (plans/CmsSketch),
  * isolating the buffer-merge and serialization paths the t5 oracle
  * hash-check exercises only end-to-end, plus the CM point-query
  * guarantee and the out-of-domain input reduction. */
class CmsSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val P = 1000000007L

  test("cms4x256 is merge-order invariant under forced partial merges") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(5000)(i =>
      if (i % 83 == 0) null else java.lang.Long.valueOf(rnd.nextLong(P)))
    val many = rows.toDF("h").repartition(24)
      .agg(expr("cms4x256(h)")).head.getSeq[Long](0)
    val one = rows.toDF("h").repartition(1)
      .agg(expr("cms4x256(h)")).head.getSeq[Long](0)
    assert(many === one)
    // each of the 4 rows of the matrix counts every non-null input once
    val n = rows.count(_ != null).toLong
    (0 until 4).foreach { j =>
      assert(many.slice(j * 256, (j + 1) * 256).sum === n)
    }
  }

  test("cms4x256 point estimate >= true count for every key") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val keys = Seq.fill(4000)(rnd.nextLong(50) * 7919L % P)
    val sk = keys.toDF("h").repartition(16)
      .agg(expr("cms4x256(h)")).head.getSeq[Long](0)
    keys.groupBy(identity).foreach { case (h, occ) =>
      val est = (0 until 4)
        .map(j => sk(j * 256 + graft.plans.CmsSketch4x256.cell(j, h))).min
      assert(est >= occ.size.toLong,
        s"CM underestimated key $h: est $est < true ${occ.size}")
    }
  }

  test("cms4x256 reduces out-of-domain inputs mod P (no negative cells)") {
    import spark.implicits._
    val raw = Seq(Long.MaxValue - 5, Long.MinValue + 17, -123456789L,
      987654321987654L, 3L, P - 1, P, P + 42)
    val masked = raw.map(h => ((h % P) + P) % P)
    val a = raw.toDF("h").agg(expr("cms4x256(h)")).head.getSeq[Long](0)
    val b = masked.toDF("h").agg(expr("cms4x256(h)")).head.getSeq[Long](0)
    assert(a === b)
  }
}
