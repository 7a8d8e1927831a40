package graft

import graft.queries.{DedupExt, Llm}
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val P = 1000000007L

  private def h(s: String): Long =
    s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % P)

  test("qd1 MinHash-LSH pairs are a subset of exact Q28, recall reported") {
    val exact = Llm.queries("q28_neardup")(spark, TestSpark.Sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupExt.queries("qd1_minhash")(spark, TestSpark.Sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH produced non-near-dup pairs: ${(lsh -- exact).take(5)}")
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    info(f"MinHash-LSH recall vs exact Jaccard: $recall%.4f (${lsh.size}/${exact.size})")
    assert(recall >= 0.9, f"recall $recall%.4f below 0.9")
  }

  test("dictionary-free sorted-set verify == bitmask verify (same pairs)") {
    import graft.operators.BitmaskJaccard
    import org.apache.spark.sql.functions._
    val toks = Tables(spark, TestSpark.Sf, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct().cache()
    val masks = BitmaskJaccard.masks(toks)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b", "inter", "na", "nb").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val viaBitmask = asSet(BitmaskJaccard.bandedPairs(toks, masks, 8, 10))
    val viaSets = asSet(BitmaskJaccard.bandedPairsCompact(toks, 8, 10))
    assert(viaSets === viaBitmask,
      s"diff: ${(viaSets diff viaBitmask).take(3)} / ${(viaBitmask diff viaSets).take(3)}")
    assert(viaSets.nonEmpty)
  }

  test("prefix-filter pairs == brute-force all-pairs (EXACT recall proof)") {
    import graft.operators.BitmaskJaccard
    import org.apache.spark.sql.functions._
    val toks = Tables(spark, TestSpark.Sf, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct().cache()
    val masks = BitmaskJaccard.masks(toks).cache()
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b", "inter", "na", "nb").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // q28's threshold, plus a looser one that forces longer prefixes
    for ((num, den) <- Seq((8, 10), (5, 10))) {
      val brute = asSet(BitmaskJaccard.pairs(masks, masks, num, den))
      val prefix = asSet(BitmaskJaccard.prefixPairs(toks, masks, num, den))
      assert(prefix === brute, s"J>=$num/$den diff: " +
        s"${(prefix diff brute).take(3)} / ${(brute diff prefix).take(3)}")
      assert(prefix.nonEmpty || num == 8)
    }
  }

  test("intersect_sorted_count: merge semantics on handwritten cases") {
    val r = spark.sql(
      "SELECT intersect_sorted_count(array('a','b','d'), array('b','c','d')) AS s, " +
        "intersect_sorted_count(array(1L,5L,9L), array(5L,9L,11L)) AS l, " +
        "intersect_sorted_count(array('x'), CAST(NULL AS ARRAY<STRING>)) AS n, " +
        "intersect_sorted_count(array('a','a','b'), array('a','a','a')) AS dup")
      .collect()(0)
    assert(r.getLong(0) === 2L) // b, d
    assert(r.getLong(1) === 2L) // 5, 9
    assert(r.isNullAt(2))
    assert(r.getLong(3) === 2L) // min-multiplicity of 'a'
  }

  test("qd3 banded shingle pairs are a high-recall subset of the exact join") {
    import org.apache.spark.sql.functions._
    // exact yardstick: the brute-force shingle self-join qd3 used to ship
    // (fine at test scale), reimplemented inline — qd3's banded result
    // must be a subset with recall >= 0.8
    val sh = Tables(spark, TestSpark.Sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(expr(
        "IF(size(tk) >= 4, transform(sequence(1, size(tk) - 3), k -> array_join(slice(tk, k, 4), ' ')), array())"))
        .as("sh"))
      .distinct().cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nt"))
    val exact = sh.select(col("doc_id").as("a"), col("sh"))
      .join(sh.select(col("doc_id").as("b"), col("sh")), Seq("sh"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a"), col("nt").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("nt").as("nb")), Seq("b"))
      .filter(lit(3) * col("inter") >= col("na") + col("nb"))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = graft.queries.DedupExt.queries("qd3_ngram")(spark, TestSpark.Sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(exact), s"banded invented pairs: ${(banded -- exact).take(3)}")
    val recall = if (exact.isEmpty) 1.0 else banded.size.toDouble / exact.size
    info(f"qd3 banded recall vs exact 4-gram Jaccard: $recall%.4f (${banded.size}/${exact.size})")
    assert(recall >= 0.8, f"recall $recall%.4f below 0.8")
  }

  test("qd2 SimHash 16-bit-banding is pigeonhole-exact for hd <= 3") {
    import spark.implicits._
    // independent in-memory reimplementation of the 64-bit sketch (bit j
    // = sign of the summed parities of the j-th affine permutation of the
    // rolling hash), banded 4×16 bits; ALL pairs with hd <= 3 must be
    // found (3 flips can't touch all 4 bands), and none invented
    val docs = Tables(spark, TestSpark.Sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val sketches = docs.map { case (id, text) =>
      val hs = text.split(" ").distinct.map(h)
      val keys = (0 until 4).map { k =>
        (0 until 16).foldLeft(0L) { (acc, r) =>
          val j = 16 * k + r
          val a = 1000003L * j + 12345L
          val b = 777767L * j + 13L
          val w = hs.map(x => 2 * (((a * x + b) % P) & 1L) - 1).sum
          if (w > 0) acc | (1L << r) else acc
        }
      }
      id -> keys
    }
    val expected = (for {
      (a, ka) <- sketches; (b, kb) <- sketches if a < b
      hd = (0 until 4).map(k => java.lang.Long.bitCount(ka(k) ^ kb(k))).sum
      if hd <= 3
    } yield (a, b, hd.toLong)).toSet
    val got = DedupExt.queries("qd2_simhash")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("qd4 LSH pairs: exact precision, recall reported by similarity tier") {
    import org.apache.spark.sql.functions._
    // brute-force truth: every pair with exact fixed-point cosine >= 0.4
    // (tiny at test scale); qd4's candidates must be a subset (its
    // verify step recomputes the exact cosine, so precision is exact by
    // construction) and banding recall should be near-total on STRONG
    // pairs (cos >= 0.9 — 64-bit sketches agree on some 16-bit band with
    // high probability) while borderline pairs may be missed: that is
    // the declared trade of the 2^16-key bands (bucket sizes shrink with
    // corpus growth; low-similarity recall is probabilistic).
    val emb = Tables(spark, TestSpark.Sf, "embeddings")
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000.0D) AS BIGINT))")
        .as("ei"))
    val n2 = emb.select(col("vec_id"), expr("dot_long(ei, ei)").as("n2"))
    val exact = emb.as("a").crossJoin(emb.as("b"))
      .where(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        expr("dot_long(a.ei, b.ei)").as("dot"))
      .join(n2.select(col("vec_id").as("va"), col("n2").as("na2")), Seq("va"))
      .join(n2.select(col("vec_id").as("vb"), col("n2").as("nb2")), Seq("vb"))
      .select(col("va"), col("vb"),
        (col("dot").cast("double")
          / (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double")))).as("cos"))
      .where(col("cos") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = DedupExt.queries("qd4_embdup")(spark, TestSpark.Sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact.keySet),
      s"qd4 invented pairs: ${(got -- exact.keySet).take(3)}")
    // the synthetic fixture holds NO true near-duplicates (max pair
    // cosine ≈ 0.48): every qualifying pair sits right at the 0.4
    // threshold, where banding recall is inherently probabilistic-low —
    // report it; the guarantee that matters (high-similarity recall) is
    // pinned by the cloned-vector test below
    info(f"qd4 recall at borderline similarity: ${got.size}/${exact.size} (fixture max cos ≈ 0.48)")
  }

  test("qd4 banding catches TRUE near-duplicates (cloned vectors)") {
    import spark.implicits._
    // the fixture has no high-cosine pairs, so build a corpus that does:
    // 40 seeded random vectors + 15 clones perturbed in one coordinate
    // (cos ≈ 0.9998). For cos ≥ 0.999 a 16-bit band agrees with
    // p ≈ 0.99^16 ≈ 0.9; any of 4 bands ≈ 1 − 1e-4 — assert ≥ 90% of
    // clone pairs are found (exact-cosine verify keeps precision exact).
    val rnd = new scala.util.Random(31)
    def vec(): Array[Float] = Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)
    val base = (0L until 40L).map(i => (i, vec()))
    val clones = (0 until 15).map { c =>
      val (src, v) = base(c)
      val w = v.clone(); w(c % 64) = w(c % 64) + 0.01f
      (100L + c, w, src)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-qd4-clones").toString
    (base.map { case (id, v) => (id, v.toSeq, 0) } ++
      clones.map { case (id, v, _) => (id, v.toSeq, 0) })
      .toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = DedupExt.queries("qd4_embdup")(spark, dir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = clones.map { case (id, _, src) => (src, id) }.toSet
    val hit = expected.count(got)
    info(s"qd4 clone-pair recall: $hit/${expected.size}")
    assert(hit * 10 >= expected.size * 9,
      s"clone-pair recall $hit/${expected.size} below 0.9: missing ${(expected -- got).take(5)}")
  }

  test("qs1 ANN candidates re-rank to a subset consistent with brute force") {
    // every ANN hit's score must equal the brute-force score for that vec
    val brute = Llm.queries("q29_cosine")(spark, TestSpark.Sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = DedupExt.queries("qs1_ann")(spark, TestSpark.Sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    for ((v, s) <- ann if brute.contains(v))
      assert(math.abs(brute(v) - s) < 1e-9, s"score mismatch for vec $v")
    info(s"ANN top-5 overlap with brute-force top-5: ${ann.count(x => brute.contains(x._1))}/5")
  }
}
