package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis + multimodal-plumbing operators for LLM data pipelines
  * (SURVEY §2B "LLM" rows; builder-prompt first-class extensions).
  *
  * Same determinism regime as DedupExt: pure integer / exactly-specified
  * double arithmetic, every query mirrored in DuckDB SQL.
  *
  * Scale notes: all of these are embarrassingly parallel scans with one
  * narrow aggregation — per-doc maps (langid scores, counts, fingerprints)
  * partial-aggregate map-side; nothing here shuffles more than
  * O(docs × langs) rows. The binary qm1 path keeps payloads opaque
  * (`BINARY` column) and only ships fixed-width features.
  */
object TextExt {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)
  private val P = 1000000007L

  /** Language keyword profiles for the n-gram/stopword langid heuristic. */
  private val profiles: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und",
    "fr" -> "le", "fr" -> "la", "fr" -> "les", "fr" -> "et",
    "es" -> "el", "es" -> "los", "es" -> "las", "es" -> "y")

  private val stopwords = Seq("the", "a", "of", "and")

  /** qt10's chunk relation: (doc_id, k, n_tok, fp) — fixed 64-token
    * windows with stride 48 (16-token overlap) and a rolling-hash
    * fingerprint per chunk. Pure row-local column ops (split, explode,
    * slice, native hash), so the SAME definition runs over the batch
    * table and a streaming read: Streams.s08 composes it with a
    * watermarked fingerprint dedup into the ingest-time chunk-dedup
    * pipeline. */
  /** Distinct 3-token shingle hashes per document — the contamination
    * currency shared by qx1 (exact gate) and qx5 (Bloom gate). Row-local
    * shingling (array_distinct BEFORE the explode) + the cross-engine
    * rolling hash; one scan, no shuffle. */
  /** Next power of two ≥ n as a pure integer CASE ladder (up to 2^20)
    * — the SAME text is interpolated into the Spark expression and the
    * DuckDB oracle, so both engines bucket identically with no float
    * log2/pow knife-edge at the boundaries (qx12). */
  private[graft] def Pow2Case(c: String): String = {
    val branches = (0 to 20)
      .map(i => s"WHEN $c <= ${1L << i} THEN ${1L << i}")
      .mkString(" ")
    s"(CASE $branches ELSE -1 END)"
  }

  private def shingleHash3(s: SparkSession, d: String): DataFrame = {
    t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(expr(
        "array_distinct(IF(size(tk) >= 3, transform(sequence(1, size(tk) - 2), k -> array_join(slice(tk, k, 3), ' ')), array()))"))
        .as("s"))
      .select(col("doc_id"), expr("roll_hash31(s)").as("h"))
  }

  private[graft] def chunkRel(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("tk"),
        explode(expr("sequence(0L, (size(tk) + 47) div 48 - 1)")).as("k"))
      .select(col("doc_id"), col("k"),
        expr("CAST(size(slice(tk, cast(k * 48 + 1 AS INT), 64)) AS BIGINT)")
          .as("n_tok"),
        expr("roll_hash31(array_join(slice(tk, cast(k * 48 + 1 AS INT), 64), ' '))")
          .as("fp"))
  }

  val queries: Map[String, Q] = Map(
    // qt1 language-ID heuristic: per-doc keyword-profile scores, argmax
    // (score DESC, lang ASC), no hit → 'unknown'; output = confusion
    // matrix. Scores are per-row array_filter counts (whole-stage codegen,
    // one scan, zero shuffles before the tiny confusion groupBy) — the
    // argmax tie-break is the CASE chain checking langs in ASC order.
    "qt1_langid" -> ((s, d) => {
      val langs = profiles.map(_._1).distinct.sorted
      def score(lang: String): Column = {
        val kws = profiles.filter(_._1 == lang).map("'" + _._2 + "'").mkString(",")
        expr(s"size(filter(tk, x -> x IN ($kws)))")
      }
      val scored = t(s, d, "documents")
        .select(col("lang"), split(col("text"), " ").as("tk"))
        .select(col("lang") +: langs.map(l => score(l).as(s"s_$l")): _*)
      val mx = greatest(langs.map(l => col(s"s_$l")): _*)
      val pred = langs.foldRight(lit("unknown")) { (l, els) =>
        when(mx > 0 && col(s"s_$l") === mx, lit(l)).otherwise(els)
      }
      scored.select(col("lang"), pred.as("predicted"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("docs"))
        .orderBy("lang", "predicted")
    }),

    // qt2 quality scoring: token counts, type-token ratio, stopword ratio,
    // integer-arithmetic quality flag (no float threshold compares)
    "qt2_quality" -> ((s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), col("n_chars"),
          size(col("tk")).cast(LongType).as("n_tok"),
          size(array_distinct(col("tk"))).cast(LongType).as("n_uniq"),
          expr(s"CAST(size(filter(tk, x -> array_contains(array(${stopwords.map("'" + _ + "'").mkString(",")}), x))) AS BIGINT)")
            .as("n_stop"))
      base.select(col("doc_id"), col("n_tok"), col("n_uniq"), col("n_stop"),
        round((col("n_chars") - col("n_tok") + 1).cast(DoubleType) / col("n_tok"), 4)
          .cast(DoubleType).as("avg_tok_len"),
        round(col("n_stop").cast(DoubleType) / col("n_tok"), 4)
          .cast(DoubleType).as("stop_ratio"),
        when(col("n_tok") >= 20
          && lit(10) * col("n_uniq") >= lit(3) * col("n_tok")
          && lit(10) * col("n_stop") <= lit(3) * col("n_tok"), 1L).otherwise(0L)
          .as("quality"))
        .orderBy("doc_id")
    }),

    // qt3 token counting: whitespace split vs BPE-ish regex lexer
    "qt3_tokcount" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_ws"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast(LongType).as("n_re"))
        .orderBy("doc_id")),

    // qt4 document fingerprinting: rolling hash over the full text
    // (native codegen expression); output = duplicate-fingerprint groups
    // (fingerprint-based exact dedup)
    "qt4_fingerprint" -> ((s, d) => {
      t(s, d, "documents")
        .select(expr("roll_hash31(text)").as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1)
        .orderBy(col("c").desc, col("fp"))
    }),

    // qt5 deterministic stratified sampling (dataset mixing): keep 30%
    // of docs per language, chosen by an LCG hash rank — reproducible
    // across engines and runs, unlike rand()-based sampleBy. At scale
    // this is one window per stratum (bounded partitions), no shuffle of
    // the payload beyond the stratum key.
    "qt5_sample" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang")
        .orderBy(col("hk"), col("doc_id"))
      val n = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      // doc_id is reduced mod 2^31 BEFORE the multiply so the product
      // provably fits int64 (1103515245 * 2^31 < 2^63) — Spark would
      // otherwise wrap silently on huge ids while DuckDB raises, making
      // the engines diverge. No-op for ids < 2^31 (all test data).
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          ((lit(1103515245L) * (col("doc_id") % 2147483648L) + 12345L)
            % 2147483648L).as("hk"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .withColumn("n", count(lit(1)).over(n))
        .where(col("rk") * 10 <= col("n") * 3)
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")
    }),

    // qt6 entity masking (PII-style token redaction): mask a token
    // denylist, count replacements — token-level transform (identical
    // semantics in both engines; regex word-boundary replacement has
    // engine-specific overlap behavior, so the contract is per-token)
    "qt6_scrub" -> ((s, d) => {
      val denyList = Seq("customer", "order", "part").map("'" + _ + "'").mkString(",")
      t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"),
          expr(s"array_join(transform(tk, t -> IF(t IN ($denyList), '<ENT>', t)), ' ')")
            .as("scrubbed"),
          expr(s"CAST(size(filter(tk, t -> t IN ($denyList))) AS BIGINT)")
            .as("n_masked"))
        .where(col("n_masked") > 0)
        .orderBy("doc_id")
    }),

    // qt7 sequence packing: greedy fixed-budget (2048-token) packing per
    // source shard via a running token count — the pre-tokenization
    // batching step of a training pipeline. Per-source windows bound the
    // sort; output is per-pack occupancy.
    "qt7_pack" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        // `div`, not `/`: Spark's / on integers is DOUBLE division
        .withColumn("pack_id", expr("(cum - n_tok) div 2048"))
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy("source", "pack_id")
    }),

    // qt30 SHARDED sequence packing (round 12) — qt7's 100 TB scale
    // path as a DECLARED variant: qt7's strictly-ordered per-source
    // packing is inherently one window task per source (a bounded-
    // parallelism tail when a corpus has few giant sources — the r11
    // verdict's finding). This variant scopes the pack window to
    // (source, shard) with deterministic shard = doc_id div 128, so
    // parallelism scales with corpus size instead of source count; the
    // declared trade is ≤1 under-full pack per (source, shard) boundary
    // (pack boundaries are arbitrary in greedy packing — no training
    // semantics cross them). Measured at sf0.1 (SURVEY §6 round-12
    // record): wall-clock parity at bench scale (the 20-source fixture
    // already parallelizes), 140 → 788 packs — the boundary-waste cost
    // is visible, which is why BOTH forms ship and qt7's single-task
    // bound stays the default contract for many-source corpora.
    "qt30_packshard" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source", "shard").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .withColumn("shard", expr("doc_id div 128"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("pack_id", expr("(cum - n_tok) div 2048"))
        .groupBy("source", "shard", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy("source", "shard", "pack_id")
    }),

    // qt8 bigram language model: P(w2|w1) from corpus bigram/unigram
    // counts — the n-gram LM scoring table of a quality-filtering
    // pipeline. Pure integer counts; the probability is rounded only at
    // display. Top-200 by (count DESC, bigram) keeps the output bounded.
    "qt8_bigram_lm" -> ((s, d) => {
      val bi = t(s, d, "documents")
        .select(split(col("text"), " ").as("tk"))
        .select(explode(expr(
          "IF(size(tk) >= 2, transform(sequence(1, size(tk) - 1), " +
            "k -> named_struct('w1', tk[k-1], 'w2', tk[k])), array())")).as("b"))
        .select(col("b.w1"), col("b.w2"))
      val uni = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
      bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .join(uni, Seq("w1"))
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          round(col("c12").cast(DoubleType) / col("c1"), 6)
            .cast(DoubleType).as("p"))
        .orderBy(col("c12").desc, col("w1"), col("w2"))
        .limit(200)
    }),

    // QT19 COLLOCATION MINING — the phrase-extraction verb (PMI family,
    // public method): bigrams whose observed frequency beats the
    // independence expectation, scored by lift = p(w1w2)/(p(w1)·p(w2))
    // = c12·Nu²/(ca·cb·Nb). Where qt8 gives the LM's conditional
    // p(w2|w1), this gives the association strength that finds
    // multiword terms worth merging into tokens. The score is ONE
    // IEEE expression tree written identically in the oracle (g08
    // convention); counts stay exact BIGINTs and ride as audit
    // columns; output is the full qualifying set in (w1, w2) order —
    // no rank cutoff, so no ordering knife-edge at all. Scale: two
    // partial-aggregatable counts (unigram, bigram) over one token
    // explosion; the vocab-sized count relations broadcast back onto
    // the bigram table — the corpus is never joined to itself.
    "qt19_colloc" -> ((s, d) => {
      val tk = t(s, d, "documents").select(split(col("text"), " ").as("tk"))
      val toks = tk.select(explode(col("tk")).as("w"))
      val uni = toks.groupBy("w").agg(count(lit(1)).as("cu"))
      val nu = toks.agg(count(lit(1)).as("nu"))
      val bi = tk.select(explode(expr(
        "IF(size(tk) >= 2, transform(sequence(1, size(tk) - 1), " +
          "k -> named_struct('w1', tk[k-1], 'w2', tk[k])), array())")).as("b"))
        .select(col("b.w1"), col("b.w2"))
      val nb = bi.agg(count(lit(1)).as("nb"))
      bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 20)
        .join(broadcast(uni.select(col("w").as("w1"), col("cu").as("ca"))),
          Seq("w1"))
        .join(broadcast(uni.select(col("w").as("w2"), col("cu").as("cb"))),
          Seq("w2"))
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .select(col("w1"), col("w2"), col("c12"), col("ca"), col("cb"),
          round(col("c12").cast(DoubleType) * col("nu") * col("nu")
            / (col("ca").cast(DoubleType) * col("cb") * col("nb")), 6)
            .cast(DoubleType).as("lift"))
        .orderBy("w1", "w2")
    }),

    // qe1 int8 embedding quantization (the serving/ANN compression step):
    // per-vector symmetric scale 127/max|x|, qi = floor(x*scale), with
    // reconstruction-error stats. All row-level IEEE double arithmetic
    // (identical across engines); the error sum folds exact
    // DECIMAL(28,14) terms into a DECIMAL(38,14) accumulator — same
    // exact sum as the oracle's SUM over the per-element decimals.
    // ONE scan, zero joins, zero explodes: every stat is a per-row array
    // HOF (array_max / array_min / aggregate), so the whole query is a
    // single whole-stage-codegen projection + top-500 sort.
    // QE5 RESIDUAL QUANTIZATION — the RQ member of the compression
    // family (qe1 int8/vector, qe4 int8/dimension, qe2 truncation, qe3
    // 1-bit, qs8 PQ): quantize with a coarse codebook, then quantize
    // the RESIDUAL with a second one — x̂ = c1 + c2, the additive-
    // codebook shape serving indexes use between PQ and full precision.
    // Deterministic codebooks from the data (stage 1 = vec_id % 50
    // sample, stage 2 = the residuals of the % 71 sample — qs4's
    // convention); assignment = exact integer argmin of squared L2
    // (d² = |x|² − 2x·c + |c|², int64 dot_long kernels, min over a
    // lexicographic (d², cid) struct so ties break identically in the
    // oracle's ROW_NUMBER); per-stage error sums are exact int64 and
    // the stage-2/stage-1 ratio rides as ONE IEEE division. Scale:
    // codebooks BROADCAST (tiny at any corpus size), assignment is a
    // row-local crossJoin pass + a partial-aggregatable argmin groupBy
    // — the corpus never self-joins (qs2's small-pairwise-relation
    // lesson: array kernels win here).
    // QT23 ZIPF RANK-FREQUENCY AUDIT — the corpus-health check behind
    // tokenizer and vocab decisions (natural text has r·f ≈ const;
    // synthetic, templated, or scraped-boilerplate corpora don't —
    // and a log-log regression would need ln(), which cannot cross
    // engines): the top-50 tokens by exact count with rank·freq as
    // the EXACT INTEGER constancy signal, plus each token's share of
    // the corpus as one rounded IEEE division. Scale: one partial-
    // aggregatable token count; the top-k is TakeOrdered over the
    // vocab-sized relation (never a corpus sort), and the rank window
    // runs over exactly 50 rows.
    "qt23_zipf" -> ((s, d) => {
      val counts = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val tot = counts.agg(sum(col("freq")).as("n_tok"))
      val top = counts.orderBy(col("freq").desc, col("tok")).limit(50)
      val w = Window.orderBy(col("freq").desc, col("tok"))
      top
        .withColumn("rank", row_number().over(w).cast(LongType))
        .crossJoin(broadcast(tot))
        .select(col("rank"), col("tok"), col("freq"),
          (col("rank") * col("freq")).as("rf"),
          round(col("freq").cast(DoubleType) / col("n_tok"), 6)
            .cast(DoubleType).as("share"))
        .orderBy("rank")
    }),

    // Q120 EXACT CLUSTER MEDOIDS — the serving/clustering verb k-means
    // (qs4) cannot give: the centroid is a synthetic mean vector, but
    // a cache key, an exemplar document, or a routing prototype must
    // be a REAL member — the medoid, argmin_x Σ_y d²(x, y) within the
    // cluster. Assignment replays the deterministic coarse codebook
    // (vec_id % 50 sample, exact int64 L2 argmin with (d², cid) tie
    // order — qe5's regime); the medoid itself is the documented
    // bounded quadratic: a CLUSTER-KEYED self-join (never corpus-wide
    // — pair count is Σ|cluster|², AQE-skew-splittable), int64 dot
    // kernels, one (cid, member) partial aggregate, one per-cluster
    // argmin. Magnitude: Σ_y d² ≤ members·64·(2·10⁷)² ≈ 1.3e18 —
    // inside int64 with the fixed-point scale. All exact integers;
    // medoid identity and its exact sum are the hash-checked output.
    "q120_medoid" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .filter(size(col("embedding")) === 64)
        .select(col("vec_id"), expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT))")
          .as("ei"))
      val c1 = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("cid"), col("ei").as("ce"))
      val asg = emb.crossJoin(broadcast(c1))
        .withColumn("d2", expr(
          "dot_long(ei, ei) - 2 * dot_long(ei, ce) + dot_long(ce, ce)"))
        .groupBy("vec_id")
        .agg(min(struct(col("d2"), col("cid"))).as("m"),
          any_value(col("ei")).as("ei"))
        .select(col("vec_id"), col("m.cid").as("cid"), col("ei"))
      val a = asg.select(col("cid"), col("vec_id").as("va"),
        col("ei").as("ea"))
      val b = asg.select(col("cid"), col("vec_id").as("vb"),
        col("ei").as("eb"))
      a.join(b, Seq("cid"))
        .withColumn("d2", expr(
          "dot_long(ea, ea) - 2 * dot_long(ea, eb) + dot_long(eb, eb)"))
        .groupBy("cid", "va")
        .agg(sum(col("d2")).as("sd2"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n_members"),
          min(struct(col("sd2"), col("va"))).as("m"))
        .select(col("cid"), col("m.va").as("medoid"),
          col("n_members"), col("m.sd2").as("sum_d2"))
        .orderBy("cid")
    }),

    "qe5_residualquant" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .filter(size(col("embedding")) === 64)
        .select(col("vec_id"), expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT))")
          .as("ei"))
      val c1 = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("cid1"), col("ei").as("ce1"))
      val a1 = emb.crossJoin(broadcast(c1))
        .withColumn("d2", expr(
          "dot_long(ei, ei) - 2 * dot_long(ei, ce1) + dot_long(ce1, ce1)"))
        .groupBy("vec_id")
        .agg(min(struct(col("d2"), col("cid1"))).as("m"),
          any_value(col("ei")).as("ei"))
        .select(col("vec_id"), col("ei"),
          col("m.cid1").as("cid1"), col("m.d2").as("err1"))
        .join(broadcast(c1), Seq("cid1"))
        .withColumn("r1", expr("zip_with(ei, ce1, (x, y) -> x - y)"))
      val c2 = a1.filter(col("vec_id") % 71 === 0)
        .select(col("vec_id").as("cid2"), col("r1").as("ce2"))
      a1.crossJoin(broadcast(c2))
        .withColumn("e2", expr(
          "dot_long(r1, r1) - 2 * dot_long(r1, ce2) + dot_long(ce2, ce2)"))
        .groupBy("vec_id")
        .agg(any_value(col("cid1")).as("cid1"),
          any_value(col("err1")).as("err1"),
          min(struct(col("e2"), col("cid2"))).as("m2"))
        .select(col("vec_id"), col("cid1"), col("err1"),
          col("m2.e2").as("err2"))
        .groupBy("cid1")
        .agg(count(lit(1)).as("n"),
          sum(col("err1")).as("err1"), sum(col("err2")).as("err2"))
        .withColumn("gain",
          round(col("err2").cast(DoubleType) / col("err1"), 6)
            .cast(DoubleType))
        .orderBy("cid1")
    }),

    // QE6 PCA TOP COMPONENT — the embedding-analysis verb the qe
    // family's quantizers feed on (which direction carries the
    // variance drives channel/residual budget decisions): the leading
    // eigenvector of the corpus covariance by power iteration, made
    // CROSS-ENGINE EXACT end to end. Covariance is the q105/q95
    // cross-scaled integer form — C[i][j] = n·Σxᵢxⱼ − (Σxᵢ)(Σxⱼ) over
    // the fixed-point int64 embeddings, decimal-exact, one 4096-key
    // partial aggregate over the pair-exploded relation. The 64×64
    // matrix COLLECTS TO THE DRIVER (the qs4-centroid convention:
    // metadata-scale state, O(d²) regardless of corpus size) and 8
    // power iterations run in exact BigInt arithmetic; each iteration
    // rescales by the power of ten that truncates the max-magnitude
    // entry to ≤ 7 digits (digit count is exact in both engines, trunc
    // division replayed verbatim), so there is NO floating point
    // anywhere in the iteration and the DuckDB oracle replays the
    // identical 8 rounds in HUGEINT. The single IEEE op is the final
    // component display v/max|v|. Scale: the corpus pass is the one
    // (i,j)-keyed aggregate; iteration cost is O(d²) driver-side.
    "qe6_pca" -> ((s, d) => {
      // ONE corpus pass through the native cov_accum64 aggregate: n,
      // Σxᵢ, and the 2080 upper-triangle Σxᵢxⱼ accumulate in a single
      // Array[Long] buffer per partition (a tight 2080-iteration JVM
      // loop per vector; the exploded self-join form measured 4.0 s at
      // sf0.1 — this is ~0.5 s)
      val accRow = t(s, d, "embeddings")
        .filter(size(col("embedding")) === 64)
        .select(expr(
          "cov_accum64(transform(embedding, " +
            "x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT)))")
          .as("acc"))
        .head()
      val acc = accRow.getSeq[Long](0)
      val dim = 64
      val n = acc(0)
      val s1 = Array.tabulate(dim + 1)(i =>
        if (i == 0) BigInt(0) else BigInt(acc(i)))
      val c = Array.ofDim[BigInt](dim + 1, dim + 1)
      var k = 1 + dim
      for (i <- 1 to dim; j <- i to dim) {
        val v = BigInt(n) * BigInt(acc(k)) - s1(i) * s1(j)
        c(i)(j) = v; c(j)(i) = v
        k += 1
      }
      var v = Array.fill(dim + 1)(BigInt(1))
      for (_ <- 1 to 8) {
        val u = Array.tabulate(dim + 1)(i =>
          if (i == 0) BigInt(0)
          else (1 to dim).map(j => c(i)(j) * v(j)).sum)
        val m = u.map(_.abs).max
        val sh = math.max(m.toString.length - 7, 0)
        val dv = BigInt(10).pow(sh)
        // trunc-toward-zero division, replayed verbatim in the oracle
        v = u.map(_ / dv)
      }
      import s.implicits._
      val base = (1 to dim).map(i => (i.toLong, v(i).toLong)).toDF("i", "v")
      val mxDf = base.agg(max(abs(col("v"))).as("mxv"))
      base.crossJoin(broadcast(mxDf))
        .select(col("i"), col("v"),
          round(col("v").cast(DoubleType) / col("mxv").cast(DoubleType), 6)
            .cast(DoubleType).as("comp"))
        .orderBy("i")
    }),

    "qe1_int8quant" -> ((s, d) =>
      t(s, d, "embeddings")
        // zero-length embeddings: the oracle's unnest drops such vec_ids
        // entirely, while the array-HOF form would emit a NULL-stats row
        // — filter to keep the engines aligned (a no-op on the fixed-
        // width fixtures, and the row is meaningless anyway)
        .filter(size(col("embedding")) > 0)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("xs"))
        .select(col("vec_id"), col("xs"),
          expr("array_max(transform(xs, x -> abs(x)))").as("mx"))
        .select(col("vec_id"),
          expr("CAST(array_min(transform(xs, x -> floor(x * (127.0 / mx)))) AS BIGINT)")
            .as("qmin"),
          expr("CAST(array_max(transform(xs, x -> floor(x * (127.0 / mx)))) AS BIGINT)")
            .as("qmax"),
          expr("""CAST(ROUND(CAST(aggregate(xs, CAST(0 AS DECIMAL(38,14)),
                 |  (acc, x) -> CAST(acc + CAST(abs(floor(x * (127.0 / mx)) * mx / 127.0 - x)
                 |                              AS DECIMAL(28,14)) AS DECIMAL(38,14)))
                 |  AS DOUBLE) / size(xs), 8) AS DOUBLE)""".stripMargin)
            .as("mean_abs_err"))
        .orderBy("vec_id")
        .limit(500)),

    // qe4 PER-DIMENSION (channel-wise) int8 quantization — the FAISS-
    // SQ8-style member of the compression family: one shared scale per
    // DIMENSION across the corpus (qe1 scales per vector), which is
    // what a serving index actually ships (one 64-float scale table,
    // not a scale per row). Scale shape: one explode scan → a
    // (dim)-cardinality partial aggregate (64 rows — never a corpus
    // shuffle) → the 64-row scale table BROADCAST back onto the scan →
    // per-dim quantization-error stats, again (dim)-keyed. Same exact
    // arithmetic regime as qe1: floor over correctly-rounded IEEE
    // doubles, DECIMAL(28,14) error terms in a (38,14) accumulator.
    "qe4_chanquant" -> ((s, d) => {
      val ex = t(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "xf")))
        .select((col("i0") + 1).cast(LongType).as("dim"),
          col("xf").cast(DoubleType).as("x"))
      val scales = ex.groupBy("dim").agg(max(abs(col("x"))).as("mx"))
      ex.join(broadcast(scales), Seq("dim"))
        .withColumn("qi", floor(col("x") * (lit(127.0) / col("mx"))))
        .groupBy("dim")
        .agg(round(max(col("mx")), 6).cast(DoubleType).as("mx"),
          min(col("qi")).cast(LongType).as("qmin"),
          max(col("qi")).cast(LongType).as("qmax"),
          round(sum(expr("CAST(CAST(abs(qi * mx / 127.0 - x) AS DECIMAL(28,14)) AS DECIMAL(38,14))"))
            .cast(DoubleType) / count(lit(1)), 8).cast(DoubleType)
            .as("mean_abs_err"))
        .orderBy("dim")
    }),

    // qm1 multimodal plumbing: opaque binary payload column + fixed-width
    // features (byte length, head bytes as hex, rolling byte hash of the
    // 16-byte head). The decode step for real image/audio bytes is the
    // Media.decodeStub path (graft.multimodal) — this query proves the
    // binary column plumbing end-to-end against the oracle.
    "qm1_multimodal" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), col("text").cast(BinaryType).as("media"))
        .select(col("doc_id"),
          length(col("media")).cast(LongType).as("n_bytes"),
          upper(substring(hex(col("media")), 1, 16)).as("head_hex"),
          expr("roll_hash31(substring(cast(media AS STRING), 1, 16))")
            .as("head_hash"))
        .orderBy("doc_id")
    }),

    "qm2_mediafeat" -> ((s, d) => qm2(s, d)),

    // QM5 PERCEPTUAL-HASH MEDIA NEAR-DUP — the multimodal member of the
    // dedup family (qd2 simhashes TOKENS; media payloads have no
    // tokens): a 60-bit block-hash signature over the opaque BINARY
    // payload (60 equal blocks, bit = parity of the block's rolling
    // hash — the pHash shape with the stubbed codec boundary standing
    // in for DCT, per qm2/qm3's convention), banded 4×15 for LSH
    // candidates, exact Hamming ≤ 6 verify via xor+popcount on the
    // riding band keys. 15-bit bands deliberately avoid the BIGINT
    // MSB (qe3's DuckDB shift-overflow lesson). Pair-unique first-
    // matching-band emission (qd2's idiom) — no distinct exchange;
    // signature build is row-local (one scan), the only corpus
    // exchange is the band self-join, whose keyspace grows with the
    // corpus. VARCHAR slicing == byte slicing on the declared ASCII
    // payload contract (chars == bytes), hex uppercased both engines.
    "qm5_phashdup" -> ((s, d) => {
      val sk = t(s, d, "documents")
        .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
        .filter(length(col("payload")) >= 60)
        .withColumn("bs", expr("CAST(length(payload) div 60 AS INT)"))
        .select(col("doc_id") +: (0 until 4).map { k =>
          expr(
            s"aggregate(transform(sequence(${k * 15}, ${k * 15 + 14}), i -> " +
              "IF(roll_hash31(upper(hex(substring(payload, CAST(i AS INT) * bs + 1, bs)))) % 2 = 1, " +
              s"shiftleft(CAST(1 AS BIGINT), CAST(i - ${k * 15} AS INT)), CAST(0 AS BIGINT))), " +
              "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as(s"b$k")
        }: _*)
        .transform(graft.operators.OpCaches.track)
      val bands = sk.select(col("doc_id"),
        col("b0"), col("b1"), col("b2"), col("b3"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
          .as(Seq("k", "key")))
      bands.as("x").join(bands.as("y"),
          col("x.k") === col("y.k") && col("x.key") === col("y.key")
            && col("x.doc_id") < col("y.doc_id")
            && (col("x.k") === 0 || col("x.b0") =!= col("y.b0"))
            && (col("x.k") <= 1 || col("x.b1") =!= col("y.b1"))
            && (col("x.k") <= 2 || col("x.b2") =!= col("y.b2")))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          (bit_count(col("x.b0").bitwiseXOR(col("y.b0")))
            + bit_count(col("x.b1").bitwiseXOR(col("y.b1")))
            + bit_count(col("x.b2").bitwiseXOR(col("y.b2")))
            + bit_count(col("x.b3").bitwiseXOR(col("y.b3"))))
            .cast(LongType).as("hd"))
        .filter(col("hd") <= 6)
        .orderBy("a", "b")
    }),

    // qm3 frame sampling — the video-frame-sample plumbing shape over an
    // opaque BINARY payload: "frames" are fixed 16-byte windows at
    // stride 64, every 4th frame is sampled, and each sampled frame
    // ships only a fixed-width feature (the rolling hash of its hex) —
    // the decode itself stays the stubbed codec boundary (qm2's
    // convention, ASCII text bytes standing in for the stream), but the
    // schema, the row-local explode fan-out (one row per frame, linear
    // in payload bytes, no shuffle before the final sort) and the
    // byte-slicing plumbing are real and oracle-checked.
    "qm3_framesample" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
        .filter(length(col("payload")) >= 16)
        .select(col("doc_id"), col("payload"),
          explode(expr(
            "sequence(0L, CAST((length(payload) - 16) div 64 AS BIGINT))"))
            .as("f"))
        .filter(col("f") % 4 === 0)
        .select(col("doc_id"), col("f"),
          expr("roll_hash31(upper(hex(substring(payload, CAST(f * 64 + 1 AS INT), 16))))")
            .as("fh"))
        .orderBy("doc_id", "f")
    }),

    // qm4 binaryFile SOURCE ingest (round 6): the lake-side half of the
    // multimodal story qm1–qm3 assume — raw media arrives as FILES, not
    // parquet rows. The fixture stage writes one file per sampled doc
    // DISTRIBUTEDLY (partitionBy(doc_id) text sink — no driver loop, no
    // collect; ASCII text bytes stand in for media payloads per the
    // declared codec-stub convention), then `spark.read.format
    // ("binaryFile")` ingests the directory tree: one row per file with
    // (path, length, content) — the schema a 100 TB image/audio crawl
    // lands in before any decode. The id parses from the partition
    // path, the length is the source's file-size metadata column
    // (filterable WITHOUT reading content bytes — binaryFile pushes
    // length/path filters to the listing), and the rolling hash of the
    // content proves byte-exact ingest (the text sink appends one \n
    // per line, which the oracle models as text || chr(10)).
    "qm4_binaryfiles" -> ((s, d) => {
      val dir = "target/graft-binfiles/" + d.replaceAll("[^A-Za-z0-9]", "_")
      t(s, d, "documents").filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), col("text").as("value"))
        .write.mode("overwrite").partitionBy("doc_id").text(dir)
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt").load(dir)
        .select(
          regexp_extract(col("path"), "doc_id=(\\d+)", 1)
            .cast(LongType).as("doc_id"),
          col("length").as("n_bytes"),
          expr("roll_hash31(cast(content AS STRING))").as("fp"))
        .orderBy("doc_id")
    }),

    // QM6 IMAGE-HEADER METADATA EXTRACTION — the multimodal kernel the
    // qm1–qm5 plumbing was built for: byte-level parsing of a BINARY
    // image column WITHOUT any codec library. Deterministic PNG-shaped
    // blobs (8-byte signature + IHDR: 4-byte big-endian width/height +
    // depth/color/compression/filter/interlace — no CRC/IDAT, the
    // documented codec stub boundary) are CONSTRUCTED from doc fields
    // (width = 64 + n_chars%1000, height = 64 + 37·doc_id%800), then
    // PARSED BACK purely with binary slicing + big-endian conv() — the
    // exact shape EXIF/IHDR extraction takes at 100 TB: row-local, one
    // scan, no shuffle, runs inside whole-stage codegen. The oracle
    // recomputes every output from the SOURCE fields, so the hash match
    // proves the encode→slice→decode round trip end to end.
    "qm6_imagemeta" -> ((s, d) => {
      val blobs = t(s, d, "documents").filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), unhex(concat(
          lit("89504E470D0A1A0A"), lit("0000000D"), lit("49484452"),
          lpad(hex(lit(64L) + col("n_chars") % 1000L), 8, "0"),
          lpad(hex(lit(64L) + (col("doc_id") * 37L) % 800L), 8, "0"),
          lit("0806000000"))).as("img"))
      blobs
        .withColumn("hx", hex(col("img")))
        .select(col("doc_id"),
          conv(substring(col("hx"), 33, 8), 16, 10).cast(LongType)
            .as("width"),
          conv(substring(col("hx"), 41, 8), 16, 10).cast(LongType)
            .as("height"),
          length(col("img")).cast(LongType).as("n_bytes"),
          when(substring(col("hx"), 1, 16) === "89504E470D0A1A0A", 1L)
            .otherwise(0L).as("sig_ok"),
          decode(unhex(substring(col("hx"), 25, 8)), "UTF-8").as("ctype"))
        .withColumn("pixels", col("width") * col("height"))
        .orderBy("doc_id")
    }),

    // QM7 AUDIO-FRAME FEATURE EXTRACTION — the audio sibling of qm6's
    // image-header parse, and one step PAST the codec boundary: PCM
    // needs no codec library, so the FEATURES themselves are real, not
    // stubbed. Deterministic WAV-shaped blobs (canonical 44-byte
    // RIFF/WAVE PCM header — all multi-byte fields LITTLE-ENDIAN, the
    // axis qm6's big-endian PNG parse doesn't exercise — plus 64 int16
    // LE samples s_i = ((doc_id·131 + i·17) mod 65536) − 32768) are
    // CONSTRUCTED from doc fields, then parsed back purely with hex
    // slicing + byte-pair reversal + conv(): sample rate / channels /
    // bit depth / data size read from the header bytes, samples decoded
    // two's-complement, and per-16-sample frames reduced to the two
    // classic audio features — ENERGY Σs² (exact int64; max 64·32768²
    // ≈ 2³⁶, no overflow) and ZERO CROSSINGS (sign-change count). The
    // oracle recomputes everything from the SOURCE formula, so the
    // hash match proves the encode→LE-parse→feature round trip. Scale:
    // row-local, one scan, whole-stage codegen, no shuffle before the
    // presentation sort — the per-blob shape a 100 TB audio crawl's
    // feature pass takes (real corpora swap the sample formula for the
    // decoded PCM page; the parse/feature plumbing is unchanged).
    "qm7_audioenergy" -> ((s, d) => {
      val headerHex = "52494646" + "A4000000" + "57415645" +
        "666D7420" + "10000000" + "0100" + "0100" + "803E0000" +
        "007D0000" + "0200" + "1000" + "64617461" + "80000000"
      val blobs = t(s, d, "documents").filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), unhex(concat(lit(headerHex),
          expr("concat_ws('', transform(sequence(0, 63), i -> " +
            "substr(lpad(hex(((doc_id * 131 + i * 17) % 65536 + 32768) " +
            "% 65536), 4, '0'), 3, 2) || " +
            "substr(lpad(hex(((doc_id * 131 + i * 17) % 65536 + 32768) " +
            "% 65536), 4, '0'), 1, 2)))"))).as("wav"))
      blobs
        .withColumn("hx", hex(col("wav")))
        .withColumn("sig_ok",
          when(expr("substr(hx, 1, 8)") === "52494646"
            && expr("substr(hx, 17, 8)") === "57415645", 1L)
            .otherwise(0L))
        .withColumn("sr", expr(
          "CAST(conv(substr(hx, 55, 2) || substr(hx, 53, 2) || " +
            "substr(hx, 51, 2) || substr(hx, 49, 2), 16, 10) AS BIGINT)"))
        .withColumn("ch", expr(
          "CAST(conv(substr(hx, 47, 2) || substr(hx, 45, 2), 16, 10) " +
            "AS BIGINT)"))
        .withColumn("bits", expr(
          "CAST(conv(substr(hx, 71, 2) || substr(hx, 69, 2), 16, 10) " +
            "AS BIGINT)"))
        .withColumn("n_samples", expr(
          "CAST(conv(substr(hx, 87, 2) || substr(hx, 85, 2) || " +
            "substr(hx, 83, 2) || substr(hx, 81, 2), 16, 10) AS BIGINT) " +
            "div (bits div 8)"))
        .withColumn("sm", expr(
          "transform(sequence(0, CAST(n_samples - 1 AS INT)), i -> " +
            "CAST(IF(CAST(conv(substr(hx, 91 + 4 * i, 2) || " +
            "substr(hx, 89 + 4 * i, 2), 16, 10) AS BIGINT) >= 32768, " +
            "CAST(conv(substr(hx, 91 + 4 * i, 2) || " +
            "substr(hx, 89 + 4 * i, 2), 16, 10) AS BIGINT) - 65536, " +
            "CAST(conv(substr(hx, 91 + 4 * i, 2) || " +
            "substr(hx, 89 + 4 * i, 2), 16, 10) AS BIGINT)) AS BIGINT))"))
        .select(col("doc_id"), col("sig_ok"), col("sr"), col("ch"),
          col("bits"), col("n_samples"),
          explode(expr(
            "transform(sequence(0, CAST(n_samples div 16 - 1 AS INT)), " +
              "f -> named_struct(" +
              "'frame', CAST(f AS BIGINT), " +
              "'energy', aggregate(slice(sm, f * 16 + 1, 16), 0L, " +
              "(a, x) -> a + x * x), " +
              "'zc', aggregate(sequence(f * 16, f * 16 + 14), 0L, " +
              "(a, j) -> a + IF(sm[j] * sm[j + 1] < 0, 1L, 0L))))"))
            .as("fr"))
        .select(col("doc_id"), col("sig_ok"), col("sr"), col("ch"),
          col("bits"), col("n_samples"), col("fr.frame").as("frame"),
          col("fr.energy").as("energy"), col("fr.zc").as("zc"))
        .orderBy("doc_id", "frame")
    }),

    // QM8 CONTAINER-FORMAT BOX WALK — the third multimodal parsing
    // axis: qm6 reads FIXED offsets (flat header), qm7 adds
    // little-endian decode; real media containers (MP4/ISO-BMFF's
    // size-type boxes) need VARIABLE offsets — each box's position is
    // computed from the previously PARSED sizes, which is exactly how
    // a fixed-depth container scan vectorizes (unrolled offset
    // expressions, no per-row loop). Deterministic 3-box blobs
    // ([4-byte BE size incl. 8-byte header][4-char type][payload],
    // payload lengths varying per doc via declared formulas, payload
    // bytes (i·7 + doc_id + 13·box) mod 256) are constructed from doc
    // fields, then parsed back reading size1 FROM BYTES to locate
    // box2, and so on; each payload's rolling-hash fingerprint over
    // its hex image is emitted, plus a total-size conservation flag
    // (Σ parsed sizes == blob length). The oracle recomputes every
    // field from the source formulas — the hash match proves the
    // walk. Row-local, one scan, codegen, no shuffle.
    "qm8_boxparse" -> ((s, d) => {
      def payHex(p: String, b: Int): String =
        s"concat_ws('', transform(sequence(0, CAST($p AS INT) - 1), " +
          s"i -> lpad(hex((i * 7 + doc_id + ${13 * b}) % 256), 2, '0')))"
      val blobs = t(s, d, "documents").filter(col("doc_id") % 11 === 0)
        .withColumn("p1", (col("doc_id") % 8) + 4L)
        .withColumn("p2", (col("n_chars") % 8) + 4L)
        .withColumn("p3", ((col("doc_id") * 3L) % 8) + 8L)
        .select(col("doc_id"), unhex(concat(
          expr("lpad(hex(p1 + 8), 8, '0')"), lit("66747970"),
          expr(payHex("p1", 1)),
          expr("lpad(hex(p2 + 8), 8, '0')"), lit("6D657461"),
          expr(payHex("p2", 2)),
          expr("lpad(hex(p3 + 8), 8, '0')"), lit("64617461"),
          expr(payHex("p3", 3)))).as("blob"))
      blobs
        .withColumn("hx", hex(col("blob")))
        // the walk: each offset is an expression over PARSED sizes
        .withColumn("s1", expr("CAST(conv(substr(hx, 1, 8), 16, 10) AS BIGINT)"))
        .withColumn("s2", expr(
          "CAST(conv(substr(hx, CAST(s1 * 2 + 1 AS INT), 8), 16, 10) AS BIGINT)"))
        .withColumn("s3", expr(
          "CAST(conv(substr(hx, CAST((s1 + s2) * 2 + 1 AS INT), 8), 16, 10) AS BIGINT)"))
        .withColumn("total_ok",
          when(col("s1") + col("s2") + col("s3")
            === length(col("blob")).cast(LongType), 1L).otherwise(0L))
        .select(col("doc_id"), col("total_ok"), explode(expr(
          "transform(array(" +
            "named_struct('idx', 1L, 'off', 0L, 'sz', s1), " +
            "named_struct('idx', 2L, 'off', s1, 'sz', s2), " +
            "named_struct('idx', 3L, 'off', s1 + s2, 'sz', s3)), " +
            "bx -> named_struct(" +
            "'idx', bx.idx, 'bsize', bx.sz, " +
            "'btype', decode(unhex(substr(hx, CAST(bx.off * 2 + 9 AS INT), 8)), 'UTF-8'), " +
            "'fp', roll_hash31(substr(hx, CAST(bx.off * 2 + 17 AS INT), " +
            "CAST((bx.sz - 8) * 2 AS INT)))))")).as("b"))
        .select(col("doc_id"), col("b.idx").as("idx"),
          col("b.btype").as("btype"), col("b.bsize").as("bsize"),
          col("b.fp").as("fp"), col("total_ok"))
        .orderBy("doc_id", "idx")
    }),

    // QM13 DUAL-ENDIAN TIFF DECODE (round 10) — the BYTE-ORDER
    // dimension of the real-codec family: BMP/WAV/PNG are all
    // little-endian formats, so qm9–qm12 never prove the executor
    // decode path survives a big-endian container. Baseline TIFF is
    // the classic dual-order format ("II"/"MM", magic 42), and its
    // SHORT-inline-value rule (first two bytes of the 4-byte field,
    // in FILE order) is the trap a naive u32 read fails by ×65536 on
    // MM files. Per sampled doc: formula pixels → real TIFF encode in
    // the doc-parity byte order (HALF the corpus each way — a decoder
    // handling only II cannot pass), → the independent IFD-walking
    // decoder (multimodal/Tiff.decodeRgb: order re-derived per read,
    // IFD offset as stored, per-type value reads, untrusted sizes
    // rejected before allocation) → INT64 features from DECODED
    // pixels. The oracle replays the pixel formula, so an endianness
    // or IFD-layout bug lands in the position-sensitive wsum;
    // big_endian rides as data pinning the half/half split. Scale:
    // qm9's — row-local encode+decode+reduce in ONE mapPartitions
    // stage, payloads never shuffle. TiffSpec pins hand-built golden
    // bytes in BOTH orders, decode equality across orders, and
    // untrusted-header rejection.
    "qm13_tiffdecode" -> ((s, d) => {
      import s.implicits._
      val feats = t(s, d, "documents").filter(col("doc_id") % 6 === 1)
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 9 + (id % 6).toInt
            val h = 7 + (id % 4).toInt
            val rgb = new Array[Byte](3 * w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = 3 * (y * w + x)
                rgb(p) = ((2L * id + 11L * x + 3L * y) % 256).toByte
                rgb(p + 1) = ((5L * x + y.toLong * y + id) % 256).toByte
                rgb(p + 2) = ((x + 9L * y + 4L * id) % 256).toByte
                x += 1
              }
              y += 1
            }
            val big = id % 2 == 0
            val bytes = graft.multimodal.Tiff.encodeRgb(w, h, rgb, big)
            val img = graft.multimodal.Tiff.decodeRgb(bytes)
            var sr = 0L; var sg = 0L; var sb = 0L; var ws = 0L
            var i = 0
            val n = img.width * img.height
            while (i < n) {
              val r = img.rgb(3 * i) & 0xff
              val g = img.rgb(3 * i + 1) & 0xff
              val b = img.rgb(3 * i + 2) & 0xff
              sr += r; sg += g; sb += b
              ws += (r * 65536L + g * 256L + b) * (i % 89 + 1)
              i += 1
            }
            graft.multimodal.TiffFeat(id, img.width.toLong,
              img.height.toLong, if (img.bigEndian) 1L else 0L,
              bytes.length.toLong, sr, sg, sb, ws)
          }
        }
      feats.toDF().orderBy("doc_id")
    }),

    // QM9 REAL BMP DECODE (round 10 — the r9 verdict's item 3): the
    // declared codec-stub boundary replaced by one HONEST format. Per
    // sampled doc the executor builds formula pixels, ENCODES them as a
    // real 24-bit BI_RGB BMP (odd widths → 4-byte row padding; every
    // 3rd image top-down via negative height), then DECODES the bytes
    // with the independent header-parsing decoder
    // (multimodal/Bmp.decode24 — offset/padding/row-direction honored
    // from the header, not assumed) and emits INT64 per-pixel features
    // from the DECODED pixels. The oracle replays the features from the
    // pixel FORMULA, so any decode-layout bug (row order, padding, BGR
    // swap, offset) breaks the position-sensitive wsum hash — encoder
    // and decoder share no layout code, so mirrored bugs cannot cancel
    // (golden fixed-byte decode is additionally pinned in BmpSpec).
    // Scale shape: encode+decode+reduce is row-local inside ONE
    // mapPartitions stage — payload bytes never shuffle, only the
    // fixed-width feature row leaves the executor.
    "qm9_bmpdecode" -> ((s, d) => {
      import s.implicits._
      val feats = t(s, d, "documents").filter(col("doc_id") % 5 === 0)
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 16 + (id % 7).toInt
            val h = 8 + (id % 5).toInt
            val rgb = new Array[Byte](3 * w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = 3 * (y * w + x)
                rgb(p) = ((id + 7L * x + 13L * y) % 256).toByte
                rgb(p + 1) = ((3L * x + 5L * y + 2L * id) % 256).toByte
                rgb(p + 2) = ((x.toLong * y + id) % 256).toByte
                x += 1
              }
              y += 1
            }
            val bytes = graft.multimodal.Bmp.encode24(w, h, rgb,
              topDown = id % 3 == 0)
            val img = graft.multimodal.Bmp.decode24(bytes)
            var sr = 0L; var sg = 0L; var sb = 0L; var ws = 0L
            var i = 0
            val n = img.width * img.height
            while (i < n) {
              val r = img.rgb(3 * i) & 0xff
              val g = img.rgb(3 * i + 1) & 0xff
              val b = img.rgb(3 * i + 2) & 0xff
              sr += r; sg += g; sb += b
              ws += (r * 65536L + g * 256L + b) * (i % 97 + 1)
              i += 1
            }
            graft.multimodal.BmpFeat(id, img.width.toLong, img.height.toLong,
              bytes.length.toLong, sr, sg, sb, ws)
          }
        }
      feats.toDF().orderBy("doc_id")
    }),

    // QM10 PERCEPTUAL AHASH NEAR-DUP OVER DECODED PIXELS (round 10):
    // qm9's real decoder composed with the qm5 dedup idiom — image
    // near-duplicate detection computed from DECODED pixel values, the
    // step qm5's byte-level pHash stub could not take. Corpus: every
    // 10-id block's two sampled docs share a BASE image (block-
    // structured levels from a per-base pattern, so block means are
    // well-separated — aHash on noise is a coin flip, on structure a
    // signature) and differ only in per-doc texture terms — real
    // near-dups by construction, while cross-base patterns differ in
    // ~32/64 bits. Pipeline per doc (all on the executor, one
    // mapPartitions stage): formula pixels → REAL BMP encode (odd
    // widths, mixed top-down) → independent decode → 8×8 block-mean
    // aHash from the decoded bytes, with the above-global-mean bit
    // decided by exact integer cross-multiplication (blocksum·n ≥
    // total·npix — no division, both engines identical); then the qm5
    // LSH shape: 4×16-bit bands (BIGINT-MSB-safe), first-matching-band
    // pair emission, exact Hamming ≤ 6 verify via xor+popcount on the
    // riding keys. The oracle replays the aHash from the pixel FORMULA
    // — a decode-layout bug shifts block sums and breaks the band
    // keys. Scale: signature build is row-local; the only corpus
    // exchange is the band self-join keyed on a 2¹⁶-value space per
    // band that shrinks buckets as the corpus grows.
    "qm10_ahashdup" -> ((s, d) => {
      import s.implicits._
      val sk = t(s, d, "documents").filter(col("doc_id") % 5 === 0)
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val base = id - id % 10
            val bigh = (base * 2654435761L) / 1024
            val c1 = (bigh % 8).toInt
            val c2 = 1 + ((bigh / 8) % 7).toInt
            val c3 = 1 + ((bigh / 64) % 7).toInt
            val w = 16 + ((base / 10) % 7).toInt
            val h = 8 + ((base / 10) % 5).toInt
            val rgb = new Array[Byte](3 * w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val bx = x * 8 / w; val by = y * 8 / h
                val lvl = (c1 + c2 * bx + c3 * by + bx * by) % 8
                val p = 3 * (y * w + x)
                rgb(p) = (lvl * 32 + ((7L * x + 13L * y + id) % 32)).toByte
                rgb(p + 1) = (lvl * 32 + ((3L * x + 5L * y + id) % 16)).toByte
                rgb(p + 2) = (lvl * 32 + ((x.toLong * y + id) % 16)).toByte
                x += 1
              }
              y += 1
            }
            val bytes = graft.multimodal.Bmp.encode24(w, h, rgb,
              topDown = id % 3 == 0)
            val img = graft.multimodal.Bmp.decode24(bytes)
            val bs = new Array[Long](64)
            val np = new Array[Long](64)
            var total = 0L
            y = 0
            while (y < img.height) {
              var x = 0
              while (x < img.width) {
                val p = 3 * (y * img.width + x)
                val lum = (img.rgb(p) & 0xff) + (img.rgb(p + 1) & 0xff) +
                  (img.rgb(p + 2) & 0xff)
                val bi = (y * 8 / img.height) * 8 + x * 8 / img.width
                bs(bi) += lum; np(bi) += 1; total += lum
                x += 1
              }
              y += 1
            }
            val n = img.width.toLong * img.height
            val ks = new Array[Long](4)
            var i = 0
            while (i < 64) {
              if (np(i) > 0 && bs(i) * n >= total * np(i))
                ks(i / 16) |= 1L << (i % 16)
              i += 1
            }
            (id, ks(0), ks(1), ks(2), ks(3))
          }
        }
        .toDF("doc_id", "k0", "k1", "k2", "k3")
        .transform(graft.operators.OpCaches.track)
      val bands = sk.select(col("doc_id"),
        col("k0"), col("k1"), col("k2"), col("k3"),
        posexplode(array(col("k0"), col("k1"), col("k2"), col("k3")))
          .as(Seq("band", "key")))
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key")
            && col("x.doc_id") < col("y.doc_id")
            && (col("x.band") === 0 || col("x.k0") =!= col("y.k0"))
            && (col("x.band") <= 1 || col("x.k1") =!= col("y.k1"))
            && (col("x.band") <= 2 || col("x.k2") =!= col("y.k2")))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          (bit_count(col("x.k0").bitwiseXOR(col("y.k0")))
            + bit_count(col("x.k1").bitwiseXOR(col("y.k1")))
            + bit_count(col("x.k2").bitwiseXOR(col("y.k2")))
            + bit_count(col("x.k3").bitwiseXOR(col("y.k3"))))
            .cast(LongType).as("hd"))
        .filter(col("hd") <= 6)
        .orderBy("a", "b")
    }),

    // QM12 REAL PNG DECODE (round 10) — the multimodal decode boundary
    // pushed past qm9's uncompressed BMP to a COMPRESSED container:
    // per sampled doc the executor builds formula pixels, encodes them
    // as a real PNG (zlib DEFLATE via java.util.zip, chunked with
    // CRC-32; filter type y % 5 so every image exercises ALL FIVE
    // scanline filters — a decoder handling only filter 0 cannot
    // pass; even ids split the zlib stream across two+ IDAT chunks, so
    // concatenation is exercised too), then DECODES with the
    // independent chunk-walking decoder (multimodal/Png.decode:
    // signature + per-chunk CRC validation, IDAT concatenation,
    // Inflater, per-row UN-filtering incl. the Paeth predictor) and
    // emits INT64 features from the DECODED pixels. The oracle replays
    // the features from the pixel FORMULA — any unfilter/predictor/
    // inflate-plumbing bug lands in the position-sensitive wsum.
    // Deliberately NO compressed-size column: the deflate byte stream
    // is not a cross-engine constant, only the decoded pixels are.
    // Scale shape: encode+decode+reduce row-local in ONE mapPartitions
    // stage — payload bytes never shuffle, only the fixed-width
    // feature row leaves the executor.
    "qm12_pngdecode" -> ((s, d) => {
      import s.implicits._
      val feats = t(s, d, "documents").filter(col("doc_id") % 6 === 0)
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = 12 + (id % 9).toInt
            val h = 6 + (id % 7).toInt
            val rgb = new Array[Byte](3 * w * h)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = 3 * (y * w + x)
                rgb(p) = ((5L * id + 11L * x + 3L * y) % 256).toByte
                rgb(p + 1) = ((x.toLong * x + 2L * y + id) % 256).toByte
                rgb(p + 2) = ((7L * x + y.toLong * y + 3L * id) % 256).toByte
                x += 1
              }
              y += 1
            }
            val bytes = graft.multimodal.Png.encode(w, h, rgb,
              filterOf = r => r % 5,
              idatSplit = if (id % 2 == 0) 64 else 0)
            val img = graft.multimodal.Png.decode(bytes)
            var sr = 0L; var sg = 0L; var sb = 0L; var ws = 0L
            var i = 0
            val n = img.width * img.height
            while (i < n) {
              val r = img.rgb(3 * i) & 0xff
              val g = img.rgb(3 * i + 1) & 0xff
              val b = img.rgb(3 * i + 2) & 0xff
              sr += r; sg += g; sb += b
              ws += (r * 65536L + g * 256L + b) * (i % 101 + 1)
              i += 1
            }
            graft.multimodal.PngFeat(id, img.width.toLong,
              img.height.toLong, n.toLong, sr, sg, sb, ws)
          }
        }
      feats.toDF().orderBy("doc_id")
    }),

    // QM11 AUDIO FINGERPRINT NEAR-DUP OVER DECODED PCM (round 10):
    // the audio modality raised to qm9/qm10's standard — near-dup
    // detection from DECODED sample values through a REAL RIFF/WAVE
    // PCM16 codec (multimodal/Wav: canonical encoder + an independent
    // chunk-WALKING decoder, so layout bugs can't cancel). The
    // fingerprint is the classic Haitsma–Kalker energy-difference
    // shape: 528 samples → 65 overlapping 16-sample frames (stride 8)
    // → int64 frame energies → 64 sign-of-delta bits (bit f =
    // E[f+1] > E[f]) — robust to the per-doc perturbation by
    // construction because the block-structured amplitude envelope
    // dominates adjacent-frame energy steps. Corpus: every 14-id
    // block's two sampled docs share a BASE envelope (per-(base,
    // block) hashed amplitudes — a bounded-phase pattern would
    // collide, qm10's lesson) and differ in a small additive
    // perturbation — near-dups by construction (~99% of same-base
    // pairs within Hamming 6; cross-base median 32/64 bits). Then the
    // qm5/qm10 LSH shape: 4×16-bit bands, first-matching-band
    // emission, exact Hamming ≤ 6 xor+popcount verify. The oracle
    // replays the fingerprint from the SAMPLE FORMULA — a decoder
    // that mis-signs int16, drops the chunk walk, or misaligns LE
    // pairs shifts energies and breaks the band keys. Scale: encode +
    // decode + fingerprint are row-local in ONE mapPartitions stage;
    // the only corpus exchange is the band self-join.
    "qm11_audiodup" -> ((s, d) => {
      import s.implicits._
      val sk = t(s, d, "documents").filter(col("doc_id") % 7 === 0)
        .select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val base = id - id % 14
            val n = 528
            val samples = new Array[Short](n)
            var i = 0
            while (i < n) {
              val blk = i / 16
              val amp = 1 + (((base + 1) * (blk + 3) * 2654435761L
                / 1024) % 8)
              val tone = (i * 1231L + base * 37L) % 256 - 128
              val pert = (id % 14) * (i % 2)
              val v = amp * tone + pert
              samples(i) = math.max(-32768L, math.min(32767L, v)).toShort
              i += 1
            }
            val bytes = graft.multimodal.Wav.encode16(16000, samples)
            val au = graft.multimodal.Wav.decode16(bytes)
            // fingerprint from the DECODED samples
            val nf = (au.samples.length - 16) / 8 + 1
            val e = new Array[Long](nf)
            var f = 0
            while (f < nf) {
              var j = 0
              var acc = 0L
              while (j < 16) {
                val v = au.samples(f * 8 + j).toLong
                acc += v * v
                j += 1
              }
              e(f) = acc
              f += 1
            }
            val ks = new Array[Long](4)
            f = 0
            while (f < nf - 1) {
              if (e(f + 1) > e(f)) ks(f / 16) |= 1L << (f % 16)
              f += 1
            }
            (id, ks(0), ks(1), ks(2), ks(3))
          }
        }
        .toDF("doc_id", "k0", "k1", "k2", "k3")
        .transform(graft.operators.OpCaches.track)
      val bands = sk.select(col("doc_id"),
        col("k0"), col("k1"), col("k2"), col("k3"),
        posexplode(array(col("k0"), col("k1"), col("k2"), col("k3")))
          .as(Seq("band", "key")))
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key")
            && col("x.doc_id") < col("y.doc_id")
            && (col("x.band") === 0 || col("x.k0") =!= col("y.k0"))
            && (col("x.band") <= 1 || col("x.k1") =!= col("y.k1"))
            && (col("x.band") <= 2 || col("x.k2") =!= col("y.k2")))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          (bit_count(col("x.k0").bitwiseXOR(col("y.k0")))
            + bit_count(col("x.k1").bitwiseXOR(col("y.k1")))
            + bit_count(col("x.k2").bitwiseXOR(col("y.k2")))
            + bit_count(col("x.k3").bitwiseXOR(col("y.k3"))))
            .cast(LongType).as("hd"))
        .filter(col("hd") <= 6)
        .orderBy("a", "b")
    }),

    // qt10 document chunking: fixed 64-token windows with stride 48
    // (16-token overlap) — the pre-tokenization splitting step that
    // turns long documents into training-sized sequences. One scan, the
    // explode fan-out is ⌈n_tok/48⌉ per doc; each chunk carries its
    // token count and a rolling-hash fingerprint (chunk-level exact
    // dedup key downstream: s08 composes this relation with the dedup).
    // Pure integer arithmetic + the shared cross-engine hash.
    "qt10_chunk" -> ((s, d) => chunkRel(t(s, d, "documents")).orderBy("doc_id", "k")),

    // qt11 repetition detection (the Gopher/MassiveText "repeated
    // n-gram" quality filter): per-doc 3-gram count, distinct 3-gram
    // count, duplicate fraction, and a flag for any repetition. Every
    // stat is a row-local array HOF over the token array (transform →
    // array_distinct → size), so the whole query is ONE scan with zero
    // shuffles before the output sort — the canonical shape for a
    // 100 TB per-document quality signal.
    "qt11_repetition" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"),
          greatest(size(col("tk")) - 2, lit(0)).cast(LongType).as("n_tri"),
          expr("CAST(size(array_distinct(IF(size(tk) >= 3, transform(sequence(1, size(tk) - 2), k -> array_join(slice(tk, k, 3), ' ')), array()))) AS BIGINT)")
            .as("n_uniq"))
        .filter(col("n_tri") > 0)
        .select(col("doc_id"), col("n_tri"), col("n_uniq"),
          (col("n_tri") - col("n_uniq")).as("n_dup"),
          round((col("n_tri") - col("n_uniq")).cast(DoubleType) / col("n_tri"), 4)
            .cast(DoubleType).as("rep_ratio"),
          when(col("n_tri") > col("n_uniq"), 1L).otherwise(0L).as("flagged"))
        .orderBy("doc_id")),

    // qx2 deterministic train/val/test split (dataset mixing): the qt5
    // LCG hash assigns each doc a reproducible bucket 0-9 → 8/1/1
    // split; output = per (lang, split) doc and token counts. One scan,
    // one tiny partial-aggregated groupBy — split assignment must NEVER
    // shuffle the corpus (rand()-based splits are neither reproducible
    // nor restart-safe; a hash of the stable id is both).
    "qx2_split" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"),
          ((lit(1103515245L) * (col("doc_id") % 2147483648L) + 12345L)
            % 2147483648L % 10L).as("bucket"))
        .select(col("lang"), col("n_tok"),
          when(col("bucket") <= 7, "train")
            .when(col("bucket") === 8, "val")
            .otherwise("test").as("split"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy("lang", "split")),

    // qx3 dataset mixture balancing: downsample each language to hit a
    // declared target ratio (en:de:zh:fr:es = 4:2:2:1:1) exactly —
    // quota_s = w_s · K with K = min_s ⌊n_s / w_s⌋ (the largest scale
    // at which every stratum can fill its share without upsampling),
    // members chosen by the deterministic LCG rank (qt5's hash). Pure
    // integer arithmetic end-to-end. Plan: one scan, a tiny
    // per-language count, a broadcast of the single K row, one bounded
    // window per stratum — the corpus itself shuffles only on the
    // stratum key. Output = achieved per-language mixture.
    "qx3_mix" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("hk"), col("doc_id"))
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          expr("CAST(CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 2 WHEN 'zh' THEN 2 ELSE 1 END AS BIGINT)")
            .as("w"),
          ((lit(1103515245L) * (col("doc_id") % 2147483648L) + 12345L)
            % 2147483648L).as("hk"))
      val caps = docs.groupBy("lang", "w").agg(count(lit(1)).as("n_avail"))
      val k = caps.agg(min(expr("n_avail div w")).as("k"))
      docs.withColumn("rk", row_number().over(w).cast(LongType))
        .join(caps.select("lang", "n_avail"), Seq("lang"))
        .crossJoin(broadcast(k))
        .where(col("rk") <= col("w") * col("k"))
        .groupBy("lang", "n_avail")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")
    }),

    // qx4 TOKEN-budget mixture sampling — qx3's rebalance in the units
    // production mixing actually uses: the per-language quota is a
    // TOKEN budget (quota_s = w_s · K tokens, K = min_s ⌊T_s/w_s⌋ with
    // T_s the tokens available in stratum s), and membership is the
    // greedy prefix of the deterministic LCG rank order whose running
    // token count stays inside the quota (a doc that would straddle
    // the boundary is dropped — restart-safe, no fractional docs).
    // One scan + a tiny per-language total + a broadcast scalar K +
    // one bounded window per stratum; output = achieved mixture.
    "qx4_tokenmix" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("hk"), col("doc_id"))
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"),
          expr("CAST(CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 2 WHEN 'zh' THEN 2 ELSE 1 END AS BIGINT)")
            .as("w"),
          ((lit(1103515245L) * (col("doc_id") % 2147483648L) + 12345L)
            % 2147483648L).as("hk"))
      val totals = docs.groupBy("lang", "w").agg(sum(col("n_tok")).as("t_avail"))
      val k = totals.agg(min(expr("t_avail div w")).as("k"))
      docs.withColumn("cum", sum(col("n_tok")).over(w))
        .crossJoin(broadcast(k))
        .withColumn("quota", col("w") * col("k"))
        .where(col("cum") <= col("quota"))
        .groupBy("lang", "quota")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_kept"))
        .orderBy("lang")
    }),

    // qx8 TEMPERATURE-balanced mixture (τ = 2) — the UniMax-style
    // multilingual rebalance where the weights come FROM the data:
    // sampling weight w_s ∝ n_s^(1/τ) = isqrt(n_s) flattens the
    // head-language dominance that proportional sampling keeps and the
    // uniform mixture over-corrects. Everything is EXACT integer math:
    // isqrt is floor(√n) with a ±1 correction step (the double sqrt is
    // correctly rounded IEEE in both engines, and the correction makes
    // the result exact regardless); quotas apportion a budget of
    // B = N div 2 docs by largest remainder ((B·w_s) div W + 1 for the
    // R largest (B·w_s) mod W, ties broken by lang), capped at n_s;
    // membership is the per-stratum LCG-rank prefix (qx3's generator).
    // Scale shape: one scan + a per-language count (|langs| rows — the
    // apportionment windows run over THAT bounded relation, never the
    // corpus) + one bounded window per stratum.
    "qx8_tempmix" -> ((s, d) => {
      def isqrt(c: Column): Column = {
        val s0 = floor(sqrt(c.cast(DoubleType))).cast(LongType)
        val s1 = when(s0 * s0 > c, s0 - 1L).otherwise(s0)
        when((s1 + 1L) * (s1 + 1L) <= c, s1 + 1L).otherwise(s1)
      }
      val rk = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("hk"), col("doc_id"))
      val remRank = org.apache.spark.sql.expressions.Window
        .orderBy(col("rem").desc, col("lang"))
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          ((lit(1103515245L) * (col("doc_id") % 2147483648L) + 12345L)
            % 2147483648L).as("hk"))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_avail"))
        .withColumn("w", isqrt(col("n_avail")))
      val tot = counts.agg(sum(col("w")).as("bigw"),
        expr("sum(n_avail) div 2").as("b"))
      val quotas = counts.crossJoin(broadcast(tot))
        .withColumn("q0", expr("(b * w) div bigw"))
        .withColumn("rem", expr("(b * w) % bigw"))
        .withColumn("rr", row_number().over(remRank).cast(LongType))
        .withColumn("r", col("b") - sum(col("q0")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(lit(1)).rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.unboundedFollowing)))
        .withColumn("quota",
          least(when(col("rr") <= col("r"), col("q0") + 1L).otherwise(col("q0")),
            col("n_avail")))
        .select("lang", "n_avail", "w", "quota")
      docs.withColumn("rk", row_number().over(rk).cast(LongType))
        .join(broadcast(quotas), Seq("lang"))
        .where(col("rk") <= col("quota"))
        .groupBy("lang", "n_avail", "w", "quota")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .orderBy("lang")
    }),

    // QX9 CURRICULUM SCHEDULE — order training data easy→hard and cut
    // it into stages (curriculum-learning data prep, public method).
    // Difficulty is exact integer arithmetic per doc: length + scaled
    // type-token ratio + scaled rare-token fraction (rare = corpus
    // frequency below 2% of tokens — frequency comes FROM the data,
    // qx8's convention). Stage boundaries avoid the q81 trap (no
    // corpus-scale global window): the score DISTRIBUTION (one row per
    // distinct score) gets a cumulative count, stage(score) =
    // min(3, 4·c_lt div N), and docs join the bounded stage map by
    // score — fully parallel at any corpus size. Per-doc stats are
    // row-local (size/array_distinct before any explode); the rare
    // count joins the exploded tokens against the BROADCAST vocab
    // frequency table.
    "qx9_curriculum" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
      val toks = docs.select(col("doc_id"), explode(col("tk")).as("w"))
      val freq = toks.groupBy("w").agg(count(lit(1)).as("cf"))
      val ntot = toks.agg(count(lit(1)).as("ntot"))
      val rare = toks.join(broadcast(freq), Seq("w"))
        .crossJoin(broadcast(ntot))
        .groupBy("doc_id")
        .agg(sum(when(col("cf") * 50 < col("ntot"), 1L).otherwise(0L))
          .as("r"))
      val per = docs.select(col("doc_id"),
          size(col("tk")).cast(LongType).as("n"),
          size(array_distinct(col("tk"))).cast(LongType).as("u"))
        .join(rare, Seq("doc_id"))
        .select(col("doc_id"),
          (col("n") + expr("u * 1000 div n") + expr("r * 5000 div n"))
            .as("score"))
      val dist = per.groupBy("score").agg(count(lit(1)).as("c"))
      // global window is BOUNDED: it runs over the aggregated
      // distinct-score relation (integer score domain), never the corpus
      val wS = org.apache.spark.sql.expressions.Window.orderBy("score")
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val nd = per.agg(count(lit(1)).as("nd"))
      val stages = dist
        .withColumn("clt", coalesce(sum(col("c")).over(wS), lit(0L)))
        .crossJoin(broadcast(nd))
        .select(col("score"), least(lit(3L), expr("(clt * 4) div nd"))
          .as("stage"))
      per.join(broadcast(stages), Seq("score"))
        .groupBy("stage")
        .agg(count(lit(1)).as("n_docs"), min("score").as("smin"),
          max("score").as("smax"), sum("score").as("ssum"))
        .orderBy("stage")
    }),

    // qx1 benchmark decontamination: find training docs sharing any
    // 3-token shingle with the held-out eval set (deterministic
    // doc_id % 97 == 0 stand-in for a benchmark suite). The scale shape
    // is the point: eval suites are tiny (MBs) next to a 100 TB corpus,
    // so the distinct eval shingle-hash set is BROADCAST and the corpus
    // side never shuffles — one scan, row-local distinct shingles
    // (array_distinct before the explode), a broadcast-hash join, and a
    // partial-aggregated per-doc count. Matching is on the shared
    // rolling hash in BOTH engines, so hash collisions (if any) affect
    // both sides identically and the count contract stays exact.
    "qx1_decontam" -> ((s, d) => {
      val sh = shingleHash3(s, d)
      val ev = sh.filter(col("doc_id") % 97 === 0).select("h").distinct()
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(ev), Seq("h"))
        .groupBy("doc_id")
        .agg(countDistinct(col("h")).as("n_hits"))
        .orderBy("doc_id")
    }),

    // qx5 BLOOM-FILTER decontamination gate — the fixed-size alternative
    // to qx1's exact broadcast set. The eval suite's shingle hashes are
    // folded into a 2^16-bit Bloom bitmap (2048 × 32-bit words, k=2
    // probes per shingle: h % 2^16 and (h·31+17) % 2^16 — int64-exact,
    // h < 2^30); the corpus side checks both bits via TWO broadcast
    // equi-joins against the 2048-row word table. The contract is the
    // Bloom SEMANTICS, not a float threshold: bitmap and probes are pure
    // integer bit math, so Spark and DuckDB flag byte-identical doc sets
    // — including identical FALSE POSITIVES, which the output exposes by
    // carrying n_exact (true eval hits) next to n_bloom (bits-said-yes):
    // n_bloom ≥ n_exact row-by-row, and the gap IS the measured FP rate.
    // Scale: qx1's exact set grows with the eval suite, but this bitmap
    // is 8 KB FOREVER — the 100 TB shape broadcasts a few fixed-size
    // words tables (production sizes m,k to the eval cardinality; m=2^16
    // here so FPs actually occur at test scale and the n_exact column
    // stays meaningful), the corpus never shuffles, and the whole gate
    // is one scan + partial-agg. Spark's native bloom_filter_agg /
    // might_contain is the same plan with an opaque sketch — expressed
    // as data here so the oracle can replay it.
    "qx5_bloomgate" -> ((s, d) => {
      val sh = shingleHash3(s, d)
      def bit1(h: Column): Column = h % 65536L
      def bit2(h: Column): Column = (h * 31L + 17L) % 65536L
      val words = sh.filter(col("doc_id") % 97 === 0)
        .select(explode(array(bit1(col("h")), bit2(col("h")))).as("b"))
        .select(expr("b div 32").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(b % 32 AS INT))").as("m"))
        .groupBy("w").agg(expr("bit_or(m)").as("mask"))
      val evh = sh.filter(col("doc_id") % 97 === 0)
        .select(col("h").as("eh")).distinct()
      val probes = sh.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("h"),
          bit1(col("h")).as("pb1"), bit2(col("h")).as("pb2"))
      probes
        .join(broadcast(words.select(col("w").as("w1"), col("mask").as("m1"))),
          expr("w1 = pb1 div 32"))
        .join(broadcast(words.select(col("w").as("w2"), col("mask").as("m2"))),
          expr("w2 = pb2 div 32"))
        .filter(expr(
          "(m1 & shiftleft(CAST(1 AS BIGINT), CAST(pb1 % 32 AS INT))) != 0 AND " +
          "(m2 & shiftleft(CAST(1 AS BIGINT), CAST(pb2 % 32 AS INT))) != 0"))
        .join(broadcast(evh), col("h") === col("eh"), "left")
        .groupBy("doc_id")
        .agg(countDistinct(col("h")).as("n_bloom"),
          countDistinct(when(col("eh").isNotNull, col("h"))).as("n_exact"))
        .orderBy("doc_id")
    }),

    // qt12 LM-based quality scoring (the CCNet-style filter): score
    // every document by its average bigram probability under the
    // corpus-wide bigram LM (qt8's table), emit the 200 worst-scoring
    // docs — the removal candidates of an LM-perplexity filter.
    // Determinism: each bigram's p = c12/c1 is ONE correctly-rounded
    // IEEE division (bit-identical cross-engine), immediately rounded
    // into DECIMAL(12,8); the per-doc sum then accumulates EXACT
    // decimals (order-independent — a double sum would depend on
    // partition order), and only the final average is a double. ln()
    // deliberately avoided (libm divergence, qt9's rationale).
    // Scale: two narrow partial-aggregatable groupBys build the LM;
    // the corpus bigram relation shuffles once on (w1, w2) for the
    // probability join and once on doc_id for the per-doc fold —
    // all corpus-cardinality keys.
    "qt12_lmscore" -> ((s, d) => {
      val bi = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), explode(expr(
          "IF(size(tk) >= 2, transform(sequence(1, size(tk) - 1), " +
            "k -> named_struct('w1', tk[k-1], 'w2', tk[k])), array())")).as("b"))
        .select(col("doc_id"), col("b.w1"), col("b.w2"))
      val uni = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
      val lmp = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .join(uni, Seq("w1"))
        .select(col("w1"), col("w2"),
          expr("CAST(ROUND(CAST(c12 AS DOUBLE) / c1, 8) AS DECIMAL(12,8))").as("p"))
      bi.join(lmp, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bi"), sum(col("p")).as("sp"))
        .select(col("doc_id"), col("n_bi"),
          round(col("sp").cast(DoubleType) / col("n_bi"), 6)
            .cast(DoubleType).as("score"))
        .orderBy(col("score"), col("doc_id"))
        .limit(200)
    }),

    // QT27 QUALITY-PRUNING THRESHOLD CURVE — the decision artifact the
    // qt12 LM score exists to feed: before pruning a corpus on a
    // quality score, teams print the SURVIVAL CURVE (docs and — the
    // budget that actually matters — TOKENS retained at each candidate
    // threshold) and pick the knee. Eight DECLARED thresholds (0.030 …
    // 0.037, shared decimal literals both engines parse to identical
    // IEEE doubles) sweep the qt12 score in ONE pass: per-doc scores
    // (exact-decimal bigram-probability sums, rounded once — the cut
    // compares the ROUNDED score, hash-stable) explode against the
    // 8-row threshold array and partial-aggregate immediately. Docs
    // without bigrams (< 2 tokens) are excluded by construction
    // (declared, matching qt12's population). Scale: qt12's two
    // corpus-cardinality aggregates + one 8× explode that collapses
    // in the same stage — no new shuffle class.
    "qt27_prunecurve" -> ((s, d) => {
      val bi = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), explode(expr(
          "IF(size(tk) >= 2, transform(sequence(1, size(tk) - 1), " +
            "k -> named_struct('w1', tk[k-1], 'w2', tk[k])), array())"))
          .as("b"))
        .select(col("doc_id"), col("b.w1"), col("b.w2"))
      val uni = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
      val lmp = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .join(uni, Seq("w1"))
        .select(col("w1"), col("w2"),
          expr("CAST(ROUND(CAST(c12 AS DOUBLE) / c1, 8) AS DECIMAL(12,8))")
            .as("p"))
      val ds = bi.join(lmp, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bi"), sum(col("p")).as("sp"))
        .select(col("doc_id"),
          round(col("sp").cast(DoubleType) / col("n_bi"), 6)
            .cast(DoubleType).as("score"))
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      val thr = Seq("0.030", "0.031", "0.032", "0.033", "0.034",
        "0.035", "0.036", "0.037")
      ds.join(toks, Seq("doc_id"))
        .select(col("score"), col("n_tok"),
          explode(expr(s"array(${thr.map(_ + "D").mkString(", ")})"))
            .as("tau"))
        .groupBy("tau")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") >= col("tau"), 1L).otherwise(0L))
            .as("kept_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(when(col("score") >= col("tau"), col("n_tok"))
            .otherwise(0L)).as("kept_tokens"))
        .select(col("tau"), col("n_docs"), col("kept_docs"),
          col("n_tokens"), col("kept_tokens"),
          graft.Conv.r6(col("kept_docs").cast(DoubleType) * 100.0
            / col("n_docs")).as("pct_docs"),
          graft.Conv.r6(col("kept_tokens").cast(DoubleType) * 100.0
            / col("n_tokens")).as("pct_tokens"))
        .orderBy("tau")
    }),

    // qt13 span-level dedup REMOVAL (round 6 — the production
    // counterpart of qd8's flagging, the ExactSubstr step): drop every
    // token covered by an 8-token window whose hash occurs in ≥ 2
    // distinct docs, stitch survivors (TrainingData.removeDupSpans),
    // emit (doc_id, n_orig, n_kept, cleaned_fp) — the cleaned text
    // pinned by its cross-engine rolling hash. A fully-removed doc has
    // cleaned_fp = 0 (the hash of the empty string; the oracle guards
    // the empty case explicitly because DuckDB's unicode('') is -1).
    "qt13_spanremove" -> ((s, d) =>
      graft.operators.TrainingData.removeDupSpans(
        graft.operators.ScanFan.fan(t(s, d, "documents"), col("doc_id")))
        .select(col("doc_id"), col("n_orig"), col("n_kept"),
          expr("roll_hash31(cleaned)").as("cleaned_fp"))
        .orderBy("doc_id")),

    // qt9 TF-IDF-style term relevance: per-doc top-3 terms by
    // score = tf · N / df (linear inverse-document-frequency weighting —
    // ln() is deliberately avoided: libm last-ulp differences between
    // engines could flip a rounded score, while tf·N (exact int64 < 2^53)
    // divided by df is one correctly-rounded IEEE op, bit-identical in
    // both engines). Plan: two narrow groupBys (term counts, doc
    // frequency) + a per-doc top-3 window — all partial-aggregatable,
    // window partitioned by doc_id (full parallelism).
    "qt9_tfidf" -> ((s, d) => {
      val tk = t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      // tf feeds both dfreq and the final join — but caching it was
      // A/B-measured 0.4–0.5 s SLOWER at sf0.1 (1.61/1.71 s uncached
      // vs 2.09 s cached back-to-back): dfreq's second execution of
      // the (doc,term) aggregate is cheaper than materializing the
      // wide tf rows and losing the codegen fusion (the advisor-
      // suggested fusion; same shape as the qd9 cache negatives)
      val tf = tk.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = t(s, d, "documents").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * col("n") / col("df"), 6).cast(DoubleType))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .where(col("rk") <= 3)
        .select("doc_id", "rk", "term", "tf", "df", "score")
        .orderBy("doc_id", "rk")
    }),

    // qt14 BM25 relevance scoring (k1=1.2, b=0.75) — the IR-standard
    // refinement of qt9's tf·n/df weight. The idf is the RATIONAL form
    // (n-df+0.5)/(df+0.5): no ln(), so every op stays a correctly-
    // rounded IEEE double with an identical expression tree cross-
    // engine (libm transcendentals are the one double op the
    // determinism contract can't pin). Corpus stats (n, Σdl) come from
    // one one-row aggregate (broadcast scalar, no driver round-trip);
    // the corpus shuffles are qt9's same (doc,term)/(term) partial
    // aggregates; per-doc top-3 ranks on the ROUNDED decimal(18,8)
    // score (the qm2 regime) so the window order is the displayed
    // value, never an invisible ulp.
    "qt14_bm25" -> ((s, d) => {
      val tk = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), size(col("tk")).cast(LongType).as("dl"),
          explode(col("tk")).as("term"))
      val tf = tk.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val g = t(s, d, "documents")
        .select(size(split(col("text"), " ")).cast(LongType).as("dl"))
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      def dbl(c: String): Column = col(c).cast(DoubleType)
      val idf = (dbl("n") - dbl("df") + lit(0.5)) / (dbl("df") + lit(0.5))
      val tfn = dbl("tf") * lit(2.2) /
        (dbl("tf") + lit(1.2) *
          (lit(0.25) + lit(0.75) * (dbl("dl") * dbl("n") / dbl("sdl"))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(dfreq, Seq("term")).crossJoin(broadcast(g))
        .withColumn("score",
          round((idf * tfn).cast(DecimalType(18, 8)), 6)
            .cast(DoubleType))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .where(col("rk") <= 3)
        .select("doc_id", "rk", "term", "tf", "score")
        .orderBy("doc_id", "rk")
    }),

    // qx6 deterministic GLOBAL SHUFFLE into training shards — the last
    // mile of a training-data pipeline: each doc draws its LCG hash
    // (qx2/qt5's generator — a bijection on [0,2³¹), so h is unique per
    // doc and the permutation has no ties), lands in shard h%8, and the
    // shard orders by (h, doc_id) — a reproducible pseudo-random
    // permutation with no RNG state and no global sort: shards sort
    // independently (at scale, repartition on the shard key → one
    // writer task per shard, each sorting only its slice). The order-
    // DEPENDENT checksum Σ doc_id·pos pins the exact write order per
    // shard, not just membership; n/token totals pin shard balance.
    "qx6_shard" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy(col("h"), col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"),
          ((lit(1103515245L) * (col("doc_id") % 2147483648L) + 12345L)
            % 2147483648L).as("h"))
        .withColumn("shard", col("h") % 8)
        .withColumn("pos", row_number().over(w).cast(LongType))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("h")).as("min_h"), max(col("h")).as("max_h"),
          sum(col("doc_id") * col("pos")).as("perm_sum"))
        .orderBy("shard")
    }),

    // qt15 token canonicalization (round 6): the text-normalization
    // pass that runs BEFORE dedup/fingerprinting in a corpus pipeline —
    // here the two transforms that genuinely execute on a lowercase
    // token corpus: (1) drop declared stopwords ('the','a','of','and' —
    // qt2's list), then (2) collapse runs of identical ADJACENT tokens
    // (" a a the " → " a "-free, run-collapsed text — the
    // boilerplate-stutter form of whitespace canonicalization). Both
    // are row-local array HOFs: ONE scan, zero shuffles before the
    // display sort, and the canonical text feeds any downstream dedup
    // key verbatim. The adjacent-collapse filter indexes the SAME
    // array it filters (kept[i-1]) — position semantics, not value
    // dedup: non-adjacent repeats survive. n_orig/n_norm pin the drop
    // counts; the rolling-hash fingerprint pins the stitched CONTENT
    // (empty result pinned to fp 0, the qt13 cross-engine guard).
    // qt18 CONTENT-DEFINED CHUNKING — the storage-dedup boundary rule
    // (the FastCDC/gear-hash family, public literature) applied at
    // token granularity: a chunk boundary falls AFTER token i wherever
    // the rolling hash of the 4-token window ending at i ≡ 0 (mod 32)
    // — so boundaries are determined by CONTENT, and an insertion
    // early in a document shifts only the chunks it touches, where
    // qt10's fixed-stride windows shift every subsequent chunk (the
    // whole point of CDC for dedup). Per chunk: 1-based index, token
    // count, rolling-hash fingerprint; `dup` flags fingerprints seen
    // ≥2 times across the corpus chunk multiset. Scale shape: the
    // split is ONE row-local scan (array HOFs, no shuffle before the
    // explode); the dup flag is one fp-keyed partial-aggregated
    // groupBy + one equi-join — qd8's unbounded-key aggregate shape,
    // AQE-skew-splittable.
    "qt18_cdcchunk" -> ((s, d) => {
      val chunks = cdcChunks(t(s, d, "documents"))
      val cnt = chunks.groupBy("fp").agg(count(lit(1)).as("cnt"))
      chunks.join(cnt, Seq("fp"))
        .select(col("doc_id"), col("k"), col("nt"), col("fp"),
          (col("cnt") >= 2).as("dup"))
        .orderBy("doc_id", "k")
    }),

    // Q69 K-ANONYMITY GENERALIZATION — the privacy gate a training-data
    // release pipeline runs before publishing per-group statistics:
    // a (lang, source) group smaller than k=10 could re-identify its
    // members, so small groups climb a declared generalization ladder —
    // level 0 (lang, source) → level 1 (lang, *) → level 2 (*, *) —
    // until the merged group reaches k (the last level publishes
    // unconditionally, standard k-anonymity practice). Every document
    // lands in exactly one published group. Scale shape: ONE corpus
    // aggregate produces the level-0 summary; every ladder step then
    // re-aggregates the (tiny) summary, never the corpus — the
    // generalization lattice walk costs O(groups), not O(rows).
    "q69_kanon" -> ((s, d) => {
      val k = 10L
      val g0 = t(s, d, "documents").groupBy("lang", "source")
        .agg(count(lit(1)).as("n"))
      val pub0 = g0.filter(col("n") >= k)
        .select(col("lang"), col("source"), col("n"), lit(0L).as("level"))
      val g1 = g0.filter(col("n") < k)
        .groupBy("lang").agg(sum(col("n")).as("n"))
      val pub1 = g1.filter(col("n") >= k)
        .select(col("lang"), lit("*").as("source"), col("n"), lit(1L).as("level"))
      val pub2 = g1.filter(col("n") < k)
        .agg(sum(col("n")).as("n")).filter(col("n").isNotNull)
        .select(lit("*").as("lang"), lit("*").as("source"), col("n"),
          lit(2L).as("level"))
      pub0.unionByName(pub1).unionByName(pub2)
        .orderBy("level", "lang", "source")
    }),

    // Q101 L-DIVERSITY AUDIT — k-anonymity's required companion (q69
    // guarantees group SIZE ≥ k; a size-10 class where all members
    // share one sensitive value still leaks it): replay q69's
    // generalization ladder to place every document in its published
    // class, then check each class carries ≥ 3 distinct sensitive
    // values (the document-size band stands in for the sensitive
    // attribute). Class assignment is two BROADCAST left joins against
    // the tiny level-0/level-1 key sets (the ladder walk costs
    // O(groups)); the audit itself is one partial-aggregatable
    // count + count-distinct per published class — the failing
    // classes surface as `diverse = false` rows, hash-checked.
    "q101_ldiv" -> ((s, d) => {
      val k = 10L
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          expr("n_chars div 100").as("sens"))
      val g0 = docs.groupBy("lang", "source").agg(count(lit(1)).as("n"))
      val k0 = g0.filter(col("n") >= k)
        .select(col("lang"), col("source")).withColumn("in0", lit(true))
      val g1 = g0.filter(col("n") < k)
        .groupBy("lang").agg(sum(col("n")).as("n"))
      val k1 = g1.filter(col("n") >= k)
        .select(col("lang")).withColumn("in1", lit(true))
      docs.join(broadcast(k0), Seq("lang", "source"), "left")
        .join(broadcast(k1), Seq("lang"), "left")
        .select(col("sens"),
          when(col("in0") || col("in1"), col("lang")).otherwise(lit("*"))
            .as("c_lang"),
          when(col("in0"), col("source")).otherwise(lit("*"))
            .as("c_source"),
          when(col("in0"), 0L).when(col("in1"), 1L).otherwise(2L)
            .as("level"))
        .groupBy("level", "c_lang", "c_source")
        .agg(count(lit(1)).as("n"),
          count_distinct(col("sens")).as("l"))
        .withColumn("diverse", col("l") >= 3)
        .orderBy("level", "c_lang", "c_source")
    }),

    "qt15_normalize" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .withColumn("kept", expr(
          "filter(tk, x -> NOT array_contains(array('the','a','of','and'), x))"))
        .withColumn("norm", expr(
          "filter(kept, (x, i) -> i = 0 OR x != kept[i-1])"))
        .select(col("doc_id"),
          size(col("tk")).cast(LongType).as("n_orig"),
          size(col("norm")).cast(LongType).as("n_norm"),
          when(size(col("norm")) === 0, lit(0L))
            .otherwise(expr("roll_hash31(array_join(norm, ' '))"))
            .as("fp_norm"))
        .orderBy("doc_id")
    }),

    // qx7 sharded-writer AUDIT (round 6): qx6 declares the training-
    // shard contract in LOGICAL form; this query puts the PHYSICAL
    // layout through the same oracle — Scale.writeSharded lays the
    // corpus out (one file per shard, (h, doc_id) order in-file), the
    // files read back ONE SHARD FILE AT A TIME with positions recovered
    // from raw file order (monotonically_increasing_id is monotone
    // within each file's single read partition; row_number over it per
    // shard converts to 1-based in-file positions without trusting the
    // ids' absolute values), and the order-DEPENDENT checksum
    // Σ doc_id·pos must hash-match qx6's oracle. A writer that loses
    // one file's sort, splits a shard into two files, or drops the
    // shard-leading sortWithinPartitions fails the gate — the qd10/qs7
    // pattern (persist, reload, same oracle) applied to the last-mile
    // writer. The per-shard driver loop is bounded by SHARD COUNT
    // (fixed at 8), never data.
    "qx7_shardaudit" -> ((s, d) => {
      val dir = "target/graft-shardaudit/" + d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"),
          ((lit(1103515245L) * (col("doc_id") % 2147483648L) + 12345L)
            % 2147483648L).as("h"))
        .withColumn("shard", col("h") % 8)
      graft.operators.Scale.writeSharded(docs, dir, "shard", 8,
        Seq("h", "doc_id"))
      val byShard = (0 until 8).map { k =>
        s.read.parquet(s"$dir/shard=$k")
          .select(lit(k.toLong).as("shard"), col("doc_id"), col("n_tok"),
            col("h"), monotonically_increasing_id().as("fpos"))
      }.reduce(_ unionAll _)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("fpos")
      byShard.withColumn("pos", row_number().over(w).cast(LongType))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("h")).as("min_h"), max(col("h")).as("max_h"),
          sum(col("doc_id") * col("pos")).as("perm_sum"))
        .orderBy("shard")
    }),

    // qt16 first-occurrence NOVELTY scoring (round 6): the curation
    // metric for crawl-ordered ingestion — per doc, how many of its
    // distinct 3-gram shingles appear HERE FIRST (corpus-min doc_id ==
    // this doc)? A doc whose shingles are mostly inherited is
    // boilerplate/derivative; high-novelty docs carry new content. The
    // scale-correct shape: novel-per-doc comes from the (hash →
    // min doc_id) aggregate RE-AGGREGATED by the winning doc — two
    // narrow partial-aggregated groupBys and one doc-keyed (narrow,
    // skew-free) left join; the corpus-cardinality shingle relation is
    // never joined back against itself. The shingle explosion is
    // recomputed for both consumers rather than cached (the qt9/qd9
    // lesson: narrow-aggregate second consumers beat materialization).
    "qt16_novelty" -> ((s, d) => {
      val sh = shingleHash3(s, d)
      val tot = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val novel = sh.groupBy("h").agg(min(col("doc_id")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
      tot.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .orderBy("doc_id")
    }),

    // qt17 HEAVY HITTERS via Count-Min sketch (round 7) — the
    // bounded-memory frequent-token report: at 100 TB the exact
    // (token, count) table is itself corpus-scale, but a CMS is a few
    // KB of mergeable counters computed in one distributed pass
    // (map-side partial sketches merge associatively), and its
    // one-sided guarantee — est ≥ true, est ≤ true + ε·N with
    // probability 1−δ — is exactly what quality filters need. The
    // t1/t2 verdict-as-data convention: for the exact top-10 tokens
    // (themselves a distributed aggregate; the driver handles 10
    // rows), emit the exact count plus each engine's own
    // within-guarantee verdict — Spark validates its sketch
    // (ε=1e-4, δ=1e-3, fixed seed ⇒ deterministic), DuckDB's exact
    // count trivially satisfies its own bound, and the hash compares
    // the shared exact counts + verdicts.
    "qt17_heavyhitters" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val n = toks.count()
      val sketch = toks.stat.countMinSketch(
        "tok", eps = 0.0001, confidence = 0.999, seed = 42)
      val top = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("tok")).limit(10).collect()
      val rows = top.toSeq.map { r =>
        val tok = r.getString(0)
        val exact = r.getLong(1)
        val est = sketch.estimateCount(tok)
        (tok, exact, est >= exact && est <= exact + (0.0001 * n).toLong + 1)
      }
      import s.implicits._
      rows.toDF("tok", "n_exact", "ok")
        .orderBy(col("n_exact").desc, col("tok"))
    }),

    // Q103 T-CLOSENESS AUDIT — the third rung of the privacy ladder
    // (q69 bounds class SIZE, q101 bounds distinct sensitive values;
    // a class can pass both and still SKEW toward one value): each
    // q69-published class's sensitive-value distribution must sit
    // within EMD t of the GLOBAL distribution. The 1-D ordered EMD is
    // EXACT INTEGER via q95's cross-scaling — per bin of the global
    // grid, diff = cc·N − cg·nc, EMD_scaled = Σ|cum(diff)|·gap — and
    // the normalized t = EMD_scaled/(N·nc·range) is ONE IEEE division,
    // exact numerator riding as an audit column. Scale: ONE corpus
    // aggregate produces (class, sens) counts; classes × global-bin
    // grid is a METADATA-scale cross join (both broadcast-sized), the
    // cum window runs over O(classes·bins) rows — never the corpus.
    "q103_tclose" -> ((s, d) => {
      val k = 10L
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          expr("n_chars div 100").as("sens"))
      val g0 = docs.groupBy("lang", "source").agg(count(lit(1)).as("n"))
      val k0 = g0.filter(col("n") >= k)
        .select(col("lang"), col("source")).withColumn("in0", lit(true))
      val g1 = g0.filter(col("n") < k)
        .groupBy("lang").agg(sum(col("n")).as("n"))
      val k1 = g1.filter(col("n") >= k)
        .select(col("lang")).withColumn("in1", lit(true))
      val classed = docs.join(broadcast(k0), Seq("lang", "source"), "left")
        .join(broadcast(k1), Seq("lang"), "left")
        .select(col("sens"),
          when(col("in0") || col("in1"), col("lang")).otherwise(lit("*"))
            .as("c_lang"),
          when(col("in0"), col("source")).otherwise(lit("*"))
            .as("c_source"),
          when(col("in0"), 0L).when(col("in1"), 1L).otherwise(2L)
            .as("level"))
      val cc = classed.groupBy("level", "c_lang", "c_source", "sens")
        .agg(count(lit(1)).as("cc"))
      val cls = cc.groupBy("level", "c_lang", "c_source")
        .agg(sum(col("cc")).as("nc"))
      val glob = classed.groupBy("sens").agg(count(lit(1)).as("cg"))
      val tot = glob.agg(sum(col("cg")).as("nn"),
        (max(col("sens")) - min(col("sens"))).as("range"))
      val grid = cls.crossJoin(broadcast(glob)).crossJoin(broadcast(tot))
        .join(cc, Seq("level", "c_lang", "c_source", "sens"), "left")
        .select(col("level"), col("c_lang"), col("c_source"), col("nc"),
          col("sens"), col("nn"), col("range"),
          (coalesce(col("cc"), lit(0L)) * col("nn")
            - col("cg") * col("nc")).as("diff"))
      val w = Window.partitionBy("level", "c_lang", "c_source")
        .orderBy("sens")
      grid
        .withColumn("cum", sum(col("diff")).over(w))
        .withColumn("gap",
          coalesce(lead(col("sens"), 1).over(w) - col("sens"), lit(0L)))
        .groupBy("level", "c_lang", "c_source")
        .agg(max(col("nc")).as("nc"),
          sum(abs(col("cum")) * col("gap")).as("emd_scaled"),
          max(col("nn")).as("nn"), max(col("range")).as("range"))
        .select(col("level"), col("c_lang"), col("c_source"), col("nc"),
          col("emd_scaled"),
          round(col("emd_scaled").cast(DoubleType)
            / (col("nn").cast(DoubleType) * col("nc") * col("range")), 6)
            .cast(DoubleType).as("t"))
        .withColumn("tclose", col("t") <= 0.2)
        .orderBy("level", "c_lang", "c_source")
    }),

    // QT20 SIMPSON LEXICAL DIVERSITY — the no-log diversity index
    // (Shannon entropy's ln() cannot cross engines — the qt9/qt14
    // lesson — but Simpson's D = Σc(c−1)/(N(N−1)), the probability
    // two random tokens match, is EXACT RATIONAL): per document over
    // its token counts, plus the corpus-vocabulary rollup riding as
    // doc_id −1. The exact numerator is an audit column; the single
    // IEEE division rounds once (g08 convention). Scale: per-doc
    // counts are one (doc, tok) partial-aggregatable explosion, the
    // corpus row aggregates the VOCAB-sized token-count relation —
    // the corpus never self-joins and nothing is driver-side.
    "qt20_simpson" -> ((s, d) => {
      val tk = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val perDoc = tk.groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tok"),
          sum(col("c") * (col("c") - 1L)).as("num"))
      val corpus = tk.groupBy("tok").agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_tok"),
          sum(col("c") * (col("c") - 1L)).as("num"))
        .select(lit(-1L).as("doc_id"), col("n_tok"), col("num"))
      perDoc.unionByName(corpus)
        .select(col("doc_id"), col("n_tok"), col("num"),
          when(col("n_tok") >= 2L,
            round(col("num").cast(DoubleType)
              / (col("n_tok").cast(DoubleType) * (col("n_tok") - 1L)), 6)
              .cast(DoubleType)).as("simpson"))
        .orderBy("doc_id")
    }),

    // QX10 PER-SOURCE CAP SAMPLING — the domain-rebalance gate a
    // crawl pipeline runs before training (no source may contribute
    // more than C documents): membership = the C lowest LCG
    // priorities per source (qt5's reproducible hash), selected by
    // TWO-PHASE top-k — phase 1 takes the per-(source, doc_id%8 salt)
    // top-C (bounded partitions, fully parallel), phase 2 re-ranks
    // the ≤8·C survivors per source — the q81-trap dodge: a source's
    // true top-C has ≤C members in ANY salt slice, so phase 1 is
    // provably lossless, and no corpus-scale window ever pins a hot
    // source partition. The oracle replays the straight single-window
    // form, proving the two-phase plan result-identical.
    "qx10_domaincap" -> ((s, d) => {
      val cap = 15
      val pr = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          ((lit(1103515245L) * (col("doc_id") % 2147483648L) + 12345L)
            % 2147483648L).as("pr"))
      val w1 = Window.partitionBy(col("source"), pmod(col("doc_id"), lit(8L)))
        .orderBy("pr", "doc_id")
      val w2 = Window.partitionBy("source").orderBy("pr", "doc_id")
      pr.withColumn("r1", row_number().over(w1))
        .filter(col("r1") <= cap)
        .withColumn("rk", row_number().over(w2).cast(LongType))
        .filter(col("rk") <= cap)
        .select("source", "doc_id", "pr", "rk")
        .orderBy("source", "rk")
    }),

    // QT21 HASHED LINEAR CLASSIFIER — quality/language filtering at
    // 100 TB runs a cheap linear model over hashed token features
    // (the fastText-style shape, public method); this is that
    // INFERENCE PASS with weights trained FROM the data in the same
    // query (qx8's thresholds-from-data convention, no float
    // training): feature = roll_hash31(token) % 1024 buckets, weight
    // w_b = (en count in b) − (non-en count in b) — the
    // difference-of-centroids linear separator, EXACT INTEGER — and
    // score(doc) = Σ c_b·w_b with prediction score > 0. The 1024-row
    // weight table BROADCASTS onto the per-doc bucket counts; both
    // corpus passes are partial-aggregatable token explosions; exact
    // integer scores ride as the audit column, and the per-doc
    // verdict against the true label is hash-checked data. Scale:
    // nothing exceeds (docs × distinct buckets per doc) rows, the
    // weight side is O(1024) regardless of corpus size.
    "qt21_hashclf" -> ((s, d) => {
      val tk = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .select(col("doc_id"), col("lang"),
          pmod(expr("roll_hash31(tok)"), lit(1024L)).as("b"))
      val wts = tk.groupBy("b")
        .agg((sum(when(col("lang") === "en", 1L).otherwise(0L))
          - sum(when(col("lang") =!= "en", 1L).otherwise(0L))).as("w"))
      val cnt = tk.groupBy("doc_id", "lang", "b")
        .agg(count(lit(1)).as("c"))
      cnt.join(broadcast(wts), Seq("b"))
        .groupBy("doc_id", "lang")
        .agg(sum(col("c") * col("w")).as("score"))
        .select(col("doc_id"), col("lang"), col("score"),
          (col("score") > 0L).as("pred_en"),
          ((col("score") > 0L) === (col("lang") === "en")).as("correct"))
        .orderBy("doc_id")
    }),

    // QC6 SAFE STATISTICS RELEASE — the privacy ladder COMPOSED into
    // the verb it exists for (the qc-family convention: pipelines
    // hash-checked end-to-end): publish per-class document-length
    // statistics where (1) classes come from q69's k-anonymity
    // generalization ladder, (2) classes failing q101's l-diversity
    // bar (< 3 distinct sensitive bands) are SUPPRESSED — NULL stats,
    // the row itself still published so the suppression is auditable,
    // (3) published means are WINSORIZED at the class's exact
    // P10/P90 (q90/q32's histogram trick — ceil-rank order statistics
    // from cumulative counts over the per-class distinct-value
    // relation, no corpus sort), so no single outlier document leaks
    // through a tail. Exact integers end to end (clamped sums, rank
    // arithmetic); the only IEEE op is the final published mean.
    // Scale: one corpus aggregate per relation (class stats, value
    // histogram, clamped sums — all partial-aggregatable), windows
    // over per-class DISTINCT-VALUE rows, bounds/stats broadcast back.
    "qc6_saferelease" -> ((s, d) => {
      val k = 10L
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), expr("n_chars div 100").as("sens"))
      val g0 = docs.groupBy("lang", "source").agg(count(lit(1)).as("n"))
      val k0 = g0.filter(col("n") >= k)
        .select(col("lang"), col("source")).withColumn("in0", lit(true))
      val g1 = g0.filter(col("n") < k)
        .groupBy("lang").agg(sum(col("n")).as("n"))
      val k1 = g1.filter(col("n") >= k)
        .select(col("lang")).withColumn("in1", lit(true))
      val classed = docs.join(broadcast(k0), Seq("lang", "source"), "left")
        .join(broadcast(k1), Seq("lang"), "left")
        .select(col("doc_id"), col("n_chars"), col("sens"),
          when(col("in0") || col("in1"), col("lang")).otherwise(lit("*"))
            .as("c_lang"),
          when(col("in0"), col("source")).otherwise(lit("*"))
            .as("c_source"),
          when(col("in0"), 0L).when(col("in1"), 1L).otherwise(2L)
            .as("level"))
      val cls = Seq("level", "c_lang", "c_source")
      val stats = classed.groupBy(cls.head, cls.tail: _*)
        .agg(count(lit(1)).as("n"), count_distinct(col("sens")).as("l"))
      val hist = classed.groupBy(col("level"), col("c_lang"),
          col("c_source"), col("n_chars").as("v"))
        .agg(count(lit(1)).as("c"))
      val wC = Window.partitionBy(cls.map(col): _*).orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bounds = hist.join(broadcast(stats), cls)
        .withColumn("cum", sum(col("c")).over(wC))
        .groupBy(cls.head, cls.tail: _*)
        .agg(min(when(col("cum") >= expr("(n + 9) div 10"), col("v")))
          .as("lo"),
          min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("v")))
            .as("hi"))
      val wsum = classed.join(broadcast(bounds), cls)
        .select(col("level"), col("c_lang"), col("c_source"),
          greatest(col("lo"), least(col("hi"), col("n_chars"))).as("cx"))
        .groupBy(cls.head, cls.tail: _*)
        .agg(sum(col("cx")).as("wsum"))
      stats.join(bounds, cls).join(wsum, cls)
        .withColumn("suppressed", col("l") < 3L)
        .select(col("level"), col("c_lang"), col("c_source"),
          col("n"), col("l"), col("suppressed"),
          when(!col("suppressed"), col("wsum")).as("wsum"),
          when(!col("suppressed"),
            round(col("wsum").cast(DoubleType) / col("n"), 4)
              .cast(DoubleType)).as("wmean"))
        .orderBy("level", "c_lang", "c_source")
    }),

    // QT22 CONTAMINATION SCORE — the CONTINUOUS companion to qx1's
    // binary membership gate (decontamination practice keeps a doc
    // with one shared 3-gram but drops a verbatim eval copy; the
    // decision needs the FRACTION): per non-eval doc, score = share
    // of its distinct shingle fingerprints present in the eval set,
    // with the action ladder decided on EXACT RATIONALS — drop at
    // 5·hits ≥ 4·n (0.8), flag at 5·hits ≥ n (0.2), keep below — and
    // zero-hit docs included via the left join (qx1 reports only
    // hitters; a gate must rule on everyone). Scale: qx1's shape —
    // the eval shingle set BROADCASTS (the corpus side never
    // shuffles pre-aggregation), per-doc totals and hits are two
    // partial-aggregatable counts.
    "qt22_contamscore" -> ((s, d) => {
      val sh = shingleHash3(s, d)
      val ev = sh.filter(col("doc_id") % 97 === 0).select("h").distinct()
      val corpus = sh.filter(col("doc_id") % 97 =!= 0)
      val tot = corpus.groupBy("doc_id")
        .agg(count_distinct(col("h")).as("n_sh"))
      val hits = corpus.join(broadcast(ev), Seq("h"))
        .groupBy("doc_id").agg(count_distinct(col("h")).as("n_hits"))
      tot.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_sh"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("score",
          round(col("n_hits").cast(DoubleType) / col("n_sh"), 6)
            .cast(DoubleType))
        .withColumn("action",
          when(lit(5L) * col("n_hits") >= lit(4L) * col("n_sh"), "drop")
            .when(lit(5L) * col("n_hits") >= col("n_sh"), "flag")
            .otherwise("keep"))
        .orderBy("doc_id")
    }),

    // QX11 CLASS-BALANCING UPSAMPLE — the minority-class replication
    // step an imbalanced training mix needs (qx8 rebalances by
    // SAMPLING DOWN with temperature; sometimes the answer is copies):
    // every language is brought to the majority count T by EXACT
    // integer apportionment — each doc gets T div k copies, and the
    // T mod k remainder copies go to the lowest-LCG-rank docs (qx8's
    // largest-remainder convention, reproducible). The replication is
    // explode(sequence(1, copies)) — row-local, no shuffle — and the
    // audit aggregates per language: n_out must equal T exactly
    // (hash-checked invariant, not a claim) and the order-free
    // checksum Σ doc_id·copy binds the exact multiset of emitted
    // copies. Scale: one |langs|-row broadcast of counts/targets;
    // per-doc copy counts are row-local; the explode fan-out is the
    // OUTPUT size — the irreducible cost of upsampling itself.
    "qx11_upsample" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          ((lit(1103515245L) * (col("doc_id") % 2147483648L) + 12345L)
            % 2147483648L).as("pr"))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("k"))
      val target = counts.agg(max(col("k")).as("t"))
      val wL = Window.partitionBy("lang").orderBy("pr", "doc_id")
      docs
        .withColumn("rk", row_number().over(wL).cast(LongType))
        .join(broadcast(counts), Seq("lang"))
        .crossJoin(broadcast(target))
        .withColumn("copies",
          expr("t div k") + when(col("rk") <= expr("t % k"), 1L)
            .otherwise(0L))
        .select(col("lang"), col("doc_id"), col("t"),
          explode(expr("sequence(1, copies)")).as("copy"))
        .groupBy("lang")
        .agg(max(col("t")).as("n_target"),
          count(lit(1)).as("n_out"),
          count_distinct(col("doc_id")).as("n_orig"),
          sum(col("doc_id") * col("copy")).as("checksum"))
        .withColumn("exact", col("n_out") === col("n_target"))
        .orderBy("lang")
    }),

    // QX12 SEQUENCE-LENGTH BUCKETING AUDIT — the padding-efficiency
    // report that decides a training batcher's bucket boundaries
    // (pad-to-longest inside a power-of-two length bucket vs
    // pad-to-global-max): per bucket (tokens rounded UP to the next
    // power of two via the SHARED integer CASE ladder [[Pow2Case]] —
    // float log2/pow would be a last-ulp knife-edge exactly AT the
    // powers of two, so neither engine computes one), doc count, real
    // token sum, padded token sum (count·bucket_cap), and the waste
    // fraction as one IEEE division over exact int64 sums. The
    // global pad-to-max row rides as bucket 0 for comparison — the
    // quantified argument FOR bucketing, hash-checked. Scale: one
    // row-local length pass + a |buckets|-row aggregate; nothing
    // joins, nothing shuffles but the tiny rollup.
    "qx12_lengthbuckets" -> ((s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .withColumn("cap", expr(Pow2Case("n_tok")))
      val buckets = base.groupBy("cap")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("real_tok"))
        .withColumn("padded_tok", col("n_docs") * col("cap"))
      val global = base.agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("real_tok"), max(col("n_tok")).as("mx"))
        .select(lit(0L).as("cap"), col("n_docs"), col("real_tok"),
          (col("n_docs") * col("mx")).as("padded_tok"))
      buckets.unionByName(global)
        .withColumn("waste",
          round((col("padded_tok") - col("real_tok")).cast(DoubleType)
            / col("padded_tok"), 6).cast(DoubleType))
        .orderBy("cap")
    }),

    // QX13 WEIGHTED PRIORITY SAMPLING — the size-biased sample a mixing
    // pipeline draws when big documents should be proportionally more
    // likely (qt5/qx10 are UNIFORM-rank; weighting is the missing
    // verb). Priority sampling (Duffield–Lund–Thorup, public method):
    // item priority q_i = w_i/u_i with u_i uniform, keep the top k,
    // threshold τ = the (k+1)-th priority; each kept item's
    // subset-sum estimate is max(w_i, τ) — unbiased for any subset.
    // Determinism: u_i = LCG(doc_id)+1 ∈ [1, 2^31] (the qt5 generator)
    // and the priority is the FIXED-POINT integer floor(w·2^31/u) —
    // exact int64 arithmetic (w < 2^32 by contract), so the top-k
    // order, τ, and membership are bit-identical in both engines; the
    // one IEEE op is the final estimate display. Scale: top-(k+1) is a
    // TakeOrderedAndProject — per-partition partial top-k, no global
    // sort, no shuffle beyond k+1 rows per partition; weights ride the
    // scan.
    "qx13_prioritysample" -> ((s, d) => {
      val k = 100
      val pri = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars").as("w"),
          ((lit(1103515245L) * (col("doc_id") % 2147483648L) + 12345L)
            % 2147483648L + 1L).as("u"))
        .withColumn("priority", expr("(w * 2147483648) div u"))
      val top = pri
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(k + 1)
      val wTop = org.apache.spark.sql.expressions.Window
        .orderBy(col("priority").desc, col("doc_id"))
      val ranked = top.withColumn("rn", row_number().over(wTop))
      val tau = ranked.filter(col("rn") === k + 1)
        .select(col("priority").as("tau"))
      val wtot = pri.agg(sum(col("w")).as("w_total"))
      ranked.filter(col("rn") <= k)
        .crossJoin(broadcast(tau)).crossJoin(broadcast(wtot))
        .select(col("doc_id"), col("w"), col("priority"), col("tau"),
          round(greatest(col("w").cast(DoubleType),
            col("tau").cast(DoubleType) / lit(2147483648.0)), 6)
            .cast(DoubleType).as("est"),
          col("w_total"))
        .orderBy("doc_id")
    }),

    // QX14 DIFFERENTIALLY-PRIVATE COUNT RELEASE — the noise MECHANISM
    // the privacy ladder (q69 k-anon, q101 l-div, q103 t-close, qc6
    // suppression) stops short of: per-language doc counts released
    // through the discrete Laplace (two-sided geometric) mechanism,
    // ε = 1, sensitivity 1 — Ghosh–Roughgarden–Sundararajan's
    // universally-optimal count mechanism. NO transcendentals at query
    // time (cross-engine exp/ln is a bit-identity knife-edge): the
    // noise CDF is DECLARED as 16 integer thresholds (floor(cdf·2³¹)
    // of e^{-|k|} weights truncated at ±8 and renormalized — the
    // BenfordP shared-literal convention), so noise = −8 + #{cuts ≤ u}
    // is pure integer comparison. The uniform u is the test contract's
    // LCG seeded by the group's rolling hash — DETERMINISM IS THE TEST
    // HARNESS, not the privacy claim: production swaps the LCG for a
    // CSPRNG and the mechanism/accounting are unchanged. Released =
    // n + noise (unclamped, honest) + the DP-safe post-processed
    // max(0, ·). One partial-aggregatable count per group — O(groups).
    "qx14_dpcount" -> ((s, d) => {
      val cuts = Seq(332969L, 1238074L, 3698404L, 10386276L, 28565796L,
        77982853L, 212312343L, 577457755L, 1570025892L, 1935171304L,
        2069500794L, 2118917851L, 2137097371L, 2143785243L, 2146245573L,
        2147150678L)
      t(s, d, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .withColumn("u",
          (lit(1103515245L) * expr("roll_hash31(lang)") + 12345L)
            % 2147483648L)
        .withColumn("noise",
          lit(-8L) + expr(s"CAST(size(filter(array(${cuts.mkString("L,")}L)," +
            " c -> u >= c)) AS BIGINT)"))
        .select(col("lang"), col("n"), col("u"), col("noise"),
          (col("n") + col("noise")).as("released"),
          greatest(col("n") + col("noise"), lit(0L)).as("published"),
          lit(1.0).as("eps"))
        .orderBy("lang")
    }),

    // QE7 JOHNSON–LINDENSTRAUSS PROJECTION — the dimensionality-
    // REDUCTION member of the embedding family (qe1–qe5 compress
    // precision; qe6 finds structure; this cuts DIMENSION with a
    // distance guarantee — the cheap first stage before ANN indexing
    // when 64 dims is already too many): project 64 → 16 through a
    // DETERMINISTIC ±1 matrix (s_ij = sign of an LCG draw on (i,j) —
    // the Achlioptas construction, which needs no Gaussians) and audit
    // the JL promise on declared pairs (vec_id % 50 = 0 with its
    // successor): E[‖ya−yb‖²] = k·‖xa−xb‖², so ratio = d2p/(16·d2o)
    // should sit near 1. EXACTNESS: coords on the 1e-6 grid (floats
    // cast to DOUBLE first, both engines identical), projections are
    // ±sums of int64 (|y| ≤ 64·|xi|max ≈ 3.4e7), squared distances
    // exact int64 (d2p ≤ 16·(2·3.4e7)² ≈ 7e16 < 2⁶³ — headroom
    // documented); the ratio is ONE IEEE tree at display. Scale: the
    // projection is row-local (one corpus pass, no shuffle) — exactly
    // how a 100 TB embedding store runs it; only the tiny declared
    // audit-pair relation joins.
    "qe7_jlproject" -> ((s, d) => {
      val proj = t(s, d, "embeddings")
        .filter(size(col("embedding")) === 64)
        .select(col("vec_id"),
          expr("transform(embedding, x -> " +
            "CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
            .as("xi"))
        .select(col("vec_id"), col("xi"),
          expr("transform(sequence(0, 15), j -> " +
            "aggregate(sequence(0, 63), 0L, (acc, i) -> acc + " +
            "IF((CAST(1103515245 AS BIGINT) * (i * 16 + j) + 12345) " +
            "% 2147483648 >= 1073741824, xi[i], -xi[i])))").as("y"))
      val a = proj.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("va"), col("xi").as("xa"),
          col("y").as("ya"))
      val b = proj
        .select((col("vec_id") - 1).as("va"), col("xi").as("xb"),
          col("y").as("yb"))
      a.join(b, Seq("va"))
        .select(col("va"), (col("va") + 1).as("vb"),
          expr("aggregate(zip_with(xa, xb, (p, q) -> (p - q) * (p - q)), " +
            "0L, (acc, v) -> acc + v)").as("d2o"),
          expr("aggregate(zip_with(ya, yb, (p, q) -> (p - q) * (p - q)), " +
            "0L, (acc, v) -> acc + v)").as("d2p"))
        .filter(col("d2o") > 0L)
        .withColumn("ratio", graft.Conv.r6(col("d2p").cast(DoubleType)
          / lit(16.0) / col("d2o")))
        // per-pair ratios scatter χ²-like at the declared small k=16;
        // the UNBIASEDNESS readout is the cross-pair mean ≈ 1 — an
        // exact-decimal average of the rounded ratios (order-free)
        .transform { pairs =>
          val m = pairs.agg(graft.Conv.r6(
            avg(col("ratio").cast(DecimalType(18, 6)))).as("mean_ratio"))
          pairs.crossJoin(broadcast(m))
        }
        .orderBy("va")
    }),

    // QX17 MIXTURE RATE PLANNER — the PLANNING half of the mixture
    // story (qx3 EXECUTES a doc-level downsample; qc8 BUDGETS tokens;
    // this emits the per-domain sampling RATES a 100 TB ingest job is
    // configured with before anything runs): given qx3's declared
    // target weights (en:de:zh:fr:es = 4:2:2:1:1) and the per-language
    // token counts, the downsample-only feasible point is K =
    // min_s ⌊n_s/w_s⌋ (qx3's convention), quota_s = w_s·K, and
    // rate_s = quota_s/n_s on a FIXED 1e-6 grid by integer floor
    // division — exact int64 end to end, so the plan itself is
    // hash-checked data; achieved shares are one IEEE division each.
    // Scale: one partial-aggregatable token-count pass, then O(langs).
    "qx17_mixplan" -> ((s, d) => {
      val w = Seq("en" -> 4L, "de" -> 2L, "zh" -> 2L, "fr" -> 1L,
        "es" -> 1L)
      val wCol = w.foldRight(lit(null).cast(LongType): Column) {
        case ((l, wt), els) => when(col("lang") === l, lit(wt)).otherwise(els)
      }
      val cur = t(s, d, "documents")
        .select(col("lang"),
          size(split(col("text"), " ")).cast(LongType).as("nt"))
        .groupBy("lang").agg(sum(col("nt")).as("n_tok"))
        .withColumn("w", wCol)
        .filter(col("w").isNotNull)
      val k = cur.agg(min(expr("n_tok div w")).as("k"))
      val planned = cur.crossJoin(broadcast(k))
        .withColumn("quota", col("w") * col("k"))
        .withColumn("rate6", expr("(quota * 1000000) div n_tok"))
      val tot = planned.agg(sum(col("quota")).as("mix_total"))
      planned.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_tok"), col("w"), col("k"),
          col("quota"), col("rate6"),
          graft.Conv.r6(col("rate6").cast(DoubleType) / 1000000.0)
            .as("rate"),
          graft.Conv.r6(col("quota").cast(DoubleType) * 100.0
            / col("mix_total")).as("share_pct"))
        .orderBy("lang")
    }),

    // QX16 DIFFERENTIALLY-PRIVATE SUM RELEASE — the second DP primitive
    // (qx14 releases counts; sums need a BOUNDED per-record
    // contribution first, which is where real pipelines go wrong):
    // per-language character totals with each document CLIPPED to
    // C = 500 chars (the declared sensitivity bound — clipping is part
    // of the mechanism, so raw and clipped totals both ride as audit),
    // then noise = C · z where z is qx14's unit discrete-Laplace draw
    // (the standard sensitivity-scaled release: the mechanism lives on
    // the C-grid, ε = 1 for |Δ| ≤ C). Same no-transcendentals contract:
    // z = −8 + #{cuts ≤ u} from the DECLARED 16 thresholds, u from the
    // TEST contract's LCG (a distinct stream from qx14's — 2·h + 1 —
    // so count and sum releases never share a draw); production swaps
    // a CSPRNG, mechanism/accounting unchanged. One partial-
    // aggregatable pass (clip is row-local), O(groups) everything else.
    "qx16_dpsum" -> ((s, d) => {
      val cuts = Seq(332969L, 1238074L, 3698404L, 10386276L, 28565796L,
        77982853L, 212312343L, 577457755L, 1570025892L, 1935171304L,
        2069500794L, 2118917851L, 2137097371L, 2143785243L, 2146245573L,
        2147150678L)
      t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("raw_sum"),
          sum(least(col("n_chars"), lit(500L))).as("clipped_sum"))
        .withColumn("u",
          (lit(1103515245L) * (expr("roll_hash31(lang)") * 2L + 1L)
            + 12345L) % 2147483648L)
        .withColumn("z",
          lit(-8L) + expr(s"CAST(size(filter(array(${cuts.mkString("L,")}L)," +
            " c -> u >= c)) AS BIGINT)"))
        .select(col("lang"), col("n"), col("raw_sum"), col("clipped_sum"),
          col("u"), col("z"),
          (col("clipped_sum") + lit(500L) * col("z")).as("released"),
          greatest(col("clipped_sum") + lit(500L) * col("z"), lit(0L))
            .as("published"),
          lit(1.0).as("eps"), lit(500L).as("clip"))
        .orderBy("lang")
    }),

    // QX15 POISSON BOOTSTRAP MEDIAN CI — the uncertainty verb for the
    // statistics q130's jackknife can't serve (the jackknife handles
    // smooth ratio metrics; the MEDIAN's delete-one variance estimate
    // is inconsistent — resampling is the standard answer): per event
    // type, an ~80% CI for the median via the POISSON bootstrap — the
    // distributed form (each row draws an independent Poisson(1)
    // weight per replicate; no global resample pass, the shape Google's
    // large-scale pipelines published): B=32 replicates in ONE corpus
    // scan. NO transcendentals at query time: the Poisson(1) CDF is 6
    // DECLARED integer thresholds (floor(cdf·2³¹), truncated at w=6 —
    // the qx14 shared-literal convention), weight = #{cuts ≤ u}, and
    // u = LCG(event_id·32 + b) is the TEST CONTRACT's generator
    // (production swaps a CSPRNG; estimator unchanged). All medians
    // are exact int64 on the cents grid via the q32 weighted-histogram
    // trick (cum ≥ (n+1) div 2 — never a corpus sort); the CI is the
    // 4th/29th order statistics of the 32 replicate medians. Scale:
    // the 32× explode partial-aggregates IMMEDIATELY to the
    // (type, replicate, value) histogram — types·32·|grid| rows, not
    // 32× corpus rows, past the first exchange; windows run on the
    // histogram relation only.
    "qx15_bootstrap" -> ((s, d) => {
      val cuts = Seq(790015084L, 1580030168L, 1975037710L, 2106706891L,
        2139624186L, 2146207645L)
      val base = t(s, d, "events")
        .filter(col("value").isNotNull && col("event_id").isNotNull)
        .select(col("event_type"), col("event_id"),
          expr("cast(floor(value * 100) as bigint)").as("v"))
      val wcum = Window.partitionBy("event_type").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wtot = Window.partitionBy("event_type")
      val point = base.groupBy(col("event_type"), col("v"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(wcum))
        .withColumn("n", sum("c").over(wtot))
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .groupBy("event_type").agg(min("v").as("med"), max("n").as("n"))
      // r10 measured fix (was: explode(sequence(0,31)) per row — a 32×
      // Generate of the corpus feeding the first exchange; A/B'd at
      // 6.9 -> 2.9 s in r9, still 2.7× the oracle): the replicate axis
      // moves from ROWS to AGGREGATE COLUMNS — one partial-aggregatable
      // corpus pass computes all 32 replicate weights per (type, value)
      // cell as 32 sum columns (pure codegen'd comparison arithmetic;
      // rows with weight 0 contribute 0 to the sum, so the old w>0
      // pre-filter is algebraically absorbed), and the 32-way unpivot
      // explodes the POST-AGG histogram (types × |grid| rows), never
      // the corpus. The c>0 post-filter reproduces the old group set
      // exactly (weights are nonnegative). A/B at sf0.1, driver
      // config: 3.05 s -> 1.2 s.
      val aggCols = (0 until 32).map { b =>
        val u = (lit(1103515245L) * ((col("event_id") * 32L + lit(b.toLong))
          % 2147483648L) + lit(12345L)) % 2147483648L
        val w = cuts.map(c => when(u >= c, 1L).otherwise(0L)).reduce(_ + _)
        sum(w).as(s"c$b")
      }
      val hist = base.groupBy("event_type", "v")
        .agg(aggCols.head, aggCols.tail: _*)
      val reps = array((0 until 32).map(b =>
        struct(lit(b.toLong).as("b"), col(s"c$b").as("c"))): _*)
      val grouped = hist
        .select(col("event_type"), col("v"), explode(reps).as("r"))
        .select(col("event_type"), col("r.b").as("b"), col("v"),
          col("r.c").as("c"))
        .filter(col("c") > 0L)
      val wcumB = Window.partitionBy("event_type", "b").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wtotB = Window.partitionBy("event_type", "b")
      val meds = grouped
        .withColumn("cum", sum("c").over(wcumB))
        .withColumn("nb", sum("c").over(wtotB))
        .filter(col("cum") >= expr("(nb + 1) div 2"))
        .groupBy("event_type", "b").agg(min("v").as("bmed"))
      val wr = Window.partitionBy("event_type").orderBy("bmed", "b")
      val ci = meds.withColumn("rn", row_number().over(wr))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_reps"),
          min(when(col("rn") === 4, col("bmed"))).as("lo"),
          min(when(col("rn") === 29, col("bmed"))).as("hi"))
      point.join(ci, Seq("event_type"))
        .select(col("event_type"), col("n"), col("n_reps"), col("med"),
          col("lo"), col("hi"),
          round(col("med").cast(DoubleType) / 100.0, 6)
            .cast(DoubleType).as("med_d"),
          round(col("lo").cast(DoubleType) / 100.0, 6)
            .cast(DoubleType).as("lo_d"),
          round(col("hi").cast(DoubleType) / 100.0, 6)
            .cast(DoubleType).as("hi_d"))
        .orderBy("event_type")
    }),

    // QT24 READABILITY SCORE (Flesch reading ease, declared proxies) —
    // the classic quality signal next to qt2's ratio gates: flesch =
    // 206.835 − 1.015·(tokens/sentence) − 84.6·(syllables/token).
    // Corpus texts carry no sentence punctuation, so the sentence unit
    // is the DECLARED proxy n_sent = ceil(n_tok/16), and syllables are
    // the standard vowel-group heuristic: runs of [aeiouy]+ (runs
    // cannot cross a space; vowel-free tokens contribute 0 — part of
    // the declared contract, like qt2's stopword list). Easy/medium/
    // hard grades cut ON THE ROUNDED score so the tier is hash-stable.
    // Scale: one scan, row-local arithmetic, no shuffle at all except
    // the presentation sort — the ideal 100 TB shape.
    "qt24_readability" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"),
          size(expr("regexp_extract_all(text, '[aeiouy]+', 0)"))
            .cast(LongType).as("n_syll"))
        .withColumn("n_sent", expr("CAST((n_tok + 15) DIV 16 AS BIGINT)"))
        .withColumn("flesch", round(lit(206.835)
          - lit(1.015) * (col("n_tok").cast(DoubleType)
            / col("n_sent").cast(DoubleType))
          - lit(84.6) * (col("n_syll").cast(DoubleType)
            / col("n_tok").cast(DoubleType)), 4).cast(DoubleType))
        .select(col("doc_id"), col("n_tok"), col("n_sent"), col("n_syll"),
          col("flesch"),
          when(col("flesch") >= 60d, lit("easy"))
            .when(col("flesch") >= 30d, lit("medium"))
            .otherwise(lit("hard")).as("grade"))
        .orderBy("doc_id")),

    // QT25 BPE MERGE TRAINING — the tokenizer-TRAINING loop the token
    // counting (qt3) and chunking (qt10/qt18) verbs consume the output
    // of: learn the first K=6 byte-pair-encoding merges (Sennrich et
    // al.'s subword algorithm) from the corpus itself. The 100 TB shape
    // is the one real trainers use: the corpus collapses to the
    // (word, count) VOCAB in ONE partial-aggregatable pass, and every
    // training round runs over the vocab relation only — pair counting
    // re-weights by the word count, so the corpus is never re-scanned.
    // Determinism: pair counts are exact int64; the merge pick is the
    // total order (count DESC, left, right) via one min(struct) agg;
    // the merge APPLY is greedy left-to-right — encoded as plain
    // string replace over a double-space-separated symbol string
    // ("␠␠a␠␠b␠␠..."): the pattern "␠L␠␠R␠" consumes one space of each
    // flanking separator, so the leftover space lets the NEXT
    // occurrence match (abab → two merges) while overlapping
    // occurrences can't double-fire (aaa → one merge) and a symbol
    // whose PREFIX is R can never false-match — both engines' replace()
    // is the same left-to-right non-rescanning scan, so the fold is
    // bit-identical. Vocab lineage is localCheckpoint-truncated per
    // round (the q123 lesson; each round reads it twice). Precondition
    // (documented): tokens are ^[a-z]+$ — the guard filter makes the
    // separator injective. K=6 is the DECLARED budget (the loop shape
    // is the operator; production runs the same loop 30k times).
    "qt25_bpe" -> ((s, d) =>
      bpeTrain(t(s, d, "documents"))._2.reduce(_ unionByName _)
        .orderBy("step")),

    // QT26 VOCABULARY GROWTH (Heaps-law table) — the corpus-SCALING
    // readout data teams consult before extrapolating: as sources are
    // ingested in a declared order, how fast does the vocabulary grow
    // vs raw token count (sublinear growth = Heaps' law; a LINEAR
    // segment flags a machine-generated / high-entropy source). The
    // classic trick makes "distinct words per prefix" one-pass instead
    // of per-prefix re-scans: each word contributes to the vocabulary
    // curve exactly at its FIRST source (min source-rank per word —
    // partial-aggregatable), so the curve is a cumulative sum over the
    // O(sources) relation. Ranks come from a window over the TINY
    // distinct-source relation (broadcast back); the corpus is scanned
    // once. Exact int64 counts; vocab/tokens ratio is the one IEEE
    // division at display.
    "qt26_vocabgrowth" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
      val wRank = Window.orderBy("source")
      val ranks = t(s, d, "documents").select(col("source")).distinct()
        .withColumn("rank", dense_rank().over(wRank).cast(LongType))
      val tr = toks.join(broadcast(ranks), Seq("source"))
      val newPerRank = tr.groupBy("w").agg(min(col("rank")).as("rank"))
        .groupBy("rank").agg(count(lit(1)).as("n_new"))
      val tokPerRank = tr.groupBy("rank", "source")
        .agg(count(lit(1)).as("n_tok"))
      // global window is BOUNDED: one row per source after the rollup
      val wCum = Window.orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tokPerRank.join(newPerRank, Seq("rank"), "left")
        .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
        .withColumn("vocab", sum(col("n_new")).over(wCum))
        .withColumn("tokens", sum(col("n_tok")).over(wCum))
        .select(col("rank"), col("source"), col("n_tok"), col("n_new"),
          col("vocab"), col("tokens"),
          graft.Conv.r6(col("vocab").cast(DoubleType) / col("tokens"))
            .as("vocab_ratio"))
        .orderBy("rank")
    }),

    // QC8 BPE TOKEN BUDGET — the composition qt25's training loop
    // exists for: a mixture planner (qx3/qx4) budgets in TOKENS THE
    // TOKENIZER WILL ACTUALLY PRODUCE, not whitespace words — so apply
    // the learned merges corpus-wide and count resulting symbols per
    // (lang, source) domain. The 100 TB shape is the key move: the
    // merges were learned ON THE VOCAB, and applying them to the
    // corpus is a broadcast join of word → post-merge symbol count
    // against a per-domain word-count relation — the corpus is scanned
    // ONCE (partial-aggregatable (lang, source, word) pass) and never
    // re-tokenized per occurrence. tokens_per_word and the mixture
    // share are ONE IEEE division each at display (g08 convention);
    // counts are exact int64 end to end.
    "qc8_tokenbudget" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val wsyms = bpeTrain(docs)._1
        .select(col("w"),
          expr("size(filter(split(sq, '  '), x -> x != ''))")
            .cast(LongType).as("n_syms"))
      val words = docs
        .select(col("lang"), col("source"),
          explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy("lang", "source", "w").agg(count(lit(1)).as("occ"))
      val dom = words.join(broadcast(wsyms), Seq("w"))
        .groupBy("lang", "source")
        .agg(sum(col("occ")).as("n_words"),
          sum(col("occ") * col("n_syms")).as("bpe_tokens"))
      val tot = dom.agg(sum(col("bpe_tokens")).as("tot"))
      dom.crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n_words"),
          col("bpe_tokens"),
          graft.Conv.r6(col("bpe_tokens").cast(DoubleType) / col("n_words"))
            .as("tokens_per_word"),
          graft.Conv.r6(col("bpe_tokens").cast(DoubleType) * 100.0 / col("tot"))
            .as("share_pct"))
        .orderBy("lang", "source")
    }),

    // QT28 RAKE KEYPHRASE EXTRACTION (Rose et al. 2010, public method)
    // — the per-document keyphrase verb of the text family (qt9/qt14
    // rank TERMS corpus-wide; a curation/labeling pipeline also wants
    // each doc's multi-word phrases). Candidate phrases = maximal runs
    // of non-stopword tokens (the qt2 stopword list is the delimiter
    // set); word degree(w) = Σ over w's occurrences of its phrase's
    // length (co-occurrence count including self — RAKE's degree);
    // phrase score = Σ degree(w) over the phrase's word OCCURRENCES.
    // The degree-only scoring (not degree/freq) keeps every score an
    // exact int64, so the per-doc top-3 by (score DESC, phrase ASC) is
    // hash-checked data, not a float ranking. Scale: one posexplode
    // scan; phrase ids from a per-doc running stopword count (window
    // bounded by doc length); degree is a (doc, word)-keyed partial
    // agg joined back on the same key; every shuffle key carries
    // doc_id, so parallelism grows with the corpus and no global
    // structure exists.
    "qt28_rake" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val stopList = stopwords.map("'" + _ + "'").mkString(", ")
      // round 15 (guide §4 + §2.4): the phrase id (running stopword
      // count) is a pure function of the token ARRAY, so the native
      // row-local phrase_tokens kernel replaces the doc-keyed window
      // that shuffled and SORTED every token row of the corpus just to
      // compute it (plans/PhraseTokens; row-set equality vs the window
      // form pinned in PhraseTokensSpec). Same (doc_id, pid, pos, w)
      // relation, one exchange fewer, no per-doc sort.
      // ScanFan: with the window exchange gone, the kernel explode
      // would otherwise run inside the single-row-group scan's one task
      // at bench scale (identity at 100 TB — the r14 gate)
      val occ = graft.operators.OpCaches.track(
        graft.operators.ScanFan.fan(t(s, d, "documents"), col("doc_id"))
          .select(col("doc_id"), explode(
            expr(s"phrase_tokens(split(text, ' '), array($stopList))"))
            .as("s"))
          .select(col("doc_id"), col("s.pid").as("pid"),
            col("s.pos").as("pos"), col("s.w").as("w")))
      val plen = occ.groupBy("doc_id", "pid")
        .agg(count(lit(1)).as("plen"))
      val deg = occ.join(plen, Seq("doc_id", "pid"))
        .groupBy("doc_id", "w")
        .agg(sum(col("plen")).as("degree"))
      val phr = occ.join(deg, Seq("doc_id", "w"))
        .groupBy("doc_id", "pid")
        .agg(count(lit(1)).cast(LongType).as("n_words"),
          sum(col("degree")).as("score"),
          expr("array_join(transform(array_sort(" +
            "collect_list(named_struct('pos', pos, 'w', w))), " +
            "e -> e.w), ' ')").as("phrase"))
      phr.withColumn("rank", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("phrase"))))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast(LongType).as("rank"),
          col("phrase"), col("n_words"), col("score"))
        .orderBy("doc_id", "rank")
    }),

    // QT29 URL CANONICALIZATION — the web-corpus identity verb every
    // crawl pipeline runs BEFORE URL-level dedup (Common-Crawl-style
    // corpora dedup on canonical URL first, content second): two
    // spellings of one resource must map to one key or the URL dedup
    // under-merges. Rules applied, each a row-local string expression
    // (one scan, zero pre-agg shuffles):
    //   1. drop the fragment (#…) — client-side only;
    //   2. lowercase scheme and host (case-insensitive per RFC 3986),
    //      NEVER path/query (case-significant);
    //   3. strip a leading `www.` and the scheme's default port
    //      (:443 https / :80 http);
    //   4. collapse duplicate path slashes, empty path → "/";
    //   5. drop tracking params (utm_*, ref=…), sort the survivors
    //      byte-wise so param order stops mattering.
    // The URL fixture is a pure FUNCTION of the documents rows (the
    // qm4 convention): mixed-case scheme/host, www, default port,
    // shuffled tracking params and a fragment — every rule exercised
    // on every row. Published: per-domain URL counts vs canonical
    // counts (the dedup headroom a crawl sees) + the lexicographically
    // first canonical URL as hash-checked witness data. Scale: row-
    // local canonicalization then one tiny groupBy(domain); at 100 TB
    // the canon key feeds q27-style exact dedup unchanged.
    "qt29_urlnorm" -> ((s, d) => {
      val urls = t(s, d, "documents").select(
        col("doc_id"),
        concat(lit("HTTPS://WWW."), upper(col("source")),
          lit(".Example.COM:443/docs//"), col("doc_id") % 4,
          lit("/?utm_campaign=c"), col("doc_id") % 3,
          lit("&ref=feed&id="), col("doc_id") % 2,
          lit("&b=2&a=1#sec"), col("doc_id") % 5).as("url"))
      val nf = regexp_replace(col("url"), "#.*$", "")
      val parsed = urls.select(
        lower(regexp_extract(nf, "^([A-Za-z]+)://", 1)).as("scheme"),
        lower(regexp_extract(nf, "^[A-Za-z]+://([^/?]+)", 1)).as("hp"),
        regexp_extract(nf, "^[A-Za-z]+://[^/?]*(.*)$", 1).as("rest"))
      val host0 = regexp_replace(col("hp"), "^www\\.", "")
      val host = when(col("scheme") === "https",
          regexp_replace(host0, ":443$", ""))
        .when(col("scheme") === "http", regexp_replace(host0, ":80$", ""))
        .otherwise(host0)
      val path0 = regexp_replace(
        regexp_extract(col("rest"), "^([^?]*)", 1), "/{2,}", "/")
      val path = when(path0 === "", lit("/")).otherwise(path0)
      val qs = regexp_extract(col("rest"), "\\?(.*)$", 1)
      val params = array_join(array_sort(expr(
        "filter(split(qs, '&'), p -> p != '' AND substr(p, 1, 4) != 'utm_'" +
          " AND substr(p, 1, 4) != 'ref=')")), "&")
      parsed
        .withColumn("host", host).withColumn("qs", qs)
        .select(col("scheme"), col("host"), path.as("path"),
          params.as("params"))
        .select(col("host").as("domain"),
          concat(col("scheme"), lit("://"), col("host"), col("path"),
            when(col("params") === "", lit(""))
              .otherwise(concat(lit("?"), col("params")))).as("canon"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("canon")).as("n_canon"),
          min(col("canon")).as("first_canon"))
        .withColumn("n_dups", col("n_urls") - col("n_canon"))
        .select("domain", "n_urls", "n_canon", "n_dups", "first_canon")
        .orderBy("domain")
    })
  )

  /** The qt25 BPE training loop, shared with qc8: 6 rounds of pair
    * counting + argmax merge over the (word, count) vocab (see the
    * qt25 entry for the full semantics). Returns the final vocab
    * (w, cnt, sq) and the per-step merge rows. */
  private def bpeTrain(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, List[org.apache.spark.sql.DataFrame]) = {
    val vocab0 = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("sq", concat(lit("  "),
        expr("regexp_replace(w, '(.)', '$1  ')")))
    // r10 measured fix (was: 3 eager localCheckpoints per round — best,
    // vocab, stat = 18 jobs of a tiny relation; the r9 judge's top
    // perf finding): only the VOCAB is checkpointed per round (it is
    // read twice by the next round, so unchecked lineage doubles —
    // the q123 trap). best and stat become LAZY derivations of the
    // checkpointed vocabs: best evaluates inside the next vocab's
    // checkpoint job (as its broadcast side) and re-evaluates as a
    // local stage of the final union job; stat folds into the final
    // job entirely. 7 jobs total. The intermediate vocabs stay alive
    // until the query is consumed (steps reference them) — they are
    // O(|vocabulary|) rows, released by the caller's cache scope.
    // A/B at sf0.1, driver config: qt25 2.29 s -> 1.0 s,
    // qc8 3.56 s -> 1.7 s.
    var vocab = vocab0.localCheckpoint(true)
      .transform(graft.operators.OpCaches.trackMaterialized)
    var steps = List.empty[org.apache.spark.sql.DataFrame]
    for (step <- 1 to 6) {
      val best = vocab
        .select(col("cnt"),
          expr("filter(split(sq, '  '), x -> x != '')").as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("cnt"), explode(expr(
          "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1), " +
            "(x, y) -> named_struct('l', x, 'r', y))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pcnt"))
        .agg(min(struct((-col("pcnt")).as("nc"), col("l"), col("r")))
          .as("b"))
        .select(col("b.l").as("ml"), col("b.r").as("mr"),
          (-col("b.nc")).as("mcnt"))
      // degenerate-corpus guard (r9 advisory): if no word has >= 2
      // symbols this round, the global agg yields one all-NULL row —
      // keep sq unchanged instead of cascading NULL through replace()
      vocab = vocab.crossJoin(broadcast(best))
        .withColumn("sq", when(col("ml").isNull, col("sq")).otherwise(expr(
          "replace(sq, ' ' || ml || '  ' || mr || ' ', " +
            "' ' || ml || mr || ' ')")))
        .select("w", "cnt", "sq")
        .localCheckpoint(true)
        .transform(graft.operators.OpCaches.trackMaterialized)
      val stat = vocab.agg(sum(col("cnt") *
        expr("size(filter(split(sq, '  '), x -> x != ''))"))
        .cast(LongType).as("tot_syms"))
      steps = steps :+ best.crossJoin(broadcast(stat))
        .select(lit(step.toLong).as("step"), col("ml").as("l"),
          col("mr").as("r"), concat(col("ml"), col("mr")).as("merged"),
          col("mcnt").as("pcnt"), col("tot_syms"))
    }
    (vocab, steps)
  }

  /** qm2: the typed multimodal feature path (Media.features —
    * per-partition batched decode over Dataset[MediaRecord]) through the
    * oracle gate, using document text bytes as the opaque payload: byte
    * length, mean byte value, first thumbnail sample. ASCII text makes
    * UTF-8 bytes == codepoints, so DuckDB mirrors with unicode(). */
  private def qm2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val recs = t(s, d, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        graft.multimodal.MediaRecord(id,
          graft.multimodal.MediaMeta("text", 0, 0, 0), text.getBytes("UTF-8"))
      }
    graft.multimodal.Media.features(recs, thumbLen = 4)
      .toDF()
      .select(col("id").as("doc_id"),
        col("nBytes").as("n_bytes"),
        round(col("meanByte").cast(DecimalType(18, 8)), 6)
          .cast(DoubleType).as("mean_byte"),
        round(element_at(col("thumb"), 1).cast(DoubleType)
          .cast(DecimalType(18, 8)), 6).cast(DoubleType).as("t0"))
      .orderBy("doc_id")
  }

  /** The span-removal SQL chain over a CTE `t(doc_id, tk)` — shared by
    * qt13 (whole corpus) and qc5 (the cleaned survivors; DedupExt
    * splices its pipeline CTEs in front). Mirrors
    * TrainingData.removeDupSpans exactly, including the 1-based
    * list_filter index and the empty-stitch fp = 0 guard. */
  private[queries] val spanRemovalSql: String =
    s"""w AS (SELECT doc_id, k,
       |        list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          list_transform(string_split(array_to_string(tk[k:k+7], ' '), ''),
       |            ch -> CAST(unicode(ch) AS BIGINT))),
       |          (acc, x) -> (acc * 31 + x) % $P) AS h
       |      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS k
       |            FROM t WHERE len(tk) >= 8)),
       |nd AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
       |remp AS (SELECT DISTINCT w.doc_id, w.k + o AS p
       |         FROM w JOIN nd USING (h), generate_series(0, 7) g(o)),
       |rem AS (SELECT doc_id, list(p) AS rem FROM remp GROUP BY doc_id),
       |x AS (SELECT t.doc_id, tk,
       |        CASE WHEN rem IS NULL THEN tk
       |             ELSE list_filter(tk, (tok, i) -> NOT list_contains(rem, CAST(i AS BIGINT))) END AS kept
       |      FROM t LEFT JOIN rem USING (doc_id))
       |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_orig,
       |  CAST(len(kept) AS BIGINT) AS n_kept,
       |  CASE WHEN len(kept) = 0 THEN CAST(0 AS BIGINT)
       |       ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
       |         list_transform(string_split(array_to_string(kept, ' '), ''),
       |           ch -> CAST(unicode(ch) AS BIGINT))),
       |         (acc, x) -> (acc * 31 + x) % $P) END AS cleaned_fp
       |FROM x ORDER BY doc_id""".stripMargin

  /** qt18's row-local content-defined split: (doc_id, k, nt, fp) chunk
    * rows — a boundary falls after token i where the rolling hash of
    * the 4-token window ending at i ≡ 0 (mod 32), so boundaries move
    * with CONTENT and an edit perturbs only the chunks it touches
    * (CdcChunkSpec pins the shift-resistance property). Expects
    * (doc_id, text); `roll_hash31` resolves through GraftExtensions or
    * `NativeFunctions.ensure`. */
  def cdcChunks(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("tk"),
        // sequence(4, n-1) DESCENDS when n-1 < 4 — guard short docs
        expr("IF(size(tk) >= 5, filter(sequence(4, size(tk) - 1), " +
          "i -> roll_hash31(concat_ws(' ', slice(tk, i - 3, 4))) % 32 = 0), " +
          "array())").as("bounds"))
      .select(col("doc_id"), col("tk"),
        expr("concat(array(1), transform(bounds, b -> b + 1))").as("starts"),
        expr("concat(bounds, array(size(tk)))").as("ends"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(starts)), k -> named_struct(" +
          "'k', CAST(k AS BIGINT), " +
          "'nt', CAST(ends[k-1] - starts[k-1] + 1 AS BIGINT), " +
          "'fp', roll_hash31(concat_ws(' ', " +
          "slice(tk, starts[k-1], ends[k-1] - starts[k-1] + 1)))))")).as("c"))
      .select(col("doc_id"), col("c.k"), col("c.nt"), col("c.fp"))

  /** The qt25/qc8 shared oracle prefix: the 6 BPE training rounds
    * unrolled as materialized CTEs (v0 vocab, m_i merge pick, v_i
    * post-merge vocab, t_i symbol total); ORDER BY pcnt DESC, l, r
    * LIMIT 1 replays the min(struct) pick, replace() the greedy apply. */
  private val bpeOracleCtes: String = {
    val rounds = (1 to 6).map { i =>
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      s"""m$i AS MATERIALIZED (
         |  SELECT a[k] AS l, a[k+1] AS r, CAST(SUM(cnt) AS BIGINT) AS pcnt
         |  FROM (SELECT cnt, a, unnest(generate_series(1, len(a) - 1)) AS k
         |        FROM (SELECT cnt,
         |                list_filter(string_split(sq, '  '), x -> x <> '') AS a
         |              FROM $prev)
         |        WHERE len(a) >= 2)
         |  GROUP BY 1, 2 ORDER BY pcnt DESC, l, r LIMIT 1),
         |v$i AS MATERIALIZED (
         |  SELECT w, cnt,
         |         replace(sq, ' ' || m.l || '  ' || m.r || ' ',
         |                 ' ' || m.l || m.r || ' ') AS sq
         |  FROM $prev, m$i m),
         |t$i AS (SELECT CAST(SUM(cnt *
         |          len(list_filter(string_split(sq, '  '), x -> x <> '')))
         |          AS BIGINT) AS tot_syms FROM v$i)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS MATERIALIZED (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
      |         '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS sq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]+$$')
      |  GROUP BY w),
      |$rounds""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "qt1_langid" -> {
      val profValues = profiles.map { case (l, t) => s"('$l','$t')" }.mkString(", ")
      s"""WITH prof(plang, ptok) AS (VALUES $profValues),
         |scores AS (
         |  SELECT doc_id, plang, COUNT(*) AS score
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
         |  JOIN prof ON tok = ptok GROUP BY 1, 2
         |),
         |pred AS (
         |  SELECT doc_id, plang FROM (
         |    SELECT doc_id, plang,
         |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
         |    FROM scores) WHERE rn = 1
         |)
         |SELECT lang, COALESCE(plang, 'unknown') AS predicted, COUNT(*) AS docs
         |FROM documents LEFT JOIN pred USING (doc_id)
         |GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin
    },

    "qt2_quality" -> {
      val stopList = stopwords.map("'" + _ + "'").mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id, n_chars,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
         |    CAST(len(list_filter(string_split(text, ' '),
         |         x -> list_contains([$stopList], x))) AS BIGINT) AS n_stop
         |  FROM documents
         |)
         |SELECT doc_id, n_tok, n_uniq, n_stop,
         |  CAST(ROUND(CAST(n_chars - n_tok + 1 AS DOUBLE) / n_tok, 4) AS DOUBLE) AS avg_tok_len,
         |  CAST(ROUND(CAST(n_stop AS DOUBLE) / n_tok, 4) AS DOUBLE) AS stop_ratio,
         |  CASE WHEN n_tok >= 20 AND 10*n_uniq >= 3*n_tok AND 10*n_stop <= 3*n_tok
         |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS quality
         |FROM base ORDER BY doc_id""".stripMargin
    },

    "qt3_tokcount" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re
        |FROM documents ORDER BY doc_id""".stripMargin,

    "qt4_fingerprint" ->
      s"""WITH fps AS (
         |  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(text, ''), ch -> CAST(unicode(ch) AS BIGINT))),
         |    (acc, x) -> (acc * 31 + x) % $P) AS fp
         |  FROM documents
         |)
         |SELECT fp, COUNT(*) AS c FROM fps GROUP BY fp HAVING COUNT(*) > 1
         |ORDER BY c DESC, fp""".stripMargin,

    // qt13: the span-removal chain replayed in SQL — windows, the
    // ≥2-distinct-doc hash set, removed positions (k..k+7 per dup
    // window), the 1-based-indexed list_filter stitch, and the
    // rolling hash of the stitched text (empty case pinned to 0:
    // DuckDB's string_split('','') is [''] with unicode('') = -1,
    // while the Spark kernel folds zero codepoints to 0)
    "qt13_spanremove" ->
      (s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          |""".stripMargin + spanRemovalSql),

    "qt5_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    (1103515245 * (doc_id % 2147483648) + 12345) % 2147483648 AS hk
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, lang,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS BIGINT) AS rk,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM h
        |)
        |SELECT doc_id, lang, rk FROM r WHERE rk * 10 <= n * 3
        |ORDER BY lang, rk""".stripMargin,

    "qt6_scrub" ->
      """SELECT doc_id,
        |  array_to_string(list_transform(string_split(text, ' '),
        |    t -> CASE WHEN t IN ('customer','order','part') THEN '<ENT>' ELSE t END), ' ') AS scrubbed,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('customer','order','part'))) AS BIGINT) AS n_masked
        |FROM documents
        |WHERE len(list_filter(string_split(text, ' '),
        |  t -> t IN ('customer','order','part'))) > 0
        |ORDER BY doc_id""".stripMargin,

    "qt7_pack" ->
      """WITH x AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT source, doc_id, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM x
        |)
        |SELECT source, CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id,
        |       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY source, pack_id
        |ORDER BY source, pack_id""".stripMargin,

    // qt30: identical replay with the window scoped to (source, shard)
    "qt30_packshard" ->
      """WITH x AS (
        |  SELECT source, doc_id, doc_id // 128 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT source, doc_id, shard, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM x
        |)
        |SELECT source, CAST(shard AS BIGINT) AS shard,
        |       CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id,
        |       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY source, shard, pack_id
        |ORDER BY source, shard, pack_id""".stripMargin,

    "qm5_phashdup" ->
      s"""WITH p AS (
         |  SELECT doc_id, text, CAST(strlen(text) // 60 AS INT) AS bs
         |  FROM documents WHERE strlen(text) >= 60),
         |bits AS (
         |  SELECT doc_id, i,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(upper(hex(substr(text, i*bs+1, bs))), ''),
         |        ch -> CAST(unicode(ch) AS BIGINT))),
         |      (acc, x) -> (acc * 31 + x) % $P) % 2 AS bit
         |  FROM p, generate_series(0, 59) g(i)),
         |bk AS (SELECT doc_id, i // 15 AS k,
         |         CAST(SUM(CASE WHEN bit = 1
         |           THEN CAST(1 AS BIGINT) << (i % 15) ELSE 0 END) AS BIGINT) AS key
         |       FROM bits GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM bk x JOIN bk y
         |           ON x.k = y.k AND x.key = y.key AND x.doc_id < y.doc_id),
         |hds AS (SELECT c.a, c.b, SUM(bit_count(xor(ka.key, kb.key))) AS hd
         |        FROM cand c JOIN bk ka ON ka.doc_id = c.a
         |                    JOIN bk kb ON kb.doc_id = c.b AND kb.k = ka.k
         |        GROUP BY 1, 2)
         |SELECT a, b, CAST(hd AS BIGINT) AS hd
         |FROM hds WHERE hd <= 6 ORDER BY a, b""".stripMargin,

    "qm2_mediafeat" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
        |s AS (SELECT doc_id, SUM(unicode(c)) AS sv, COUNT(*) AS n FROM ch GROUP BY 1)
        |SELECT d.doc_id, CAST(strlen(d.text) AS BIGINT) AS n_bytes,
        |  CAST(ROUND(CAST(CAST(s.sv AS DOUBLE) / s.n AS DECIMAL(18,8)), 6) AS DOUBLE) AS mean_byte,
        |  CAST(ROUND(CAST(unicode(substr(d.text, 1, 1)) / 256.0 AS DECIMAL(18,8)), 6) AS DOUBLE) AS t0
        |FROM documents d JOIN s USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    "qt8_bigram_lm" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |bi AS (
        |  SELECT unnest(list_transform(generate_series(1, greatest(len(tk)-1, 0)),
        |                k -> struct_pack(w1 := tk[k], w2 := tk[k+1]))) AS b
        |  FROM t),
        |b2 AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM bi),
        |uni AS (SELECT w1, COUNT(*) AS c1 FROM b2 GROUP BY 1),
        |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM b2 GROUP BY 1, 2)
        |SELECT b.w1, b.w2, b.c12, u.c1,
        |  CAST(ROUND(CAST(b.c12 AS DOUBLE) / u.c1, 6) AS DOUBLE) AS p
        |FROM big b JOIN uni u USING (w1)
        |ORDER BY c12 DESC, w1, w2 LIMIT 200""".stripMargin,

    "qt19_colloc" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |toks AS (SELECT unnest(tk) AS w FROM t),
        |uni AS (SELECT w, COUNT(*) AS cu FROM toks GROUP BY 1),
        |nuc AS (SELECT COUNT(*) AS nu FROM toks),
        |bi AS (
        |  SELECT unnest(list_transform(generate_series(1, greatest(len(tk)-1, 0)),
        |                k -> struct_pack(w1 := tk[k], w2 := tk[k+1]))) AS b
        |  FROM t),
        |b2 AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM bi),
        |nbc AS (SELECT COUNT(*) AS nb FROM b2),
        |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM b2 GROUP BY 1, 2)
        |SELECT w1, w2, c12, a.cu AS ca, b.cu AS cb,
        |  CAST(ROUND(CAST(c12 AS DOUBLE) * nu * nu
        |    / (CAST(a.cu AS DOUBLE) * b.cu * nb), 6) AS DOUBLE) AS lift
        |FROM big JOIN uni a ON a.w = big.w1
        |         JOIN uni b ON b.w = big.w2, nuc, nbc
        |WHERE c12 >= 20
        |ORDER BY w1, w2""".stripMargin,

    // qe5: the two-stage assignment replayed with ROW_NUMBER argmins —
    // identical (d², cid) tie order, exact integer arithmetic throughout
    "qt23_zipf" ->
      """WITH c AS (SELECT tok, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE strlen(tok) > 0 GROUP BY tok),
        |tot AS (SELECT SUM(freq) AS n_tok FROM c),
        |top AS (SELECT tok, freq,
        |          CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok)
        |            AS BIGINT) AS rank
        |        FROM c ORDER BY freq DESC, tok LIMIT 50)
        |SELECT rank, tok, CAST(freq AS BIGINT) AS freq,
        |       CAST(rank * freq AS BIGINT) AS rf,
        |       CAST(ROUND(CAST(freq AS DOUBLE) / n_tok, 6) AS DOUBLE)
        |         AS share
        |FROM top CROSS JOIN tot ORDER BY rank""".stripMargin,

    "q120_medoid" ->
      """WITH idx AS (SELECT i FROM generate_series(1, 64) t(i)),
        |ex AS (SELECT vec_id, i,
        |         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000000) AS BIGINT) AS xi
        |       FROM embeddings, idx
        |       WHERE len(embedding) = 64 AND i <= len(embedding)),
        |c1 AS (SELECT vec_id AS cid, i, xi AS ci FROM ex WHERE vec_id % 50 = 0),
        |d1 AS (SELECT e.vec_id, c.cid,
        |         SUM((e.xi - c.ci) * (e.xi - c.ci)) AS d2
        |       FROM ex e JOIN c1 c ON c.i = e.i GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cid, ROW_NUMBER() OVER (
        |         PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d1),
        |asg AS (SELECT vec_id, cid FROM a1 WHERE rn = 1),
        |pd AS (SELECT x.cid, x.vec_id AS va,
        |         CAST(SUM((ea.xi - eb.xi) * (ea.xi - eb.xi)) AS BIGINT)
        |           AS sd2
        |       FROM asg x JOIN asg y ON y.cid = x.cid
        |       JOIN ex ea ON ea.vec_id = x.vec_id
        |       JOIN ex eb ON eb.vec_id = y.vec_id AND eb.i = ea.i
        |       GROUP BY 1, 2),
        |m AS (SELECT cid, va, sd2, ROW_NUMBER() OVER (
        |        PARTITION BY cid ORDER BY sd2, va) AS rn,
        |        COUNT(*) OVER (PARTITION BY cid) AS n_members
        |      FROM pd)
        |SELECT cid, va AS medoid, CAST(n_members AS BIGINT) AS n_members,
        |       sd2 AS sum_d2
        |FROM m WHERE rn = 1 ORDER BY cid""".stripMargin,

    "qe5_residualquant" ->
      """WITH idx AS (SELECT i FROM generate_series(1, 64) t(i)),
        |ex AS (SELECT vec_id, i,
        |         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000000) AS BIGINT) AS xi
        |       FROM embeddings, idx
        |       WHERE len(embedding) = 64 AND i <= len(embedding)),
        |c1 AS (SELECT vec_id AS cid1, i, xi AS ci FROM ex WHERE vec_id % 50 = 0),
        |d1 AS (SELECT e.vec_id, c.cid1,
        |         SUM((e.xi - c.ci) * (e.xi - c.ci)) AS d2
        |       FROM ex e JOIN c1 c ON c.i = e.i GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cid1, d2, ROW_NUMBER() OVER (
        |         PARTITION BY vec_id ORDER BY d2, cid1) AS rn FROM d1),
        |r1 AS (SELECT e.vec_id, a.cid1, a.d2 AS err1, e.i, e.xi - c.ci AS ri
        |       FROM ex e JOIN a1 a ON a.vec_id = e.vec_id AND a.rn = 1
        |                 JOIN c1 c ON c.cid1 = a.cid1 AND c.i = e.i),
        |c2 AS (SELECT vec_id AS cid2, i, ri AS c2i FROM r1 WHERE vec_id % 71 = 0),
        |d2s AS (SELECT r.vec_id, c.cid2,
        |          SUM((r.ri - c.c2i) * (r.ri - c.c2i)) AS e2
        |        FROM r1 r JOIN c2 c ON c.i = r.i GROUP BY 1, 2),
        |a2 AS (SELECT vec_id, e2, ROW_NUMBER() OVER (
        |         PARTITION BY vec_id ORDER BY e2, cid2) AS rn FROM d2s),
        |v AS (SELECT DISTINCT r.vec_id, r.cid1, r.err1, a2.e2 AS err2
        |      FROM r1 r JOIN a2 ON a2.vec_id = r.vec_id AND a2.rn = 1)
        |SELECT cid1, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(err1) AS BIGINT) AS err1,
        |       CAST(SUM(err2) AS BIGINT) AS err2,
        |       CAST(ROUND(CAST(SUM(err2) AS DOUBLE) / CAST(SUM(err1) AS BIGINT), 6)
        |         AS DOUBLE) AS gain
        |FROM v GROUP BY cid1 ORDER BY cid1""".stripMargin,

    "qe1_int8quant" ->
      """WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |mx AS (SELECT vec_id, MAX(ABS(x)) AS mx FROM ex GROUP BY 1),
        |qq AS (SELECT e.vec_id, m.mx, e.x, FLOOR(e.x * (127.0 / m.mx)) AS qi
        |       FROM ex e JOIN mx m USING (vec_id))
        |SELECT vec_id, CAST(MIN(qi) AS BIGINT) AS qmin, CAST(MAX(qi) AS BIGINT) AS qmax,
        |  CAST(ROUND(CAST(SUM(CAST(ABS(qi * mx / 127.0 - x) AS DECIMAL(28,14))) AS DOUBLE)
        |    / COUNT(*), 8) AS DOUBLE) AS mean_abs_err
        |FROM qq GROUP BY vec_id ORDER BY vec_id LIMIT 500""".stripMargin,

    // qe4: the per-dimension replay — same floor/decimal regime as qe1
    "qe4_chanquant" ->
      """WITH idx AS (SELECT i FROM generate_series(1, 64) t(i)),
        |ex AS (SELECT CAST(i AS BIGINT) AS dim, CAST(embedding[i] AS DOUBLE) AS x
        |       FROM embeddings, idx WHERE i <= len(embedding)),
        |sc AS (SELECT dim, MAX(ABS(x)) AS mx FROM ex GROUP BY 1),
        |q AS (SELECT e.dim, s.mx, e.x, FLOOR(e.x * (127.0 / s.mx)) AS qi
        |      FROM ex e JOIN sc s USING (dim))
        |SELECT dim, CAST(ROUND(MAX(mx), 6) AS DOUBLE) AS mx,
        |  CAST(MIN(qi) AS BIGINT) AS qmin, CAST(MAX(qi) AS BIGINT) AS qmax,
        |  CAST(ROUND(CAST(SUM(CAST(ABS(qi * mx / 127.0 - x) AS DECIMAL(28,14))) AS DOUBLE)
        |    / COUNT(*), 8) AS DOUBLE) AS mean_abs_err
        |FROM q GROUP BY dim ORDER BY dim""".stripMargin,

    "qt10_chunk" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |c AS (SELECT doc_id, tk,
         |        unnest(generate_series(CAST(0 AS BIGINT),
         |          (len(tk) + 47) // 48 - 1)) AS k
         |      FROM t)
         |SELECT doc_id, k,
         |  CAST(len(list_slice(tk, k*48 + 1, k*48 + 64)) AS BIGINT) AS n_tok,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(array_to_string(list_slice(tk, k*48 + 1, k*48 + 64), ' '), ''),
         |      ch -> CAST(unicode(ch) AS BIGINT))),
         |    (acc, x) -> (acc * 31 + x) % $P) AS fp
         |FROM c ORDER BY doc_id, k""".stripMargin,

    "qt11_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |tri AS (
        |  SELECT doc_id,
        |    CAST(greatest(len(tk) - 2, 0) AS BIGINT) AS n_tri,
        |    CAST(len(list_distinct(list_transform(
        |      generate_series(1, greatest(len(tk) - 2, 0)),
        |      k -> array_to_string(tk[k:k+2], ' ')))) AS BIGINT) AS n_uniq
        |  FROM t)
        |SELECT doc_id, n_tri, n_uniq, n_tri - n_uniq AS n_dup,
        |  CAST(ROUND(CAST(n_tri - n_uniq AS DOUBLE) / n_tri, 4) AS DOUBLE) AS rep_ratio,
        |  CASE WHEN n_tri > n_uniq THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS flagged
        |FROM tri WHERE n_tri > 0 ORDER BY doc_id""".stripMargin,

    "qx2_split" ->
      """WITH b AS (
        |  SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    (1103515245 * (doc_id % 2147483648) + 12345) % 2147483648 % 10 AS bucket
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN bucket <= 7 THEN 'train' WHEN bucket = 8 THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    "qx3_mix" ->
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 2 WHEN 'zh' THEN 2
        |         ELSE 1 END AS BIGINT) AS w,
        |    (1103515245 * (doc_id % 2147483648) + 12345) % 2147483648 AS hk
        |  FROM documents),
        |caps AS (SELECT lang, w, COUNT(*) AS n_avail FROM w GROUP BY 1, 2),
        |k AS (SELECT MIN(n_avail // w) AS k FROM caps),
        |r AS (SELECT doc_id, lang, w,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS BIGINT) AS rk
        |      FROM w)
        |SELECT r.lang, c.n_avail, COUNT(*) AS n_kept
        |FROM r JOIN caps c USING (lang), k
        |WHERE r.rk <= r.w * k.k
        |GROUP BY 1, 2 ORDER BY lang""".stripMargin,

    "qx4_tokenmix" ->
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 2 WHEN 'zh' THEN 2
        |         ELSE 1 END AS BIGINT) AS w,
        |    (1103515245 * (doc_id % 2147483648) + 12345) % 2147483648 AS hk
        |  FROM documents),
        |tot AS (SELECT lang, w, SUM(n_tok) AS t_avail FROM docs GROUP BY 1, 2),
        |kk AS (SELECT MIN(t_avail // w) AS k FROM tot),
        |cm AS (SELECT lang, w, n_tok,
        |         SUM(n_tok) OVER (PARTITION BY lang ORDER BY hk, doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS cum
        |       FROM docs)
        |SELECT lang, CAST(w * k AS BIGINT) AS quota, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tok) AS BIGINT) AS tok_kept
        |FROM cm, kk WHERE cum <= w * k
        |GROUP BY 1, 2 ORDER BY lang""".stripMargin,

    // qx8: the same isqrt (floor(sqrt)+correction — exact regardless of
    // the double rounding) and largest-remainder apportionment
    "qx8_tempmix" ->
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |    (1103515245 * (doc_id % 2147483648) + 12345) % 2147483648 AS hk
        |  FROM documents),
        |c AS (SELECT lang, COUNT(*) AS n_avail FROM docs GROUP BY lang),
        |w AS (SELECT lang, n_avail,
        |        CASE WHEN (s1+1)*(s1+1) <= n_avail THEN s1+1 ELSE s1 END AS w
        |      FROM (SELECT lang, n_avail,
        |              CASE WHEN s0*s0 > n_avail THEN s0-1 ELSE s0 END AS s1
        |            FROM (SELECT lang, n_avail,
        |                    CAST(FLOOR(SQRT(CAST(n_avail AS DOUBLE))) AS BIGINT) AS s0
        |                  FROM c) a) b),
        |t AS (SELECT SUM(w) AS bigw, SUM(n_avail) // 2 AS b FROM w),
        |q AS (SELECT lang, n_avail, w,
        |        (t.b * w) // t.bigw AS q0, (t.b * w) % t.bigw AS rem, t.b AS b
        |      FROM w, t),
        |q2 AS (SELECT lang, n_avail, w, q0,
        |         ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rr,
        |         b - SUM(q0) OVER () AS r
        |       FROM q),
        |quotas AS (SELECT lang, n_avail, w,
        |             LEAST(CASE WHEN rr <= r THEN q0+1 ELSE q0 END,
        |                   n_avail) AS quota
        |           FROM q2),
        |rkd AS (SELECT doc_id, lang,
        |          ROW_NUMBER() OVER (PARTITION BY lang
        |                             ORDER BY hk, doc_id) AS rk
        |        FROM docs)
        |SELECT r.lang, q.n_avail, CAST(q.w AS BIGINT) AS w,
        |       CAST(q.quota AS BIGINT) AS quota,
        |       CAST(COUNT(*) AS BIGINT) AS n_kept,
        |       CAST(SUM(r.doc_id) AS BIGINT) AS id_sum
        |FROM rkd r JOIN quotas q ON r.lang = q.lang
        |WHERE r.rk <= q.quota
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin,

    "qx9_curriculum" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |toks AS (SELECT doc_id, unnest(tk) AS w FROM docs),
        |freq AS (SELECT w, COUNT(*) AS cf FROM toks GROUP BY 1),
        |ntot AS (SELECT COUNT(*) AS ntot FROM toks),
        |rare AS (SELECT doc_id,
        |           SUM(CASE WHEN cf * 50 < ntot THEN 1 ELSE 0 END) AS r
        |         FROM toks JOIN freq USING (w), ntot GROUP BY 1),
        |per AS (SELECT d.doc_id,
        |          CAST(len(tk) AS BIGINT)
        |            + CAST(len(list_distinct(tk)) AS BIGINT) * 1000 // len(tk)
        |            + r * 5000 // len(tk) AS score
        |        FROM docs d JOIN rare USING (doc_id)),
        |dist AS (SELECT score, COUNT(*) AS c FROM per GROUP BY 1),
        |st AS (SELECT score,
        |         LEAST(3, (COALESCE(SUM(c) OVER (ORDER BY score
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 4)
        |           // (SELECT COUNT(*) FROM per)) AS stage
        |       FROM dist)
        |SELECT CAST(stage AS BIGINT) AS stage,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(MIN(p.score) AS BIGINT) AS smin,
        |       CAST(MAX(p.score) AS BIGINT) AS smax,
        |       CAST(SUM(p.score) AS BIGINT) AS ssum
        |FROM per p JOIN st ON st.score = p.score
        |GROUP BY stage ORDER BY stage""".stripMargin,

    "qx1_decontam" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(len(tk) - 2, 0)),
         |    k -> array_to_string(tk[k:k+2], ' ')))) AS s
         |  FROM t),
         |h AS (SELECT doc_id,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(string_split(s, ''), ch -> CAST(unicode(ch) AS BIGINT))),
         |          (acc, x) -> (acc * 31 + x) % $P) AS h
         |      FROM sh),
         |ev AS (SELECT DISTINCT h FROM h WHERE doc_id % 97 = 0)
         |SELECT t.doc_id, CAST(COUNT(DISTINCT t.h) AS BIGINT) AS n_hits
         |FROM h t JOIN ev USING (h)
         |WHERE t.doc_id % 97 <> 0
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "qx5_bloomgate" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(len(tk) - 2, 0)),
         |    k -> array_to_string(tk[k:k+2], ' ')))) AS s
         |  FROM t),
         |h AS (SELECT doc_id,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(string_split(s, ''), ch -> CAST(unicode(ch) AS BIGINT))),
         |          (acc, x) -> (acc * 31 + x) % $P) AS h
         |      FROM sh),
         |bits AS (SELECT unnest([h % 65536, (h * 31 + 17) % 65536]) AS b
         |         FROM h WHERE doc_id % 97 = 0),
         |words AS (SELECT b // 32 AS w,
         |                 bit_or(CAST(1 AS BIGINT) << CAST(b % 32 AS INT)) AS mask
         |          FROM bits GROUP BY 1),
         |ev AS (SELECT DISTINCT h AS eh FROM h WHERE doc_id % 97 = 0),
         |pr AS (SELECT doc_id, h, h % 65536 AS pb1, (h * 31 + 17) % 65536 AS pb2
         |       FROM h WHERE doc_id % 97 <> 0)
         |SELECT pr.doc_id, CAST(COUNT(DISTINCT pr.h) AS BIGINT) AS n_bloom,
         |       CAST(COUNT(DISTINCT CASE WHEN ev.eh IS NOT NULL THEN pr.h END) AS BIGINT) AS n_exact
         |FROM pr
         |JOIN words w1 ON w1.w = pr.pb1 // 32
         |JOIN words w2 ON w2.w = pr.pb2 // 32
         |LEFT JOIN ev ON ev.eh = pr.h
         |WHERE (w1.mask & (CAST(1 AS BIGINT) << CAST(pr.pb1 % 32 AS INT))) <> 0
         |  AND (w2.mask & (CAST(1 AS BIGINT) << CAST(pr.pb2 % 32 AS INT))) <> 0
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "qt12_lmscore" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bi AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk)-1, 0)),
        |                k -> struct_pack(w1 := tk[k], w2 := tk[k+1]))) AS b
        |  FROM t),
        |b2 AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
        |uni AS (SELECT w1, COUNT(*) AS c1 FROM b2 GROUP BY 1),
        |lmp AS (SELECT w1, w2,
        |          CAST(ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(c1), 8) AS DECIMAL(12,8)) AS p
        |        FROM b2 JOIN uni USING (w1) GROUP BY w1, w2),
        |sc AS (SELECT doc_id, COUNT(*) AS n_bi, SUM(p) AS sp
        |       FROM b2 JOIN lmp USING (w1, w2) GROUP BY 1)
        |SELECT doc_id, n_bi,
        |  CAST(ROUND(CAST(sp AS DOUBLE) / n_bi, 6) AS DOUBLE) AS score
        |FROM sc ORDER BY score, doc_id LIMIT 200""".stripMargin,

    // qt27: qt12's score pipeline replayed whole-corpus, swept against
    // the same eight shared threshold literals; the cut compares the
    // ROUNDED score on both sides
    "qt27_prunecurve" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bi AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(tk)-1, 0)),
        |                k -> struct_pack(w1 := tk[k], w2 := tk[k+1]))) AS b
        |  FROM t),
        |b2 AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
        |uni AS (SELECT w1, COUNT(*) AS c1 FROM b2 GROUP BY 1),
        |lmp AS (SELECT w1, w2,
        |          CAST(ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(c1), 8) AS DECIMAL(12,8)) AS p
        |        FROM b2 JOIN uni USING (w1) GROUP BY w1, w2),
        |sc AS (SELECT doc_id,
        |         CAST(ROUND(CAST(SUM(p) AS DOUBLE) / COUNT(*), 6) AS DOUBLE) AS score
        |       FROM b2 JOIN lmp USING (w1, w2) GROUP BY 1),
        |nt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |       FROM documents),
        |sw AS (SELECT score, n_tok, CAST(tau AS DOUBLE) AS tau
        |       FROM sc JOIN nt USING (doc_id),
        |            (VALUES (0.030), (0.031), (0.032), (0.033), (0.034),
        |                    (0.035), (0.036), (0.037)) v(tau))
        |SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(CASE WHEN score >= tau THEN 1 ELSE 0 END) AS BIGINT)
        |         AS kept_docs,
        |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN score >= tau THEN n_tok ELSE 0 END)
        |         AS BIGINT) AS kept_tokens,
        |       CAST(ROUND(CAST(SUM(CASE WHEN score >= tau THEN 1 ELSE 0 END)
        |         AS DOUBLE) * 100.0 / COUNT(*), 6) AS DOUBLE) AS pct_docs,
        |       CAST(ROUND(CAST(SUM(CASE WHEN score >= tau THEN n_tok ELSE 0 END)
        |         AS DOUBLE) * 100.0 / SUM(n_tok), 6) AS DOUBLE) AS pct_tokens
        |FROM sw GROUP BY tau ORDER BY tau""".stripMargin,

    "qt9_tfidf" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |sc AS (SELECT doc_id, term, tf, df,
        |         CAST(ROUND(tf * n / df, 6) AS DOUBLE) AS score
        |       FROM tf JOIN dfreq USING (term), n),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term) AS BIGINT) AS rk FROM sc)
        |SELECT doc_id, rk, term, CAST(tf AS BIGINT) AS tf,
        |       CAST(df AS BIGINT) AS df, score
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "qm1_multimodal" ->
      s"""SELECT doc_id,
         |  CAST(strlen(text) AS BIGINT) AS n_bytes,
         |  upper(substr(hex(text), 1, 16)) AS head_hex,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(substr(text, 1, 16), ''), ch -> CAST(unicode(ch) AS BIGINT))),
         |    (acc, x) -> (acc * 31 + x) % $P) AS head_hash
         |FROM documents ORDER BY doc_id""".stripMargin,

    // qm3: ASCII text makes character slicing == byte slicing, so the
    // varchar substring mirrors Spark's BINARY substring exactly
    "qm3_framesample" ->
      s"""WITH p AS (SELECT doc_id, text FROM documents WHERE strlen(text) >= 16),
         |fr AS (SELECT doc_id, text,
         |         unnest(generate_series(0, (strlen(text) - 16) // 64)) AS f
         |       FROM p),
         |sel AS (SELECT doc_id, f,
         |          upper(hex(substr(text, f * 64 + 1, 16))) AS hx
         |        FROM fr WHERE f % 4 = 0)
         |SELECT doc_id, f,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(hx, ''), ch -> CAST(unicode(ch) AS BIGINT))),
         |    (acc, x) -> (acc * 31 + x) % $P) AS fh
         |FROM sel ORDER BY doc_id, f""".stripMargin,

    // qm4: the oracle recomputes the expected bytes from parquet — a
    // hash match proves the file write → binaryFile read round trip
    // byte-exact (the +1/chr(10) is the text sink's per-line newline)
    "qm4_binaryfiles" ->
      s"""SELECT doc_id, CAST(strlen(text) + 1 AS BIGINT) AS n_bytes,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(text || chr(10), ''), ch -> CAST(unicode(ch) AS BIGINT))),
         |    (acc, x) -> (acc * 31 + x) % $P) AS fp
         |FROM documents WHERE doc_id % 25 = 0 ORDER BY doc_id""".stripMargin,

    // same expression tree as the Spark side, operation for operation:
    // every intermediate is an IEEE double (the decimal literals widen
    // to double on first contact), so products/sums/quotients are
    // correctly rounded identically; the final decimal(18,8) round-6
    // is the shared display convention
    "qt14_bm25" ->
      """WITH tk AS (SELECT doc_id,
        |              CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |              unnest(string_split(text, ' ')) AS term
        |            FROM documents),
        |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |g AS (SELECT COUNT(*) AS n, SUM(dl) AS sdl
        |      FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |            FROM documents)),
        |sc AS (SELECT doc_id, term, tf,
        |         CAST(ROUND(CAST(
        |           ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |              / (CAST(df AS DOUBLE) + 0.5))
        |           * (CAST(tf AS DOUBLE) * 2.2
        |              / (CAST(tf AS DOUBLE) + 1.2
        |                 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * CAST(n AS DOUBLE)
        |                                   / CAST(sdl AS DOUBLE)))))
        |           AS DECIMAL(18,8)), 6) AS DOUBLE) AS score
        |       FROM tf JOIN dfreq USING (term), g),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term) AS BIGINT) AS rk FROM sc)
        |SELECT doc_id, rk, term, CAST(tf AS BIGINT) AS tf, score
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "qx6_shard" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    (1103515245 * (doc_id % 2147483648) + 12345) % 2147483648 AS h
        |  FROM documents),
        |p AS (SELECT *, h % 8 AS shard,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY h % 8
        |          ORDER BY h, doc_id) AS BIGINT) AS pos
        |      FROM h)
        |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  MIN(h) AS min_h, MAX(h) AS max_h,
        |  CAST(SUM(doc_id * pos) AS BIGINT) AS perm_sum
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin,

    // qt15: the canonicalization replayed with DuckDB's 1-based list
    // lambdas (Spark's filter index is 0-based, DuckDB's is 1-based;
    // the out-of-range kept[i-1] at the first element is NULL in both,
    // absorbed by the leading OR)
    "qt15_normalize" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |k AS (SELECT doc_id, tk,
        |        list_filter(tk, x -> NOT list_contains(['the','a','of','and'], x)) AS kept
        |      FROM tk),
        |n AS (SELECT doc_id, tk,
        |        list_filter(kept, (x, i) -> i = 1 OR x != kept[i-1]) AS norm
        |      FROM k)
        |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_orig,
        |  CAST(len(norm) AS BIGINT) AS n_norm,
        |  CASE WHEN len(norm) = 0 THEN CAST(0 AS BIGINT)
        |       ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(string_split(array_to_string(norm, ' '), ''),
        |           ch -> CAST(unicode(ch) AS BIGINT))),
        |         (acc, x) -> (acc * 31 + x) % $P) END AS fp_norm
        |FROM n ORDER BY doc_id""".stripMargin,

    // q69: the generalization ladder replayed on the group summary
    "q69_kanon" ->
      """WITH g0 AS (
        |  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
        |pub0 AS (SELECT lang, source, n, CAST(0 AS BIGINT) AS level
        |         FROM g0 WHERE n >= 10),
        |g1 AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n FROM g0
        |       WHERE n < 10 GROUP BY lang),
        |pub1 AS (SELECT lang, '*' AS source, n, CAST(1 AS BIGINT) AS level
        |         FROM g1 WHERE n >= 10),
        |pub2 AS (SELECT '*' AS lang, '*' AS source,
        |           CAST(SUM(n) AS BIGINT) AS n, CAST(2 AS BIGINT) AS level
        |         FROM g1 WHERE n < 10 HAVING SUM(n) IS NOT NULL)
        |SELECT * FROM pub0 UNION ALL SELECT * FROM pub1
        |UNION ALL SELECT * FROM pub2
        |ORDER BY level, lang, source""".stripMargin,

    "q101_ldiv" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, source, n_chars // 100 AS sens
        |  FROM documents),
        |g0 AS (SELECT lang, source, COUNT(*) AS n FROM docs GROUP BY 1, 2),
        |k0 AS (SELECT lang, source FROM g0 WHERE n >= 10),
        |g1 AS (SELECT lang, SUM(n) AS n FROM g0 WHERE n < 10 GROUP BY 1),
        |k1 AS (SELECT lang FROM g1 WHERE n >= 10),
        |cls AS (SELECT d.sens,
        |          CASE WHEN k0.lang IS NOT NULL OR k1.lang IS NOT NULL
        |               THEN d.lang ELSE '*' END AS c_lang,
        |          CASE WHEN k0.lang IS NOT NULL THEN d.source
        |               ELSE '*' END AS c_source,
        |          CASE WHEN k0.lang IS NOT NULL THEN 0
        |               WHEN k1.lang IS NOT NULL THEN 1 ELSE 2 END AS level
        |        FROM docs d
        |        LEFT JOIN k0 ON k0.lang = d.lang AND k0.source = d.source
        |        LEFT JOIN k1 ON k1.lang = d.lang)
        |SELECT CAST(level AS BIGINT) AS level, c_lang, c_source,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COUNT(DISTINCT sens) AS BIGINT) AS l,
        |       COUNT(DISTINCT sens) >= 3 AS diverse
        |FROM cls GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // qt18: boundaries, chunk slices, fingerprints, and the corpus dup
    // flag replayed with DuckDB list comprehensions (1-based inclusive
    // slices, generate_series empty when reversed — matching the
    // Spark side's guarded sequence)
    "qt18_cdcchunk" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |b AS (SELECT doc_id, tk,
        |        [i FOR i IN generate_series(4, len(tk) - 1)
        |         IF list_reduce(list_prepend(CAST(0 AS BIGINT),
        |              list_transform(string_split(array_to_string(tk[i-3:i], ' '), ''),
        |                ch -> CAST(unicode(ch) AS BIGINT))),
        |              (acc, x) -> (acc * 31 + x) % $P) % 32 = 0] AS bounds
        |      FROM t),
        |se AS (SELECT doc_id, tk,
        |         list_prepend(1, list_transform(bounds, x -> x + 1)) AS starts,
        |         list_append(bounds, len(tk)) AS ends
        |       FROM b),
        |c AS (SELECT doc_id, tk, starts, ends,
        |        unnest(generate_series(1, len(starts))) AS k
        |      FROM se),
        |ch AS (SELECT doc_id, CAST(k AS BIGINT) AS k,
        |         CAST(ends[k] - starts[k] + 1 AS BIGINT) AS nt,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(array_to_string(tk[starts[k]:ends[k]], ' '), ''),
        |             ch -> CAST(unicode(ch) AS BIGINT))),
        |           (acc, x) -> (acc * 31 + x) % $P) AS fp
        |       FROM c),
        |cnt AS (SELECT fp, COUNT(*) AS cnt FROM ch GROUP BY fp)
        |SELECT ch.doc_id, ch.k, ch.nt, ch.fp, cnt.cnt >= 2 AS dup
        |FROM ch JOIN cnt USING (fp)
        |ORDER BY doc_id, k""".stripMargin,

    // qx7: the physical write order must reproduce qx6's LOGICAL
    // contract — same oracle text, so a hash match proves the layout
    "qx7_shardaudit" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    (1103515245 * (doc_id % 2147483648) + 12345) % 2147483648 AS h
        |  FROM documents),
        |p AS (SELECT *, h % 8 AS shard,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY h % 8
        |          ORDER BY h, doc_id) AS BIGINT) AS pos
        |      FROM h)
        |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  MIN(h) AS min_h, MAX(h) AS max_h,
        |  CAST(SUM(doc_id * pos) AS BIGINT) AS perm_sum
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin,

    // qt16: the novelty chain replayed — distinct 3-gram shingle hashes
    // per doc (qx1's spelling), min-doc winners, re-aggregated per doc
    "qt16_novelty" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(len(tk) - 2, 0)),
         |    k -> array_to_string(tk[k:k+2], ' ')))) AS s
         |  FROM t),
         |h AS (SELECT doc_id,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(string_split(s, ''), ch -> CAST(unicode(ch) AS BIGINT))),
         |          (acc, x) -> (acc * 31 + x) % $P) AS h
         |      FROM sh),
         |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM h GROUP BY 1),
         |novel AS (SELECT doc_id, COUNT(*) AS n_novel FROM (
         |    SELECT h, MIN(doc_id) AS doc_id FROM h GROUP BY h) GROUP BY 1)
         |SELECT t.doc_id, t.n_shingles,
         |  COALESCE(n.n_novel, CAST(0 AS BIGINT)) AS n_novel
         |FROM tot t LEFT JOIN novel n USING (doc_id) ORDER BY doc_id""".stripMargin,

    // qt17: exact top-10 token counts; DuckDB's "sketch" is the exact
    // count, which satisfies its own bound by definition (the t1/t2
    // each-engine-validates-its-own convention)
    "qt17_heavyhitters" ->
      """SELECT tok, COUNT(*) AS n_exact, TRUE AS ok
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |WHERE strlen(tok) > 0
        |GROUP BY tok ORDER BY n_exact DESC, tok LIMIT 10""".stripMargin,

    "q103_tclose" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, source, n_chars // 100 AS sens
        |  FROM documents),
        |g0 AS (SELECT lang, source, COUNT(*) AS n FROM docs GROUP BY 1, 2),
        |k0 AS (SELECT lang, source FROM g0 WHERE n >= 10),
        |g1 AS (SELECT lang, SUM(n) AS n FROM g0 WHERE n < 10 GROUP BY 1),
        |k1 AS (SELECT lang FROM g1 WHERE n >= 10),
        |cls AS (SELECT d.sens,
        |          CASE WHEN k0.lang IS NOT NULL OR k1.lang IS NOT NULL
        |               THEN d.lang ELSE '*' END AS c_lang,
        |          CASE WHEN k0.lang IS NOT NULL THEN d.source
        |               ELSE '*' END AS c_source,
        |          CASE WHEN k0.lang IS NOT NULL THEN 0
        |               WHEN k1.lang IS NOT NULL THEN 1 ELSE 2 END AS level
        |        FROM docs d
        |        LEFT JOIN k0 ON k0.lang = d.lang AND k0.source = d.source
        |        LEFT JOIN k1 ON k1.lang = d.lang),
        |cc AS (SELECT level, c_lang, c_source, sens, COUNT(*) AS cc
        |       FROM cls GROUP BY 1, 2, 3, 4),
        |cl AS (SELECT level, c_lang, c_source, SUM(cc) AS nc
        |       FROM cc GROUP BY 1, 2, 3),
        |gdist AS (SELECT sens, COUNT(*) AS cg FROM cls GROUP BY 1),
        |tot AS (SELECT SUM(cg) AS nn, MAX(sens) - MIN(sens) AS rng
        |        FROM gdist),
        |grid AS (SELECT cl.level, cl.c_lang, cl.c_source, cl.nc,
        |           g.sens, tot.nn, tot.rng,
        |           COALESCE(cc.cc, 0) * tot.nn - g.cg * cl.nc AS diff
        |         FROM cl CROSS JOIN gdist g CROSS JOIN tot
        |         LEFT JOIN cc ON cc.level = cl.level
        |           AND cc.c_lang = cl.c_lang AND cc.c_source = cl.c_source
        |           AND cc.sens = g.sens),
        |cu AS (SELECT level, c_lang, c_source, nc, nn, rng,
        |         SUM(diff) OVER win AS cum,
        |         COALESCE(LEAD(sens, 1) OVER win - sens, 0) AS gap
        |       FROM grid
        |       WINDOW win AS (PARTITION BY level, c_lang, c_source
        |                      ORDER BY sens))
        |SELECT CAST(level AS BIGINT) AS level, c_lang, c_source,
        |       CAST(MAX(nc) AS BIGINT) AS nc,
        |       CAST(SUM(ABS(cum) * gap) AS BIGINT) AS emd_scaled,
        |       CAST(ROUND(CAST(SUM(ABS(cum) * gap) AS DOUBLE)
        |         / (CAST(MAX(nn) AS DOUBLE) * MAX(nc) * MAX(rng)), 6)
        |         AS DOUBLE) AS t,
        |       CAST(ROUND(CAST(SUM(ABS(cum) * gap) AS DOUBLE)
        |         / (CAST(MAX(nn) AS DOUBLE) * MAX(nc) * MAX(rng)), 6)
        |         AS DOUBLE) <= 0.2 AS tclose
        |FROM cu GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "qt20_simpson" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |            FROM documents),
        |tkf AS (SELECT doc_id, tok FROM tk WHERE strlen(tok) > 0),
        |pd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
        |         CAST(SUM(c * (c - 1)) AS BIGINT) AS num
        |       FROM (SELECT doc_id, tok, COUNT(*) AS c
        |             FROM tkf GROUP BY 1, 2) GROUP BY 1),
        |cp AS (SELECT CAST(-1 AS BIGINT) AS doc_id,
        |         CAST(SUM(c) AS BIGINT) AS n_tok,
        |         CAST(SUM(c * (c - 1)) AS BIGINT) AS num
        |       FROM (SELECT tok, COUNT(*) AS c FROM tkf GROUP BY 1)),
        |u AS (SELECT * FROM pd UNION ALL SELECT * FROM cp)
        |SELECT doc_id, n_tok, num,
        |       CASE WHEN n_tok >= 2 THEN
        |         CAST(ROUND(CAST(num AS DOUBLE)
        |           / (CAST(n_tok AS DOUBLE) * (n_tok - 1)), 6) AS DOUBLE)
        |       END AS simpson
        |FROM u ORDER BY doc_id""".stripMargin,

    "qx10_domaincap" ->
      """WITH pr AS (
        |  SELECT doc_id, source,
        |         (1103515245 * (doc_id % 2147483648) + 12345)
        |           % 2147483648 AS pr
        |  FROM documents),
        |r AS (SELECT source, doc_id, pr,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY pr, doc_id) AS BIGINT) AS rk
        |      FROM pr)
        |SELECT source, doc_id, pr, rk FROM r WHERE rk <= 15
        |ORDER BY source, rk""".stripMargin,

    "qt21_hashclf" ->
      s"""WITH tk AS (
         |  SELECT doc_id, lang,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(string_split(tok, ''),
         |             ch -> CAST(unicode(ch) AS BIGINT))),
         |           (acc, x) -> (acc * 31 + x) % $P) % 1024 AS b
         |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)
         |  WHERE strlen(tok) > 0),
         |wts AS (SELECT b,
         |          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |            - SUM(CASE WHEN lang != 'en' THEN 1 ELSE 0 END)
         |            AS BIGINT) AS w
         |        FROM tk GROUP BY 1),
         |cnt AS (SELECT doc_id, lang, b, COUNT(*) AS c
         |        FROM tk GROUP BY 1, 2, 3)
         |SELECT doc_id, lang, CAST(SUM(c * w) AS BIGINT) AS score,
         |       SUM(c * w) > 0 AS pred_en,
         |       (SUM(c * w) > 0) = (lang = 'en') AS correct
         |FROM cnt JOIN wts USING (b)
         |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin,

    "qc6_saferelease" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, source, n_chars, n_chars // 100 AS sens
        |  FROM documents),
        |g0 AS (SELECT lang, source, COUNT(*) AS n FROM docs GROUP BY 1, 2),
        |k0 AS (SELECT lang, source FROM g0 WHERE n >= 10),
        |g1 AS (SELECT lang, SUM(n) AS n FROM g0 WHERE n < 10 GROUP BY 1),
        |k1 AS (SELECT lang FROM g1 WHERE n >= 10),
        |cls AS (SELECT d.doc_id, d.n_chars, d.sens,
        |          CASE WHEN k0.lang IS NOT NULL OR k1.lang IS NOT NULL
        |               THEN d.lang ELSE '*' END AS c_lang,
        |          CASE WHEN k0.lang IS NOT NULL THEN d.source
        |               ELSE '*' END AS c_source,
        |          CASE WHEN k0.lang IS NOT NULL THEN 0
        |               WHEN k1.lang IS NOT NULL THEN 1 ELSE 2 END AS level
        |        FROM docs d
        |        LEFT JOIN k0 ON k0.lang = d.lang AND k0.source = d.source
        |        LEFT JOIN k1 ON k1.lang = d.lang),
        |st AS (SELECT level, c_lang, c_source, COUNT(*) AS n,
        |         COUNT(DISTINCT sens) AS l
        |       FROM cls GROUP BY 1, 2, 3),
        |hist AS (SELECT level, c_lang, c_source, n_chars AS v,
        |           COUNT(*) AS c
        |         FROM cls GROUP BY 1, 2, 3, 4),
        |cum AS (SELECT h.level, h.c_lang, h.c_source, h.v, st.n,
        |          SUM(h.c) OVER (PARTITION BY h.level, h.c_lang,
        |            h.c_source ORDER BY h.v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS cum
        |        FROM hist h
        |        JOIN st USING (level, c_lang, c_source)),
        |b AS (SELECT level, c_lang, c_source,
        |        MIN(CASE WHEN cum >= (n + 9) // 10 THEN v END) AS lo,
        |        MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN v END) AS hi
        |      FROM cum GROUP BY 1, 2, 3),
        |ws AS (SELECT c.level, c.c_lang, c.c_source,
        |         CAST(SUM(GREATEST(b.lo, LEAST(b.hi, c.n_chars)))
        |           AS BIGINT) AS wsum
        |       FROM cls c JOIN b USING (level, c_lang, c_source)
        |       GROUP BY 1, 2, 3)
        |SELECT CAST(st.level AS BIGINT) AS level, st.c_lang, st.c_source,
        |       CAST(st.n AS BIGINT) AS n, CAST(st.l AS BIGINT) AS l,
        |       st.l < 3 AS suppressed,
        |       CASE WHEN st.l >= 3 THEN ws.wsum END AS wsum,
        |       CASE WHEN st.l >= 3 THEN
        |         CAST(ROUND(CAST(ws.wsum AS DOUBLE) / st.n, 4) AS DOUBLE)
        |       END AS wmean
        |FROM st JOIN ws USING (level, c_lang, c_source)
        |ORDER BY level, c_lang, c_source""".stripMargin,

    "qt22_contamscore" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
         |           FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(len(tk) - 2, 0)),
         |    k -> array_to_string(tk[k:k+2], ' ')))) AS s
         |  FROM t),
         |h AS (SELECT doc_id,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(string_split(s, ''),
         |            ch -> CAST(unicode(ch) AS BIGINT))),
         |          (acc, x) -> (acc * 31 + x) % $P) AS h
         |      FROM sh),
         |ev AS (SELECT DISTINCT h FROM h WHERE doc_id % 97 = 0),
         |corpus AS (SELECT doc_id, h FROM h WHERE doc_id % 97 <> 0),
         |tot AS (SELECT doc_id, COUNT(DISTINCT h) AS n_sh
         |        FROM corpus GROUP BY 1),
         |hits AS (SELECT c.doc_id, COUNT(DISTINCT c.h) AS n_hits
         |         FROM corpus c JOIN ev USING (h) GROUP BY 1)
         |SELECT t.doc_id, CAST(t.n_sh AS BIGINT) AS n_sh,
         |       CAST(COALESCE(hi.n_hits, 0) AS BIGINT) AS n_hits,
         |       CAST(ROUND(CAST(COALESCE(hi.n_hits, 0) AS DOUBLE)
         |         / t.n_sh, 6) AS DOUBLE) AS score,
         |       CASE WHEN 5 * COALESCE(hi.n_hits, 0) >= 4 * t.n_sh
         |            THEN 'drop'
         |            WHEN 5 * COALESCE(hi.n_hits, 0) >= t.n_sh
         |            THEN 'flag'
         |            ELSE 'keep' END AS action
         |FROM tot t LEFT JOIN hits hi USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "qx11_upsample" ->
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |         (1103515245 * (doc_id % 2147483648) + 12345)
        |           % 2147483648 AS pr
        |  FROM documents),
        |c AS (SELECT lang, COUNT(*) AS k FROM docs GROUP BY 1),
        |tg AS (SELECT MAX(k) AS t FROM c),
        |r AS (SELECT d.lang, d.doc_id, c.k, tg.t,
        |        ROW_NUMBER() OVER (PARTITION BY d.lang
        |          ORDER BY d.pr, d.doc_id) AS rk
        |      FROM docs d JOIN c USING (lang) CROSS JOIN tg),
        |rep AS (SELECT lang, doc_id, t,
        |          unnest(generate_series(1, CAST(t // k
        |            + CASE WHEN rk <= t % k THEN 1 ELSE 0 END
        |            AS BIGINT))) AS copy
        |        FROM r)
        |SELECT lang, CAST(MAX(t) AS BIGINT) AS n_target,
        |       CAST(COUNT(*) AS BIGINT) AS n_out,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_orig,
        |       CAST(SUM(doc_id * copy) AS BIGINT) AS checksum,
        |       COUNT(*) = MAX(t) AS exact
        |FROM rep GROUP BY lang ORDER BY lang""".stripMargin,

    "qx12_lengthbuckets" -> {
      val pc = Pow2Case("n_tok")
      s"""WITH base AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
         |           AS n_tok
         |  FROM documents),
         |b AS (SELECT $pc AS cap, COUNT(*) AS n_docs,
         |        SUM(n_tok) AS real_tok
         |      FROM base GROUP BY 1),
         |bb AS (SELECT cap, n_docs, real_tok, n_docs * cap AS padded_tok
         |       FROM b),
         |g AS (SELECT CAST(0 AS BIGINT) AS cap, COUNT(*) AS n_docs,
         |        SUM(n_tok) AS real_tok, COUNT(*) * MAX(n_tok) AS padded_tok
         |      FROM base),
         |u AS (SELECT * FROM bb UNION ALL SELECT * FROM g)
         |SELECT cap, CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(real_tok AS BIGINT) AS real_tok,
         |       CAST(padded_tok AS BIGINT) AS padded_tok,
         |       CAST(ROUND(CAST(padded_tok - real_tok AS DOUBLE)
         |         / padded_tok, 6) AS DOUBLE) AS waste
         |FROM u ORDER BY cap""".stripMargin
    },

    // qe6: the full replay — cross-scaled integer covariance in
    // HUGEINT, then the identical 8 power-iteration rounds with
    // digit-count trunc rescaling (no floating point until the final
    // component display, the same single IEEE tree as the Spark side)
    "qe6_pca" -> {
      val iters = (1 to 8).map { k =>
        val pv = if (k == 1) "v0" else s"v${k - 1}"
        s"""u$k AS MATERIALIZED (SELECT c.i, SUM(c.c * v.v) AS u
           |  FROM cov c JOIN $pv v ON v.i = c.j GROUP BY 1),
           |m$k AS (SELECT GREATEST(LENGTH(CAST(MAX(ABS(u)) AS VARCHAR)) - 7, 0) AS sh
           |        FROM u$k),
           |d$k AS (SELECT CAST('1' || REPEAT('0', sh) AS HUGEINT) AS dv FROM m$k),
           |v$k AS MATERIALIZED (SELECT i,
           |  CASE WHEN u >= 0 THEN u // dv ELSE -((-u) // dv) END AS v
           |  FROM u$k, d$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH idx AS (SELECT i FROM generate_series(1, 64) t(i)),
        |ex AS MATERIALIZED (
        |  SELECT vec_id, i,
        |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000000.0) AS BIGINT) AS xi
        |  FROM embeddings, idx WHERE len(embedding) = 64),
        |nn AS (SELECT COUNT(DISTINCT vec_id) AS n FROM ex),
        |s1 AS (SELECT i, CAST(SUM(xi) AS HUGEINT) AS si FROM ex GROUP BY 1),
        |sij AS (SELECT a.i AS i, b.i AS j,
        |          CAST(SUM(CAST(a.xi * b.xi AS DECIMAL(38,0))) AS HUGEINT) AS s
        |        FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        |cov AS MATERIALIZED (
        |  SELECT sij.i, sij.j,
        |    CAST(nn.n AS HUGEINT) * sij.s - sa.si * sb.si AS c
        |  FROM sij JOIN s1 sa ON sa.i = sij.i JOIN s1 sb ON sb.i = sij.j
        |  CROSS JOIN nn),
        |v0 AS (SELECT i, CAST(1 AS HUGEINT) AS v FROM idx),
        |$iters,
        |mx AS (SELECT MAX(ABS(v)) AS mxv FROM v8)
        |SELECT i, CAST(v AS BIGINT) AS v,
        |       CAST(ROUND(CAST(v AS DOUBLE) / CAST(mxv AS DOUBLE), 6)
        |         AS DOUBLE) AS comp
        |FROM v8, mx ORDER BY i""".stripMargin
    },

    // qx13: identical fixed-point priority arithmetic; // floors like
    // Spark's div on these nonnegative values
    "qx13_prioritysample" ->
      """WITH pri AS (
        |  SELECT doc_id, n_chars AS w,
        |         (1103515245 * (doc_id % 2147483648) + 12345)
        |           % 2147483648 + 1 AS u
        |  FROM documents),
        |p2 AS (SELECT doc_id, w, (w * 2147483648) // u AS priority
        |       FROM pri),
        |r AS (SELECT doc_id, w, priority,
        |        ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rn
        |      FROM p2),
        |tau AS (SELECT priority AS tau FROM r WHERE rn = 101),
        |wt AS (SELECT SUM(w) AS w_total FROM p2)
        |SELECT doc_id, CAST(w AS BIGINT) AS w,
        |       CAST(priority AS BIGINT) AS priority,
        |       CAST(tau AS BIGINT) AS tau,
        |       CAST(ROUND(GREATEST(CAST(w AS DOUBLE),
        |         CAST(tau AS DOUBLE) / 2147483648.0), 6) AS DOUBLE) AS est,
        |       CAST(w_total AS BIGINT) AS w_total
        |FROM r, tau, wt WHERE rn <= 100 ORDER BY doc_id""".stripMargin,

    // qx14: the oracle replays the declared 16-threshold noise CDF,
    // the LCG draw, and the release arithmetic exactly
    "qx14_dpcount" ->
      """WITH g AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        |h AS (SELECT lang, n,
        |        (1103515245 * list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(string_split(lang, ''),
        |            ch -> CAST(unicode(ch) AS BIGINT))),
        |          (acc, x) -> (acc * 31 + x) % 1000000007)
        |         + 12345) % 2147483648 AS u
        |      FROM g),
        |z AS (SELECT lang, n, u,
        |        -8 + len(list_filter([332969, 1238074, 3698404, 10386276,
        |          28565796, 77982853, 212312343, 577457755, 1570025892,
        |          1935171304, 2069500794, 2118917851, 2137097371,
        |          2143785243, 2146245573, 2147150678], c -> u >= c))
        |          AS noise
        |      FROM h)
        |SELECT lang, CAST(n AS BIGINT) AS n, CAST(u AS BIGINT) AS u,
        |       CAST(noise AS BIGINT) AS noise,
        |       CAST(n + noise AS BIGINT) AS released,
        |       CAST(GREATEST(n + noise, 0) AS BIGINT) AS published,
        |       CAST(1.0 AS DOUBLE) AS eps
        |FROM z ORDER BY lang""".stripMargin,

    // qt26: first-occurrence trick replayed — DENSE_RANK over sources,
    // MIN rank per word, cumulative sums over the source relation
    "qt26_vocabgrowth" ->
      """WITH ranks AS (
        |  SELECT source, CAST(DENSE_RANK() OVER (ORDER BY source)
        |    AS BIGINT) AS rank
        |  FROM (SELECT DISTINCT source FROM documents)),
        |toks AS (SELECT r.rank, t.source, t.w
        |         FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |               FROM documents) t
        |         JOIN ranks r USING (source)
        |         WHERE regexp_matches(w, '^[a-z]+$$')),
        |npr AS (SELECT rank, CAST(COUNT(*) AS BIGINT) AS n_new
        |        FROM (SELECT w, MIN(rank) AS rank FROM toks GROUP BY 1)
        |        GROUP BY 1),
        |tpr AS (SELECT rank, source, CAST(COUNT(*) AS BIGINT) AS n_tok
        |        FROM toks GROUP BY 1, 2),
        |c AS (SELECT t.rank, t.source, t.n_tok,
        |        COALESCE(n.n_new, 0) AS n_new
        |      FROM tpr t LEFT JOIN npr n USING (rank))
        |SELECT rank, source, n_tok, CAST(n_new AS BIGINT) AS n_new,
        |       CAST(SUM(n_new) OVER (ORDER BY rank
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab,
        |       CAST(SUM(n_tok) OVER (ORDER BY rank
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tokens,
        |       CAST(ROUND(CAST(SUM(n_new) OVER (ORDER BY rank
        |           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |         / CAST(SUM(n_tok) OVER (ORDER BY rank
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT), 6) AS DOUBLE)
        |         AS vocab_ratio
        |FROM c ORDER BY rank""".stripMargin,

    // qe7: the ±1 matrix, projections, and both squared distances
    // replayed (DuckDB lists are 1-indexed: xi[i+1] mirrors Spark's
    // 0-based xi[i])
    "qe7_jlproject" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding,
        |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)
        |             AS BIGINT)) AS xi
        |  FROM embeddings WHERE len(embedding) = 64),
        |p AS (SELECT vec_id, xi,
        |        list_transform(generate_series(0, 15), j ->
        |          list_reduce(list_prepend(CAST(0 AS BIGINT),
        |            list_transform(generate_series(0, 63), i ->
        |              CASE WHEN (1103515245 * (i * 16 + j) + 12345)
        |                     % 2147483648 >= 1073741824
        |                   THEN xi[i + 1] ELSE -xi[i + 1] END)),
        |            (acc, v) -> acc + v)) AS y
        |      FROM e),
        |pr AS (SELECT a.vec_id AS va, a.vec_id + 1 AS vb,
        |              a.xi AS xa, b.xi AS xb, a.y AS ya, b.y AS yb
        |       FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
        |       WHERE a.vec_id % 50 = 0),
        |d AS (SELECT va, vb,
        |        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(generate_series(1, 64),
        |            i -> (xa[i] - xb[i]) * (xa[i] - xb[i]))),
        |          (acc, v) -> acc + v) AS BIGINT) AS d2o,
        |        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(generate_series(1, 16),
        |            j -> (ya[j] - yb[j]) * (ya[j] - yb[j]))),
        |          (acc, v) -> acc + v) AS BIGINT) AS d2p
        |      FROM pr),
        |r AS (SELECT va, vb, d2o, d2p,
        |        CAST(ROUND(CAST(d2p AS DOUBLE) / 16.0 / d2o, 6) AS DOUBLE)
        |          AS ratio
        |      FROM d WHERE d2o > 0),
        |m AS (SELECT CAST(ROUND(CAST(AVG(CAST(ratio AS DECIMAL(18,6)))
        |        AS DOUBLE), 6) AS DOUBLE) AS mean_ratio FROM r)
        |SELECT va, vb, d2o, d2p, ratio, mean_ratio
        |FROM r, m ORDER BY va""".stripMargin,

    // qx17: the feasible point, quotas, and fixed-point rates replayed
    // in exact integer arithmetic
    "qx17_mixplan" ->
      """WITH cur AS (
        |  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |           AS n_tok,
        |         CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 2
        |              WHEN 'zh' THEN 2 WHEN 'fr' THEN 1
        |              WHEN 'es' THEN 1 END AS w
        |  FROM documents GROUP BY lang),
        |f AS (SELECT lang, n_tok, CAST(w AS BIGINT) AS w FROM cur
        |      WHERE w IS NOT NULL),
        |k AS (SELECT CAST(MIN(n_tok // w) AS BIGINT) AS k FROM f),
        |p AS (SELECT lang, n_tok, w, k.k, w * k.k AS quota,
        |             (w * k.k * 1000000) // n_tok AS rate6
        |      FROM f, k),
        |t AS (SELECT CAST(SUM(quota) AS BIGINT) AS mix_total FROM p)
        |SELECT lang, n_tok, w, k, CAST(quota AS BIGINT) AS quota,
        |       CAST(rate6 AS BIGINT) AS rate6,
        |       CAST(ROUND(CAST(rate6 AS DOUBLE) / 1000000.0, 6) AS DOUBLE)
        |         AS rate,
        |       CAST(ROUND(CAST(quota AS DOUBLE) * 100.0 / mix_total, 6)
        |         AS DOUBLE) AS share_pct
        |FROM p, t ORDER BY lang""".stripMargin,

    // qx16: clip + sensitivity-scaled noise replayed on the distinct
    // LCG stream (2h + 1)
    "qx16_dpsum" ->
      """WITH g AS (SELECT lang, COUNT(*) AS n,
        |             CAST(SUM(n_chars) AS BIGINT) AS raw_sum,
        |             CAST(SUM(LEAST(n_chars, 500)) AS BIGINT)
        |               AS clipped_sum
        |           FROM documents GROUP BY 1),
        |h AS (SELECT lang, n, raw_sum, clipped_sum,
        |        (1103515245 * (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(string_split(lang, ''),
        |            ch -> CAST(unicode(ch) AS BIGINT))),
        |          (acc, x) -> (acc * 31 + x) % 1000000007) * 2 + 1)
        |         + 12345) % 2147483648 AS u
        |      FROM g),
        |z AS (SELECT lang, n, raw_sum, clipped_sum, u,
        |        -8 + len(list_filter([332969, 1238074, 3698404, 10386276,
        |          28565796, 77982853, 212312343, 577457755, 1570025892,
        |          1935171304, 2069500794, 2118917851, 2137097371,
        |          2143785243, 2146245573, 2147150678], c -> u >= c)) AS z
        |      FROM h)
        |SELECT lang, CAST(n AS BIGINT) AS n, raw_sum, clipped_sum,
        |       CAST(u AS BIGINT) AS u, CAST(z AS BIGINT) AS z,
        |       CAST(clipped_sum + 500 * z AS BIGINT) AS released,
        |       CAST(GREATEST(clipped_sum + 500 * z, 0) AS BIGINT)
        |         AS published,
        |       CAST(1.0 AS DOUBLE) AS eps, CAST(500 AS BIGINT) AS clip
        |FROM z ORDER BY lang""".stripMargin,

    // qx15: the oracle replays the LCG draws, the declared Poisson
    // thresholds, and both weighted-histogram median picks verbatim
    "qx15_bootstrap" ->
      """WITH base AS (
        |  SELECT event_type, event_id,
        |         CAST(FLOOR(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
        |ph AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM base GROUP BY 1, 2),
        |pc AS (SELECT event_type, v,
        |         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |         CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |       FROM ph),
        |pt AS (SELECT event_type, MIN(v) AS med, MAX(n) AS n FROM pc
        |       WHERE cum >= (n + 1) // 2 GROUP BY 1),
        |reps AS (
        |  SELECT event_type, v, CAST(b AS BIGINT) AS b,
        |         (1103515245 * ((event_id * 32 + b) % 2147483648)
        |          + 12345) % 2147483648 AS u
        |  FROM base, generate_series(0, 31) g(b)),
        |wts AS (SELECT event_type, b, v,
        |          CAST(len(list_filter([790015084, 1580030168, 1975037710,
        |            2106706891, 2139624186, 2146207645], c -> u >= c))
        |            AS BIGINT) AS w
        |        FROM reps),
        |gh AS (SELECT event_type, b, v, CAST(SUM(w) AS BIGINT) AS c
        |       FROM wts WHERE w > 0 GROUP BY 1, 2, 3),
        |gc AS (SELECT event_type, b, v,
        |         CAST(SUM(c) OVER (PARTITION BY event_type, b ORDER BY v
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |         CAST(SUM(c) OVER (PARTITION BY event_type, b)
        |           AS BIGINT) AS nb
        |       FROM gh),
        |bm AS (SELECT event_type, b, MIN(v) AS bmed FROM gc
        |       WHERE cum >= (nb + 1) // 2 GROUP BY 1, 2),
        |rk AS (SELECT event_type, bmed,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |           ORDER BY bmed, b) AS BIGINT) AS rn
        |       FROM bm),
        |ci AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_reps,
        |         MIN(CASE WHEN rn = 4 THEN bmed END) AS lo,
        |         MIN(CASE WHEN rn = 29 THEN bmed END) AS hi
        |       FROM rk GROUP BY 1)
        |SELECT pt.event_type, pt.n, ci.n_reps, pt.med, ci.lo, ci.hi,
        |       CAST(ROUND(CAST(pt.med AS DOUBLE) / 100.0, 6) AS DOUBLE)
        |         AS med_d,
        |       CAST(ROUND(CAST(ci.lo AS DOUBLE) / 100.0, 6) AS DOUBLE)
        |         AS lo_d,
        |       CAST(ROUND(CAST(ci.hi AS DOUBLE) / 100.0, 6) AS DOUBLE)
        |         AS hi_d
        |FROM pt JOIN ci USING (event_type)
        |ORDER BY event_type""".stripMargin,

    // qt24: the oracle replays the declared sentence proxy and the
    // vowel-run syllable heuristic; the tier cuts on the rounded score
    "qt24_readability" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS n_syll
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok, n_syll,
        |        CAST((n_tok + 15) // 16 AS BIGINT) AS n_sent FROM b),
        |f AS (SELECT doc_id, n_tok, n_sent, n_syll,
        |        CAST(ROUND(206.835
        |          - 1.015 * (CAST(n_tok AS DOUBLE) / CAST(n_sent AS DOUBLE))
        |          - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_tok AS DOUBLE)), 4)
        |          AS DOUBLE) AS flesch
        |      FROM c)
        |SELECT doc_id, n_tok, n_sent, n_syll, flesch,
        |       CASE WHEN flesch >= 60 THEN 'easy'
        |            WHEN flesch >= 30 THEN 'medium'
        |            ELSE 'hard' END AS grade
        |FROM f ORDER BY doc_id""".stripMargin,

    // qm8: every box field recomputed from the source formulas (sizes,
    // types, payload bytes → hex image → rolling hash) — the hash
    // match proves the size-chained offset walk read the right bytes
    "qm8_boxparse" ->
      """WITH ids AS (SELECT doc_id, n_chars FROM documents
        |             WHERE doc_id % 11 = 0),
        |bx AS (SELECT doc_id, n_chars, CAST(idx AS BIGINT) AS idx,
        |         CASE idx WHEN 1 THEN 'ftyp' WHEN 2 THEN 'meta'
        |              ELSE 'data' END AS btype,
        |         CASE idx WHEN 1 THEN doc_id % 8 + 4
        |                  WHEN 2 THEN n_chars % 8 + 4
        |                  ELSE (doc_id * 3) % 8 + 8 END AS p
        |       FROM ids, (VALUES (1), (2), (3)) t(idx)),
        |f AS (SELECT doc_id, idx, btype, CAST(p + 8 AS BIGINT) AS bsize,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(string_split(
        |            array_to_string(list_transform(
        |              generate_series(0, CAST(p AS BIGINT) - 1),
        |              i -> lpad(hex((i * 7 + doc_id + 13 * idx) % 256),
        |                        2, '0')), ''), ''),
        |            ch -> CAST(unicode(ch) AS BIGINT))),
        |          (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |      FROM bx)
        |SELECT doc_id, idx, btype, bsize, CAST(fp AS BIGINT) AS fp,
        |       CAST(1 AS BIGINT) AS total_ok
        |FROM f ORDER BY doc_id, idx""".stripMargin,

    // qm9: the oracle replays the per-pixel features from the SOURCE
    // pixel formula — the Spark side must reach the same numbers
    // through a REAL BMP encode→decode round trip (independent layout
    // code on each side), so the position-sensitive wsum pins the
    // decoder's row order / padding / BGR handling; n_bytes pins the
    // encoder's size arithmetic (w ≤ 22, h ≤ 12 ⇒ the constant-bound
    // series + filter replaces DuckDB's unsupported correlated
    // generate_series)
    // qm13: pixel-formula replay; n_bytes is the fixed baseline-TIFF
    // layout 128 + 3wh, big_endian the doc parity (w ≤ 14, h ≤ 10)
    "qm13_tiffdecode" ->
      """WITH ids AS (SELECT doc_id, 9 + doc_id % 6 AS w,
        |                    7 + doc_id % 4 AS h
        |             FROM documents WHERE doc_id % 6 = 1),
        |px AS (SELECT doc_id, w, h, CAST(y * w + x AS BIGINT) AS i,
        |         (2 * doc_id + 11 * x + 3 * y) % 256 AS r,
        |         (5 * x + y * y + doc_id) % 256 AS g,
        |         (x + 9 * y + 4 * doc_id) % 256 AS b
        |       FROM ids, generate_series(0, 13) gx(x),
        |            generate_series(0, 9) gy(y)
        |       WHERE x < w AND y < h),
        |f AS (SELECT doc_id, w, h,
        |        CAST(SUM(r) AS BIGINT) AS sum_r,
        |        CAST(SUM(g) AS BIGINT) AS sum_g,
        |        CAST(SUM(b) AS BIGINT) AS sum_b,
        |        CAST(SUM((r * 65536 + g * 256 + b) * (i % 89 + 1))
        |          AS BIGINT) AS wsum
        |      FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        |       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
        |         AS BIGINT) AS big_endian,
        |       CAST(128 + 3 * w * h AS BIGINT) AS n_bytes,
        |       sum_r, sum_g, sum_b, wsum
        |FROM f ORDER BY doc_id""".stripMargin,

    "qm9_bmpdecode" ->
      """WITH ids AS (SELECT doc_id, 16 + doc_id % 7 AS w,
        |                    8 + doc_id % 5 AS h
        |             FROM documents WHERE doc_id % 5 = 0),
        |px AS (SELECT doc_id, w, h, CAST(y * w + x AS BIGINT) AS i,
        |         (doc_id + 7 * x + 13 * y) % 256 AS r,
        |         (3 * x + 5 * y + 2 * doc_id) % 256 AS g,
        |         (x * y + doc_id) % 256 AS b
        |       FROM ids, generate_series(0, 21) gx(x),
        |            generate_series(0, 11) gy(y)
        |       WHERE x < w AND y < h),
        |f AS (SELECT doc_id, w, h,
        |        CAST(SUM(r) AS BIGINT) AS sum_r,
        |        CAST(SUM(g) AS BIGINT) AS sum_g,
        |        CAST(SUM(b) AS BIGINT) AS sum_b,
        |        CAST(SUM((r * 65536 + g * 256 + b) * (i % 97 + 1))
        |          AS BIGINT) AS wsum
        |      FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        |       CAST(54 + h * ((3 * w + 3) // 4 * 4) AS BIGINT)
        |         AS n_bytes,
        |       sum_r, sum_g, sum_b, wsum
        |FROM f ORDER BY doc_id""".stripMargin,

    // qm12: the oracle replays the per-pixel features from the SOURCE
    // pixel formula — the Spark side must reach the same numbers
    // through a REAL PNG encode→decode round trip (deflate + all five
    // scanline filters + IDAT splitting), so the position-sensitive
    // wsum pins the un-filter/Paeth/inflate plumbing; n_px (not a
    // compressed size — deflate bytes aren't a cross-engine constant)
    // pins the dims parse (w ≤ 20, h ≤ 12 ⇒ constant-bound series)
    "qm12_pngdecode" ->
      """WITH ids AS (SELECT doc_id, 12 + doc_id % 9 AS w,
        |                    6 + doc_id % 7 AS h
        |             FROM documents WHERE doc_id % 6 = 0),
        |px AS (SELECT doc_id, w, h, CAST(y * w + x AS BIGINT) AS i,
        |         (5 * doc_id + 11 * x + 3 * y) % 256 AS r,
        |         (x * x + 2 * y + doc_id) % 256 AS g,
        |         (7 * x + y * y + 3 * doc_id) % 256 AS b
        |       FROM ids, generate_series(0, 19) gx(x),
        |            generate_series(0, 11) gy(y)
        |       WHERE x < w AND y < h),
        |f AS (SELECT doc_id, w, h,
        |        CAST(SUM(r) AS BIGINT) AS sum_r,
        |        CAST(SUM(g) AS BIGINT) AS sum_g,
        |        CAST(SUM(b) AS BIGINT) AS sum_b,
        |        CAST(SUM((r * 65536 + g * 256 + b) * (i % 101 + 1))
        |          AS BIGINT) AS wsum
        |      FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        |       CAST(w * h AS BIGINT) AS n_px,
        |       sum_r, sum_g, sum_b, wsum
        |FROM f ORDER BY doc_id""".stripMargin,

    // qm11: the oracle replays the Haitsma–Kalker energy-delta
    // fingerprint from the SAMPLE formula (each sample joins its ≤2
    // overlapping frames; LEAD over frame index gives the delta sign)
    // — the Spark side must reach the same band keys through the real
    // WAV encode→chunk-walk-decode round trip
    "qm11_audiodup" ->
      """WITH ids AS (SELECT doc_id, doc_id - doc_id % 14 AS base
        |             FROM documents WHERE doc_id % 7 = 0),
        |sm AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
        |         (1 + ((base + 1) * (i // 16 + 3) * 2654435761
        |           // 1024) % 8)
        |           * ((i * 1231 + base * 37) % 256 - 128)
        |           + (doc_id % 14) * (i % 2) AS s
        |       FROM ids, generate_series(0, 527) g(i)),
        |fr AS (SELECT doc_id, f, CAST(SUM(s * s) AS BIGINT) AS e
        |       FROM sm, generate_series(0, 64) t(f)
        |       WHERE i >= f * 8 AND i < f * 8 + 16
        |       GROUP BY 1, 2),
        |bits AS (SELECT doc_id, f,
        |           CASE WHEN LEAD(e) OVER (PARTITION BY doc_id
        |             ORDER BY f) > e THEN 1 ELSE 0 END AS bit
        |         FROM fr QUALIFY f < 64),
        |keys AS (SELECT doc_id,
        |           CAST(SUM(CASE WHEN f // 16 = 0
        |             THEN bit << (f % 16) ELSE 0 END) AS BIGINT) AS k0,
        |           CAST(SUM(CASE WHEN f // 16 = 1
        |             THEN bit << (f % 16) ELSE 0 END) AS BIGINT) AS k1,
        |           CAST(SUM(CASE WHEN f // 16 = 2
        |             THEN bit << (f % 16) ELSE 0 END) AS BIGINT) AS k2,
        |           CAST(SUM(CASE WHEN f // 16 = 3
        |             THEN bit << (f % 16) ELSE 0 END) AS BIGINT) AS k3
        |         FROM bits GROUP BY doc_id),
        |bands AS (SELECT doc_id, k0, k1, k2, k3, j AS band,
        |            CASE j WHEN 0 THEN k0 WHEN 1 THEN k1
        |                 WHEN 2 THEN k2 ELSE k3 END AS key
        |          FROM keys, generate_series(0, 3) g(j)),
        |pr AS (SELECT x.doc_id AS a, y.doc_id AS b,
        |         bit_count(xor(x.k0, y.k0)) + bit_count(xor(x.k1, y.k1))
        |           + bit_count(xor(x.k2, y.k2))
        |           + bit_count(xor(x.k3, y.k3)) AS hd
        |       FROM bands x JOIN bands y ON x.band = y.band
        |         AND x.key = y.key AND x.doc_id < y.doc_id
        |         AND (x.band = 0 OR x.k0 <> y.k0)
        |         AND (x.band <= 1 OR x.k1 <> y.k1)
        |         AND (x.band <= 2 OR x.k2 <> y.k2))
        |SELECT a, b, CAST(hd AS BIGINT) AS hd FROM pr
        |WHERE hd <= 6 ORDER BY a, b""".stripMargin,

    // qm10: the oracle replays the 8×8 block-mean aHash from the pixel
    // FORMULA (lum = r+g+b = lvl·96 + the three texture terms) and the
    // same banded LSH + Hamming verify; the Spark side must reach the
    // same band keys through the real encode→decode round trip
    "qm10_ahashdup" ->
      """WITH ids AS (SELECT doc_id, doc_id - doc_id % 10 AS base
        |             FROM documents WHERE doc_id % 5 = 0),
        |cfg AS (SELECT doc_id, (base * 2654435761) // 1024 AS bigh,
        |          16 + (base // 10) % 7 AS w, 8 + (base // 10) % 5 AS h
        |        FROM ids),
        |px AS (SELECT doc_id, w, h,
        |         ((y * 8) // h) * 8 + (x * 8) // w AS bi,
        |         ((bigh % 8) + (1 + (bigh // 8) % 7) * ((x * 8) // w)
        |           + (1 + (bigh // 64) % 7) * ((y * 8) // h)
        |           + ((x * 8) // w) * ((y * 8) // h)) % 8 * 96
        |           + (7 * x + 13 * y + doc_id) % 32
        |           + (3 * x + 5 * y + doc_id) % 16
        |           + (x * y + doc_id) % 16 AS lum
        |       FROM cfg, generate_series(0, 21) gx(x),
        |            generate_series(0, 11) gy(y)
        |       WHERE x < w AND y < h),
        |blk AS (SELECT doc_id, bi, SUM(lum) AS bsum, COUNT(*) AS npix
        |        FROM px GROUP BY 1, 2),
        |tot AS (SELECT doc_id, SUM(lum) AS total, COUNT(*) AS n
        |        FROM px GROUP BY 1),
        |bits AS (SELECT b.doc_id, b.bi,
        |           CASE WHEN b.bsum * t.n >= t.total * b.npix
        |             THEN 1 ELSE 0 END AS bit
        |         FROM blk b JOIN tot t USING (doc_id)),
        |keys AS (SELECT doc_id,
        |           CAST(SUM(CASE WHEN bi // 16 = 0
        |             THEN bit << (bi % 16) ELSE 0 END) AS BIGINT) AS k0,
        |           CAST(SUM(CASE WHEN bi // 16 = 1
        |             THEN bit << (bi % 16) ELSE 0 END) AS BIGINT) AS k1,
        |           CAST(SUM(CASE WHEN bi // 16 = 2
        |             THEN bit << (bi % 16) ELSE 0 END) AS BIGINT) AS k2,
        |           CAST(SUM(CASE WHEN bi // 16 = 3
        |             THEN bit << (bi % 16) ELSE 0 END) AS BIGINT) AS k3
        |         FROM bits GROUP BY doc_id),
        |bands AS (SELECT doc_id, k0, k1, k2, k3, j AS band,
        |            CASE j WHEN 0 THEN k0 WHEN 1 THEN k1
        |                 WHEN 2 THEN k2 ELSE k3 END AS key
        |          FROM keys, generate_series(0, 3) g(j)),
        |pr AS (SELECT x.doc_id AS a, y.doc_id AS b,
        |         bit_count(xor(x.k0, y.k0)) + bit_count(xor(x.k1, y.k1))
        |           + bit_count(xor(x.k2, y.k2))
        |           + bit_count(xor(x.k3, y.k3)) AS hd
        |       FROM bands x JOIN bands y ON x.band = y.band
        |         AND x.key = y.key AND x.doc_id < y.doc_id
        |         AND (x.band = 0 OR x.k0 <> y.k0)
        |         AND (x.band <= 1 OR x.k1 <> y.k1)
        |         AND (x.band <= 2 OR x.k2 <> y.k2))
        |SELECT a, b, CAST(hd AS BIGINT) AS hd FROM pr
        |WHERE hd <= 6 ORDER BY a, b""".stripMargin,

    // qm7: the oracle recomputes samples and features from the SOURCE
    // formula (the encode is its own decode: repr r = (m+32768)%65536
    // round-trips to s = m − 32768), so the hash match proves the
    // Spark side's LE header parse + two's-complement sample decode
    "qm7_audioenergy" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
        |sm AS (SELECT doc_id, CAST(b AS BIGINT) AS i,
        |         ((doc_id * 131 + b * 17) % 65536) - 32768 AS s
        |       FROM ids, generate_series(0, 63) g(b)),
        |p AS (SELECT doc_id, i, s,
        |        LEAD(s) OVER (PARTITION BY doc_id ORDER BY i) AS sn
        |      FROM sm),
        |fr AS (SELECT doc_id, i // 16 AS frame,
        |         CAST(SUM(s * s) AS BIGINT) AS energy,
        |         CAST(SUM(CASE WHEN i % 16 < 15 AND s * sn < 0
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS zc
        |       FROM p GROUP BY 1, 2)
        |SELECT doc_id, CAST(1 AS BIGINT) AS sig_ok,
        |       CAST(16000 AS BIGINT) AS sr, CAST(1 AS BIGINT) AS ch,
        |       CAST(16 AS BIGINT) AS bits, CAST(64 AS BIGINT) AS n_samples,
        |       frame, energy, zc
        |FROM fr ORDER BY doc_id, frame""".stripMargin,

    // qm6: the oracle recomputes every field from the SOURCE columns
    // the blobs were built from — the hash match proves the Spark
    // side's encode→binary-slice→big-endian-decode round trip
    // qt25: the identical 6 training rounds unrolled as materialized
    // CTEs (the q123 inlining lesson); ORDER BY pcnt DESC, l, r LIMIT 1
    // replays the min(struct) merge pick, replace() replays the greedy
    // left-to-right merge apply on the same double-space encoding
    "qt25_bpe" -> {
      val out = (1 to 6).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS step, m.l, m.r, m.l || m.r AS merged,
           |       m.pcnt, t.tot_syms FROM m$i m, t$i t""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $bpeOracleCtes
        |SELECT * FROM ($out) ORDER BY step""".stripMargin
    },

    // qc8: the full qt25 training replay feeds the final vocab's
    // word → symbol-count map, joined back to per-domain word counts
    "qc8_tokenbudget" ->
      s"""WITH $bpeOracleCtes,
        |ws AS (SELECT w,
        |         CAST(len(list_filter(string_split(sq, '  '),
        |           x -> x <> '')) AS BIGINT) AS n_syms
        |       FROM v6),
        |dw AS (SELECT lang, source, w, CAST(COUNT(*) AS BIGINT) AS occ
        |       FROM (SELECT lang, source,
        |               unnest(string_split(text, ' ')) AS w
        |             FROM documents)
        |       WHERE regexp_matches(w, '^[a-z]+$$')
        |       GROUP BY 1, 2, 3),
        |dom AS (SELECT lang, source, CAST(SUM(occ) AS BIGINT) AS n_words,
        |          CAST(SUM(occ * n_syms) AS BIGINT) AS bpe_tokens
        |        FROM dw JOIN ws USING (w) GROUP BY 1, 2),
        |tt AS (SELECT CAST(SUM(bpe_tokens) AS BIGINT) AS tot FROM dom)
        |SELECT lang, source, n_words, bpe_tokens,
        |       CAST(ROUND(CAST(bpe_tokens AS DOUBLE) / n_words, 6)
        |         AS DOUBLE) AS tokens_per_word,
        |       CAST(ROUND(CAST(bpe_tokens AS DOUBLE) * 100.0 / tot, 6)
        |         AS DOUBLE) AS share_pct
        |FROM dom, tt ORDER BY lang, source""".stripMargin,

    "qm6_imagemeta" ->
      """SELECT doc_id,
        |  CAST(64 + n_chars % 1000 AS BIGINT) AS width,
        |  CAST(64 + (doc_id * 37) % 800 AS BIGINT) AS height,
        |  CAST(29 AS BIGINT) AS n_bytes,
        |  CAST(1 AS BIGINT) AS sig_ok,
        |  'IHDR' AS ctype,
        |  CAST((64 + n_chars % 1000) * (64 + (doc_id * 37) % 800) AS BIGINT)
        |    AS pixels
        |FROM documents WHERE doc_id % 5 = 0
        |ORDER BY doc_id""".stripMargin,

    // qt28: the RAKE chain replayed relationally — running stopword
    // count → phrase ids → degree join → ordered string_agg phrases
    "qt28_rake" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
        |            FROM documents),
        |tokl AS (SELECT doc_id, unnest(list_transform(
        |           generate_series(1, len(tk)),
        |           i -> struct_pack(pos := i, w := tk[i]))) AS u
        |         FROM tk),
        |tok AS (SELECT doc_id, u.pos AS pos, u.w AS w,
        |          CASE WHEN u.w IN ('the', 'a', 'of', 'and')
        |               THEN 1 ELSE 0 END AS st
        |        FROM tokl),
        |occ AS MATERIALIZED (
        |  SELECT doc_id, pos, w, pid FROM (
        |    SELECT doc_id, pos, w, st,
        |      SUM(st) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
        |    FROM tok)
        |  WHERE st = 0 AND w != ''),
        |plen AS (SELECT doc_id, pid, COUNT(*) AS plen
        |         FROM occ GROUP BY 1, 2),
        |deg AS (SELECT o.doc_id, o.w, SUM(p.plen) AS degree
        |        FROM occ o JOIN plen p
        |          ON p.doc_id = o.doc_id AND p.pid = o.pid
        |        GROUP BY 1, 2),
        |phr AS (SELECT o.doc_id, o.pid, COUNT(*) AS n_words,
        |          SUM(d.degree) AS score,
        |          string_agg(o.w, ' ' ORDER BY o.pos) AS phrase
        |        FROM occ o JOIN deg d
        |          ON d.doc_id = o.doc_id AND d.w = o.w
        |        GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, phrase) AS BIGINT) AS rank,
        |  phrase, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(score AS BIGINT) AS score
        |FROM phr
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, phrase) <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    // qt29: the identical fixture construction + rule chain; list_sort
    // and Spark array_sort agree byte-wise on ASCII param strings
    "qt29_urlnorm" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.' || upper(source) || '.Example.COM:443/docs//'
        |      || CAST(doc_id % 4 AS VARCHAR) || '/?utm_campaign=c'
        |      || CAST(doc_id % 3 AS VARCHAR) || '&ref=feed&id='
        |      || CAST(doc_id % 2 AS VARCHAR) || '&b=2&a=1#sec'
        |      || CAST(doc_id % 5 AS VARCHAR) AS url
        |  FROM documents),
        |nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS s
        |       FROM u),
        |p AS (SELECT doc_id,
        |        lower(regexp_extract(s, '^([A-Za-z]+)://', 1)) AS scheme,
        |        lower(regexp_extract(s, '^[A-Za-z]+://([^/?]+)', 1)) AS hp,
        |        regexp_extract(s, '^[A-Za-z]+://[^/?]*(.*)$', 1) AS rest
        |      FROM nf),
        |h AS (SELECT doc_id, scheme, rest,
        |        CASE WHEN scheme = 'https' THEN
        |               regexp_replace(regexp_replace(hp, '^www\.', '', 'g'),
        |                              ':443$', '', 'g')
        |             WHEN scheme = 'http' THEN
        |               regexp_replace(regexp_replace(hp, '^www\.', '', 'g'),
        |                              ':80$', '', 'g')
        |             ELSE regexp_replace(hp, '^www\.', '', 'g') END AS host
        |      FROM p),
        |c AS (SELECT doc_id, host AS domain,
        |        scheme || '://' || host ||
        |        (CASE WHEN regexp_replace(regexp_extract(rest, '^([^?]*)', 1),
        |                                  '/{2,}', '/', 'g') = '' THEN '/'
        |              ELSE regexp_replace(regexp_extract(rest, '^([^?]*)', 1),
        |                                  '/{2,}', '/', 'g') END) ||
        |        (CASE WHEN array_to_string(list_sort(list_filter(
        |                 string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        |                 q -> q <> '' AND substr(q, 1, 4) <> 'utm_'
        |                   AND substr(q, 1, 4) <> 'ref=')), '&') = '' THEN ''
        |              ELSE '?' || array_to_string(list_sort(list_filter(
        |                 string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
        |                 q -> q <> '' AND substr(q, 1, 4) <> 'utm_'
        |                   AND substr(q, 1, 4) <> 'ref=')), '&') END) AS canon
        |      FROM h)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
        |       CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canon,
        |       CAST(COUNT(*) - COUNT(DISTINCT canon) AS BIGINT) AS n_dups,
        |       MIN(canon) AS first_canon
        |FROM c GROUP BY domain ORDER BY domain""".stripMargin
  )
}
