package graft.queries

import graft.{Conv, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM training-data pipeline operators over `documents` / `embeddings`
  * (SURVEY §5.5 Q26–Q30 + T1).
  *
  * Determinism: Jaccard is pure integer arithmetic (Q28); cosine widens
  * float→double (exact) before multiplying, sums exactly in DECIMAL(28,14),
  * and only then divides in double (every step correctly rounded on both
  * engines, so results are bit-identical).
  *
  * Scale notes:
  *  - Q28 deliberately avoids the textbook skew trap (a naive token
  *    self-join is quadratic in token frequency — one stop token shared
  *    by every doc blows up that key): candidates come from the
  *    prefix-filter join (exact recall, ppjoin length+position filters
  *    pruning the skew inline) and verify is the dictionary bitmask +
  *    popcount kernel. The probabilistic-recall alternative at even
  *    larger scale is DedupExt's qd1 MinHash-LSH banding.
  *  - Q29 broadcasts the (tiny) query vector and reduces per-index
  *    partial products map-side; for ANN/IVF see DedupExt qs1/qs2.
  */
object Llm {
  import Conv._

  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)
  private val D2814 = DecimalType(28, 14)

  /** Distinct (doc_id, token) pairs — the unit of Jaccard arithmetic.
    * The distinct is computed ROW-LOCALLY (array_distinct before the
    * explode): identical set semantics to the oracle's DISTINCT with
    * ZERO shuffle, where `.distinct()` after the explode shuffled every
    * token occurrence in the corpus first (at sf0.1 that one exchange
    * was ~3 s of q28). */
  private def tokens(s: SparkSession, d: String): DataFrame =
    graft.operators.ScanFan.fan(t(s, d, "documents"), col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))

  val queries: Map[String, Q] = Map(
    // Q26 token frequency (top 20)
    "q26_tokens" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("token"))
        .limit(20)),

    // Q27 exact duplicate groups
    "q27_dedup" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("text").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1)
        .orderBy(col("c").desc, col("text"))),

    // Q28 exact near-dedup: token-set Jaccard >= 0.8, integer arithmetic
    // (10*|A∩B| >= 8*|A∪B|) — no floats anywhere.
    //
    // Implementation: prefix-filter candidate generation (EXACT recall,
    // no cartesian — each doc emits only its ⌊0.2·nt⌋+1 rarest tokens as
    // join keys, and any pair with J ≥ 0.8 provably shares one; see
    // BitmaskJaccard.prefixPairs) followed by the dictionary-bitmask
    // popcount verify. Never a full token-key shuffle join (quadratic in
    // stop-token frequency) and never the all-pairs nested loop (the old
    // bounded-input form, kept as BitmaskJaccard.pairs — the brute-force
    // yardstick PrefixPairsSpec proves pair-identity against). The
    // probabilistic-recall alternative at even larger scale is qd1
    // (MinHash LSH banding).
    "q28_neardup" -> ((s, d) => {
      // the FUSED form: one per-doc aggregation builds both the bitmask
      // and the prefix (prefixPairsFused scaladoc); the token relation is
      // deliberately NOT cached — it is a shuffle-free scan (row-local
      // distinct) read twice, cheaper re-run than materialized. Prefixes
      // broadcast-hinted because the bench corpus is known-small (same
      // convention as qd1's broadcastMasks); the operator default is the
      // scale-safe shuffle join
      graft.operators.BitmaskJaccard
        .prefixPairsFused(tokens(s, d), 8, 10, broadcastPrefixes = true)
        .orderBy("a", "b")
    }),

    // Q29 cosine top-5 vs vec_id=0
    "q29_cosine" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(posexplode(col("embedding")).as(Seq("i", "av")))
        .select(col("i"), col("av").cast(DoubleType).as("av"))
      val bv = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "bv")))
        .select(col("vec_id"), col("i"), col("bv").cast(DoubleType).as("bv"))
      val parts = bv.join(broadcast(qv), Seq("i"))
        .groupBy("vec_id")
        .agg(sum((col("av") * col("bv")).cast(D2814)).as("dot"),
          sum((col("bv") * col("bv")).cast(D2814)).as("nb2"))
      val na2 = qv.agg(sum((col("av") * col("av")).cast(D2814)).as("na2"))
      parts.crossJoin(broadcast(na2))
        .select(col("vec_id"),
          round(col("dot").cast(DoubleType)
            / (sqrt(col("na2").cast(DoubleType)) * sqrt(col("nb2").cast(DoubleType))), 6)
            .cast(DoubleType).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(5)
    }),

    // Q30 per-language stats (avg as exact-sum / count, divided in double)
    "q30_textstats" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"),
          round(sumDec6(col("n_chars")).cast(DoubleType) / count(lit(1)), 4)
            .cast(DoubleType).as("avg_chars"))
        .orderBy("lang")),

    // T1 approx distinct (HLL, rsd=0.01): the TOLERANCE VERDICT is the
    // query result — each engine checks its own sketch against the shared
    // exact count (20·|approx−exact| ≤ exact ⟺ within ±5%), so the output
    // (n_exact, within_5pct) is hash-comparable even though the sketches
    // differ, and a sketch drifting out of tolerance turns the row red in
    // the driver artifact (D6, made driver-visible).
    "t1_approx" -> ((s, d) =>
      // one shuffle: exact count and the HLL sketch both aggregate the
      // pre-distinct key set (HLL is duplicate-insensitive, so the
      // estimate is identical) — COUNT(DISTINCT) alongside another agg
      // would plan an Expand + two aggregation phases instead
      t(s, d, "orders").select(col("o_custkey")).distinct()
        .agg(count(lit(1)).as("n_exact"),
          approx_count_distinct(col("o_custkey"), 0.01).as("na"))
        .select(col("n_exact"),
          (abs(col("na") - col("n_exact")) * 20 <= col("n_exact"))
            .as("within_5pct"))),

    // T2 approx quantile sketch vs q32's exact index-based p50 — same
    // verdict-as-data convention as T1; the sketch stays mergeable
    // (map-side partials are tiny regardless of row count). The exact
    // side uses q32's value-histogram form (hash agg + tiny window), not
    // a 3-partition-key sort of the whole table.
    "t2_approxq" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag").orderBy("l_quantity")
      val exact = li.groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c"))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy("l_returnflag")))
        .groupBy("l_returnflag")
        .agg(min(when(col("cum") >= expr("(n-1)*5 div 10 + 1"), col("l_quantity")))
          .as("p50_exact"))
      val approx = li.groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_quantity, 0.5, 10000)").as("p50a"))
      exact.join(approx, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("p50_exact"),
          (abs(col("p50a") - col("p50_exact")) * 20 <= col("p50_exact"))
            .as("within_5pct"))
        .orderBy("l_returnflag")
    }),

    // T3 MERGEABLE sketch rollup — the two-level pattern a 100 TB corpus
    // survey actually runs: build one Datasketches-HLL sketch of the
    // token vocabulary per (lang, source) SHARD, then merge the shard
    // sketches per language (hll_union_agg) and estimate — re-aggregating
    // to any coarser grouping costs only sketch unions, never a second
    // pass over the corpus (the binary sketch column is the persistable
    // per-shard summary). Verdict-as-data convention as T1/T2: each
    // engine checks its own estimate against the shared exact distinct
    // count, and only (lang, n_exact, within_5pct) crosses the oracle
    // gate. lgK = 14 → ~0.8 % standard error, comfortably inside ±5 %.
    "t3_sketchroll" -> ((s, d) => {
      val tk = t(s, d, "documents")
        .select(col("lang"), col("source"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
      val shard = tk.groupBy("lang", "source")
        .agg(expr("hll_sketch_agg(tok, 14)").as("sk"))
      val merged = shard.groupBy("lang")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("na"))
      val exact = tk.groupBy("lang")
        .agg(count_distinct(col("tok")).as("n_exact"))
      exact.join(merged, Seq("lang"))
        .select(col("lang"), col("n_exact"),
          (abs(col("na") - col("n_exact")) * 20 <= col("n_exact"))
            .as("within_5pct"))
        .orderBy("lang")
    }),

    // T4 EXACT-HISTOGRAM SKETCH ROLLUP — the deterministic member of
    // the mergeable-summary family (t1/t3 HLL merges pass a ±5%
    // tolerance check; a fixed-bin histogram's merge is plain addition,
    // so its answers HASH-MATCH). `hist_bins600` is the third native
    // `TypedImperativeAggregate` (plans/HistBins600: one 600-counter
    // buffer + O(1) per row — 600 declarative sum(when) columns would
    // generate an enormous update function, the SimHashBands64 lesson):
    // per (event_type, day) one histogram row = the persistable daily
    // summary; the day→total rollup is elementwise bin addition (a
    // ≤600-rows-per-type relation, never raw data again); bin-
    // resolution p50/p95/p99 read off cumulative counts with q32's
    // index-rank convention. The oracle replays binning from RAW
    // events — the hash match proves build+rollup lost nothing.
    "t4_histq" -> ((s, d) => {
      val daily = t(s, d, "events")
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value") * 100).cast("long").as("x"))
        .groupBy("event_type", "day")
        .agg(expr("hist_bins600(x)").as("h"))
      val nDays = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      val bins = daily
        .select(col("event_type"), posexplode(col("h")).as(Seq("bin", "c")))
        .groupBy("event_type", "bin").agg(sum("c").as("c"))
        .filter(col("c") > 0)
      val wC = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("bin")
      val wN = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type")
      bins
        .withColumn("cum", sum(col("c")).over(wC))
        .withColumn("n", sum(col("c")).over(wN))
        .groupBy("event_type")
        .agg(max(col("n")).as("n"),
          min(when(col("cum") >= expr("(n-1)*5 div 10 + 1"),
            col("bin").cast("long") * 100)).as("p50c"),
          min(when(col("cum") >= expr("(n-1)*95 div 100 + 1"),
            col("bin").cast("long") * 100)).as("p95c"),
          min(when(col("cum") >= expr("(n-1)*99 div 100 + 1"),
            col("bin").cast("long") * 100)).as("p99c"))
        .join(nDays, Seq("event_type"))
        .orderBy("event_type")
    }),

    // T5 COUNT-MIN SKETCH — the frequency member of the mergeable-
    // summary family (t1/t3 HLL: distinct counts; t4 histogram: value
    // distribution; t5: point frequencies), as a native
    // `TypedImperativeAggregate` (plans/CmsSketch: one 4×256 int64
    // counter buffer, O(4) per row — the SimHashBands64 codegen-size
    // lesson again). Per-source sketches are built in ONE partial-
    // aggregatable pass over exploded tokens; the GLOBAL sketch is
    // elementwise addition of the per-source rows — the persistable-
    // summary rollup, never a second raw pass. Probes: the true top-10
    // tokens' estimates read 4 cells each off the global matrix;
    // est ≥ true count always (CM's one-sided guarantee), and `over`
    // = est − c makes the collision mass hash-checked data, not a
    // claim. The oracle replays cells, rollup, and min-read exactly.
    "t5_cms" -> ((s, d) => {
      val toks = graft.operators.OpCaches.track(
        cmsTokens(t(s, d, "documents")))
      cmsEstimates(toks,
        toks.groupBy("source").agg(expr("cms4x256(h)").as("sk")))
    }),

    // T6 BOTTOM-K ("THETA") SKETCH SET ALGEBRA (round 10): the member
    // of the sketch family t1–t5 cannot express — SET OPERATIONS on
    // approximate distinct sets. HLL (t1/t3) unions but cannot
    // intersect; the k-minimum-values sketch (Bar-Yossef et al.; the
    // theta-sketch family) supports union AND intersection: keep the
    // k = 256 smallest values of a uniform hash per group, merge two
    // groups' sketches by union-and-trim, estimate |A∪B| from the kth
    // smallest merged value ((k−1)·P / v_k) and |A∩B| via the overlap
    // fraction INSIDE the merged bottom-k. Domain: part-supplier
    // assignment populations per return status — "how much do the
    // populations behind A/N/R overlap" without ever joining raw data.
    // Exactness regime: the sketch itself is DETERMINISTIC (k smallest
    // distinct values is a set function — merge order, partial splits,
    // shuffle order cannot change it), the hash is the LCG scramble
    // h = (1103515245·e + 12345) mod P (a BIJECTION on [0, P), so
    // distinct elements ↔ distinct hashes and ranks are pseudo-random
    // — the KMV uniformity requirement), v_k/ji/n_bk are int64 audit
    // columns, and each estimate is ONE declared IEEE tree over exact
    // int64 operands (255·P and ji·255·P both < 2⁵³, so the doubles
    // are exact before the single division). Exact distinct counts and
    // the exact intersection ride as audit columns — the estimator's
    // error is hash-checked DATA (t5's `over` convention). Untrimmed
    // edge (n_bk < k ⇒ both sketches complete ⇒ sketch IS the set):
    // estimates degenerate to the exact values by CASE, both engines.
    // Scale: the native bottom_k(h, 256) aggregate carries O(k) state per
    // group through partial aggregation (a 10¹⁰-doc source ships 2 KB
    // per map task); the pair algebra runs over one row per group
    // pair, never raw data. The exact-audit join is the only
    // corpus-cardinality shuffle, and it exists only for the honesty
    // columns.
    "t6_theta" -> ((s, d) => {
      // duplicate-tolerant: the TreeSet dedups internally, so the raw
      // relation feeds the aggregate with no pre-distinct shuffle.
      // nd deliberately does NOT ride this aggregate: count_distinct
      // next to another agg plans an Expand (every input row doubled);
      // the exact audit already needs the cached distinct relation, so
      // nd is a cheap rollup of it instead (A/B at sf0.1 driver
      // config: 4.5 s with the fused count_distinct -> 1.9 s split)
      val el = thetaElements(t(s, d, "lineitem"))
      val sk = el.groupBy("src")
        .agg(expr("bottom_k(h, 256)").as("bk"))
        .transform(graft.operators.OpCaches.track)
      thetaAlgebra(sk, el)
    }),

    // T7 THETA-SKETCH TEMPORAL ROLLUP (round 10): the persistable-
    // summary argument t4 makes for histograms, made for DISTINCT SETS
    // — store one bottom-k sketch row per (group, month); ANY coarser
    // rollup (quarter, year, global) is union-and-trim of sketch rows,
    // never a second pass over raw data. The query computes the
    // monthly sketches, folds them to a global per-group sketch with
    // row-local array algebra (flatten(collect_list) → distinct → sort
    // → trim: bounded input, ≤ months × 256 longs per group), builds
    // the DIRECT global sketch from raw, and emits merged == direct as
    // a hash-checked DATA column — KMV mergeability (bottomK(∪ᵢ
    // bottomK(Mᵢ)) = bottomK(∪ᵢ Mᵢ)) proven per group by the gate, not
    // claimed. The KMV distinct estimate rides next to the exact
    // count (t5's honesty convention). Scale: two partial-aggregatable
    // passes (monthly + direct audit) + one exact-distinct audit pass;
    // the rollup itself touches only sketch rows — at 100 TB that is
    // the entire point.
    "t7_thetarollup" -> ((s, d) => {
      // thetaElements' scramble, with the month key riding (the helper
      // projects the date column away)
      val el = t(s, d, "lineitem")
        .select(col("l_returnflag").as("src"),
          (year(col("l_shipdate")) * 100
            + month(col("l_shipdate"))).cast(LongType).as("mo"),
          ((lit(1103515245L) * (col("l_partkey") * 100000L
            + col("l_suppkey")) + 12345L) % 1000000007L).as("h"))
      val monthly = el.groupBy("src", "mo")
        .agg(expr("bottom_k(h, 256)").as("bk"))
      val mg = monthly.groupBy("src")
        .agg(count(lit(1)).as("n_months"),
          expr("slice(array_sort(array_distinct(" +
            "flatten(collect_list(bk)))), 1, 256)").as("mk"))
      val direct = el.groupBy("src").agg(expr("bottom_k(h, 256)").as("dk"))
      val exact = el.select("src", "h").distinct()
        .groupBy("src").agg(count(lit(1)).as("nd"))
      mg.join(direct, Seq("src")).join(exact, Seq("src"))
        .select(col("src"), col("n_months"),
          size(col("mk")).cast(LongType).as("n_bk"),
          expr("element_at(mk, CAST(size(mk) AS INT))").as("v_k"),
          when(col("mk") === col("dk"), 1L).otherwise(0L)
            .as("merged_eq_direct"),
          col("nd"),
          r6(when(size(col("mk")) < 256,
            size(col("mk")).cast(DoubleType))
            .otherwise(lit(255.0) * 1000000007L
              / expr("element_at(mk, CAST(size(mk) AS INT))")))
            .as("est_distinct"))
        .orderBy("src")
    })
  )

  /** t6's element relation: (src, h) — the bijective LCG scramble of
    * the part-supplier pair per return status. Shared with the s35
    * streamed fold. */
  def thetaElements(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_returnflag").as("src"),
      ((lit(1103515245L) * (col("l_partkey") * 100000L
        + col("l_suppkey")) + 12345L) % 1000000007L).as("h"))

  /** t6's pair algebra + exact audit over an ARBITRARY per-group
    * sketch relation (src, bk: sorted array<long> ≤ 256) — shared by
    * the batch build and the s35 streamed union-and-trim fold, so
    * "streamed sketch ≡ batch sketch" is asserted through the
    * IDENTICAL estimator read (the s31/s33 convention). `el` is the
    * raw element relation the exact-audit columns recompute from. */
  def thetaAlgebra(sk: DataFrame, el: DataFrame): DataFrame = {
      // exact-audit side (r10 A/B'd at sf0.1 driver config): cached
      // distinct + h-keyed self-join reads 2.5 s; the one-shuffle
      // collect_set-per-hash variant (per-hash source sets, nd and
      // intersections as rollups) measured 2.8–2.9 s — the wide cached
      // set rows cost more than the second shuffle saves. Note the
      // audit columns ARE the bulk of the query's cost: the sketch
      // path a 100 TB deployment runs alone is the one partial-agg
      // `sk` pass + the 3-row pair algebra.
      val dd = el.distinct().transform(graft.operators.OpCaches.track)
      val nd = dd.groupBy("src").agg(count(lit(1)).as("nd"))
      val inter = dd.as("p").join(dd.as("q"),
          col("p.h") === col("q.h") && col("p.src") < col("q.src"))
        .groupBy(col("p.src").as("s1"), col("q.src").as("s2"))
        .agg(count(lit(1)).as("n_inter"))
      val skn = sk.join(nd, Seq("src"))
      skn.as("x").join(skn.as("y"), col("x.src") < col("y.src"))
        .select(col("x.src").as("s1"), col("y.src").as("s2"),
          col("x.nd").as("nd1"), col("y.nd").as("nd2"),
          col("x.bk").as("ba"), col("y.bk").as("bb"))
        .withColumn("u",
          expr("slice(array_sort(array_distinct(concat(ba, bb))), 1, 256)"))
        .withColumn("n_bk", size(col("u")).cast(LongType))
        .withColumn("v_k", expr("element_at(u, CAST(size(u) AS INT))"))
        .withColumn("ji", expr(
          "CAST(size(filter(u, v -> array_contains(ba, v)" +
            " AND array_contains(bb, v))) AS BIGINT)"))
        .join(inter, Seq("s1", "s2"), "left")
        .na.fill(0L, Seq("n_inter"))
        .select(col("s1"), col("s2"), col("nd1"), col("nd2"),
          col("n_inter"),
          (col("nd1") + col("nd2") - col("n_inter")).as("n_union"),
          col("n_bk"), col("v_k"), col("ji"),
          r6(when(col("n_bk") < 256L, col("n_bk").cast(DoubleType))
            .otherwise(lit(255.0) * 1000000007L / col("v_k")))
            .as("est_union"),
          r6(when(col("n_bk") < 256L, col("ji").cast(DoubleType))
            .otherwise((col("ji") * 255L * 1000000007L).cast(DoubleType)
              / col("v_k") / 256.0)).as("est_inter"),
          r6(col("ji").cast(DoubleType) / col("n_bk")).as("est_jacc"))
        .orderBy("s1", "s2")
  }

  /** t5's token relation: (source, token, h) with the corpus's
    * replayable rolling hash — shared with the s31 streamed fold.
    * Callers register roll_hash31 first. */
  def cmsTokens(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("token"))
      .withColumn("h", expr("roll_hash31(token)"))

  /** t5's probe read path over an arbitrary per-source sketch relation
    * (source, sk: array<long>[1024]) — shared by the batch build and
    * the s31 streamed fold, so "streamed sketch ≡ batch sketch" is
    * asserted through the IDENTICAL estimator. Global sketch =
    * elementwise sum of the per-source rows; probes = the true top-10
    * tokens (audit columns by contract), est = 4-cell min read. */
  def cmsEstimates(toks: DataFrame, perSrc: DataFrame): DataFrame = {
    val global = perSrc
      .select(posexplode(col("sk")).as(Seq("i", "cnt")))
      .groupBy("i").agg(sum(col("cnt")).as("cnt"))
    val top = toks.groupBy("token", "h").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(10)
    top
      .select(col("token"), col("c"), col("h"),
        explode(expr("transform(sequence(0, 3), j -> CAST(j AS BIGINT) * 256" +
          " + ((CAST(1000003 AS BIGINT) * j + 12345) * h" +
          " + (CAST(777767 AS BIGINT) * j + 13)) % 1000000007 % 256)"))
          .as("i"))
      .join(broadcast(global), Seq("i"))
      .groupBy(col("token"), col("c"))
      .agg(min(col("cnt")).as("est"))
      .select(col("token"), col("c"), col("est"),
        (col("est") - col("c")).as("over"))
      .orderBy(col("c").desc, col("token"))
  }

  val oracle: Map[String, String] = Map(
    "q26_tokens" ->
      "SELECT token, COUNT(*) AS c FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents) GROUP BY token ORDER BY c DESC, token LIMIT 20",
    "q27_dedup" ->
      "SELECT text, COUNT(*) AS c FROM documents GROUP BY text HAVING COUNT(*)>1 ORDER BY c DESC, text",
    "q28_neardup" ->
      """WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
        |sizes AS (SELECT doc_id, COUNT(*) AS nt FROM toks GROUP BY doc_id),
        |pairs AS (SELECT t1.doc_id AS a, t2.doc_id AS b, COUNT(*) AS inter
        |          FROM toks t1 JOIN toks t2 ON t1.tok=t2.tok AND t1.doc_id<t2.doc_id
        |          GROUP BY 1,2)
        |SELECT a, b, inter, sa.nt AS na, sb.nt AS nb
        |FROM pairs JOIN sizes sa ON sa.doc_id=a JOIN sizes sb ON sb.doc_id=b
        |WHERE 10*inter >= 8*(sa.nt+sb.nt-inter)
        |ORDER BY a, b""".stripMargin,
    "q29_cosine" ->
      """WITH idx AS (SELECT i FROM generate_series(1,64) t(i)),
        |a AS (SELECT i, CAST(embedding[i] AS DOUBLE) AS av
        |      FROM embeddings, idx WHERE vec_id=0 AND i <= len(embedding)),
        |b AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS bv
        |      FROM embeddings, idx WHERE vec_id<>0 AND i <= len(embedding)),
        |d AS (SELECT b.vec_id, SUM(CAST(a.av*b.bv AS DECIMAL(28,14))) AS dot,
        |             SUM(CAST(b.bv*b.bv AS DECIMAL(28,14))) AS nb2
        |      FROM b JOIN a USING(i) GROUP BY b.vec_id),
        |n AS (SELECT SUM(CAST(av*av AS DECIMAL(28,14))) AS na2 FROM a)
        |SELECT vec_id, CAST(ROUND(CAST(dot AS DOUBLE)/(SQRT(CAST(na2 AS DOUBLE))*SQRT(CAST(nb2 AS DOUBLE))),6) AS DOUBLE) AS score
        |FROM d, n ORDER BY score DESC, vec_id LIMIT 5""".stripMargin,
    "q30_textstats" ->
      "SELECT lang, COUNT(*) AS docs, CAST(ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*),4) AS DOUBLE) AS avg_chars FROM documents GROUP BY lang ORDER BY lang",
    // T1/T2: each engine validates its OWN sketch against the shared
    // exact value; only (exact, verdict) is compared across engines
    "t1_approx" ->
      """SELECT COUNT(DISTINCT o_custkey) AS n_exact,
        |  ABS(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey)) * 20
        |    <= COUNT(DISTINCT o_custkey) AS within_5pct
        |FROM orders""".stripMargin,
    "t2_approxq" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity, l_orderkey, l_linenumber, l_extendedprice) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |e AS (SELECT l_returnflag,
        |        MAX(CASE WHEN rn = (n-1)*5//10 + 1 THEN l_quantity END) AS p50_exact
        |      FROM r GROUP BY 1),
        |a AS (SELECT l_returnflag, approx_quantile(l_quantity, 0.5) AS p50a
        |      FROM lineitem GROUP BY 1)
        |SELECT e.l_returnflag, p50_exact,
        |  ABS(p50a - p50_exact) * 20 <= p50_exact AS within_5pct
        |FROM e JOIN a USING (l_returnflag) ORDER BY l_returnflag""".stripMargin,
    "t3_sketchroll" ->
      """WITH tk AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT lang, COUNT(DISTINCT tok) AS n_exact,
        |  ABS(approx_count_distinct(tok) - COUNT(DISTINCT tok)) * 20
        |    <= COUNT(DISTINCT tok) AS within_5pct
        |FROM tk GROUP BY lang ORDER BY lang""".stripMargin,

    // t4: the oracle replays binning + index-rank quantiles from RAW
    // events — the Spark side must lose nothing across build + rollup
    "t4_histq" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(FLOOR(value * 100) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |b AS (SELECT event_type, LEAST(599, GREATEST(0, x // 100)) AS bin,
        |        COUNT(*) AS c
        |      FROM e GROUP BY 1, 2),
        |nd AS (SELECT event_type, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
        |       FROM e GROUP BY 1),
        |cu AS (SELECT event_type, bin, c,
        |         SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |         SUM(c) OVER (PARTITION BY event_type) AS n
        |       FROM b)
        |SELECT cu.event_type, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MIN(CASE WHEN cum >= (n-1)*5 // 10 + 1 THEN bin*100 END)
        |    AS BIGINT) AS p50c,
        |  CAST(MIN(CASE WHEN cum >= (n-1)*95 // 100 + 1 THEN bin*100 END)
        |    AS BIGINT) AS p95c,
        |  CAST(MIN(CASE WHEN cum >= (n-1)*99 // 100 + 1 THEN bin*100 END)
        |    AS BIGINT) AS p99c,
        |  MAX(n_days) AS n_days
        |FROM cu JOIN nd USING (event_type)
        |GROUP BY cu.event_type ORDER BY cu.event_type""".stripMargin,

    // t5: the oracle replays the sketch cells from RAW token
    // occurrences (the per-source → global rollup is elementwise
    // addition, so raw-built global cells are identical by
    // construction) and the 4-cell min read per probe
    "t5_cms" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |th AS (SELECT token,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(token, ''),
        |             ch -> CAST(unicode(ch) AS BIGINT))),
        |           (acc, x) -> (acc * 31 + x) % 1000000007) AS h
        |       FROM toks),
        |cells AS (SELECT j,
        |            (((1000003*j + 12345) * h + (777767*j + 13))
        |              % 1000000007) % 256 AS cell,
        |            COUNT(*) AS cnt
        |          FROM th, generate_series(0, 3) t(j) GROUP BY 1, 2),
        |top AS (SELECT token, h, COUNT(*) AS c FROM th
        |        GROUP BY 1, 2 ORDER BY c DESC, token LIMIT 10),
        |est AS (SELECT t.token, t.c, MIN(ce.cnt) AS est
        |        FROM top t
        |        CROSS JOIN generate_series(0, 3) g(j)
        |        JOIN cells ce ON ce.j = g.j
        |          AND ce.cell = (((1000003*g.j + 12345) * t.h
        |            + (777767*g.j + 13)) % 1000000007) % 256
        |        GROUP BY 1, 2)
        |SELECT token, c, CAST(est AS BIGINT) AS est,
        |       CAST(est - c AS BIGINT) AS over
        |FROM est ORDER BY c DESC, token""".stripMargin,

    // t7: the oracle replays monthly sketches, the union-and-trim
    // rollup, the direct build, and the equality verdict — KMV
    // mergeability checked per group as data
    "t7_thetarollup" ->
      """WITH el AS (SELECT l_returnflag AS src,
        |       year(l_shipdate) * 100 + month(l_shipdate) AS mo,
        |       (1103515245 * (l_partkey * 100000 + l_suppkey) + 12345)
        |         % 1000000007 AS h
        |     FROM lineitem),
        |monthly AS (SELECT src, mo,
        |              (list(DISTINCT h ORDER BY h))[1:256] AS bk
        |            FROM el GROUP BY 1, 2),
        |mg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n_months,
        |         (list_sort(list_distinct(flatten(list(bk)))))[1:256]
        |           AS mk
        |       FROM monthly GROUP BY 1),
        |direct AS (SELECT src, (list(DISTINCT h ORDER BY h))[1:256] AS dk
        |           FROM el GROUP BY 1),
        |exact AS (SELECT src, CAST(COUNT(DISTINCT h) AS BIGINT) AS nd
        |          FROM el GROUP BY 1)
        |SELECT m.src AS src, n_months, CAST(len(mk) AS BIGINT) AS n_bk,
        |       mk[len(mk)] AS v_k,
        |       CAST(CASE WHEN mk = dk THEN 1 ELSE 0 END AS BIGINT)
        |         AS merged_eq_direct, nd,
        |       CAST(ROUND(CASE WHEN len(mk) < 256
        |         THEN CAST(len(mk) AS DOUBLE)
        |         ELSE CAST(255 AS DOUBLE) * 1000000007 / mk[len(mk)]
        |         END, 6) AS DOUBLE) AS est_distinct
        |FROM mg m JOIN direct USING (src) JOIN exact USING (src)
        |ORDER BY src""".stripMargin,

    // t6: the oracle rebuilds the bottom-k sketch from scratch with
    // ORDER BY/LIMIT semantics (list(DISTINCT h ORDER BY h)[1:256]) —
    // determinism of "k smallest distinct" is what makes the native
    // aggregate hash-checkable at all — and replays the same merged-
    // bottom-k estimators as single identical IEEE trees
    "t6_theta" ->
      """WITH el AS (SELECT l_returnflag AS src,
        |       (1103515245 * (l_partkey * 100000 + l_suppkey) + 12345)
        |         % 1000000007 AS h
        |     FROM lineitem),
        |dd AS (SELECT DISTINCT src, h FROM el),
        |sk AS (SELECT src, (list(DISTINCT h ORDER BY h))[1:256] AS bk,
        |         CAST(COUNT(DISTINCT h) AS BIGINT) AS nd
        |       FROM el GROUP BY src),
        |inter AS (SELECT p.src AS s1, q.src AS s2,
        |            CAST(COUNT(*) AS BIGINT) AS n_inter
        |          FROM dd p JOIN dd q ON p.h = q.h AND p.src < q.src
        |          GROUP BY 1, 2),
        |pr AS (SELECT x.src AS s1, y.src AS s2, x.nd AS nd1, y.nd AS nd2,
        |         x.bk AS ba, y.bk AS bb,
        |         (list_sort(list_distinct(list_concat(x.bk, y.bk))))[1:256]
        |           AS u
        |       FROM sk x JOIN sk y ON x.src < y.src),
        |f AS (SELECT s1, s2, nd1, nd2, ba, bb, u,
        |        CAST(len(u) AS BIGINT) AS n_bk,
        |        u[len(u)] AS v_k,
        |        CAST(len(list_filter(u, v -> list_contains(ba, v)
        |          AND list_contains(bb, v))) AS BIGINT) AS ji
        |      FROM pr)
        |SELECT f.s1, f.s2, nd1, nd2, COALESCE(n_inter, 0) AS n_inter,
        |       nd1 + nd2 - COALESCE(n_inter, 0) AS n_union, n_bk, v_k, ji,
        |       CAST(ROUND(CASE WHEN n_bk < 256 THEN CAST(n_bk AS DOUBLE)
        |         ELSE CAST(255 AS DOUBLE) * 1000000007 / v_k END, 6)
        |         AS DOUBLE) AS est_union,
        |       CAST(ROUND(CASE WHEN n_bk < 256 THEN CAST(ji AS DOUBLE)
        |         ELSE CAST(ji * 255 * 1000000007 AS DOUBLE) / v_k / 256.0
        |         END, 6) AS DOUBLE) AS est_inter,
        |       CAST(ROUND(CAST(ji AS DOUBLE) / n_bk, 6) AS DOUBLE)
        |         AS est_jacc
        |FROM f LEFT JOIN inter ON f.s1 = inter.s1 AND f.s2 = inter.s2
        |ORDER BY f.s1, f.s2""".stripMargin
  )
}
