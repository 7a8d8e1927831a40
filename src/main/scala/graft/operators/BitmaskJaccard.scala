package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared dictionary-bitmask Jaccard kernel (used by Q28, qd1's exact
  * verify, and TrainingData.clean): encode each doc's distinct-token set
  * as an array of 64-bit words over a broadcast dictionary, then compare
  * pairs with popcount intersections — never a token-key shuffle join
  * (quadratic in token frequency: one stop token shared by every doc
  * makes that join O(n²) rows per token).
  *
  * The dictionary is assumed broadcastable (vocabulary ≪ corpus by
  * construction). Dense token ids come from `sortBy.zipWithIndex` —
  * hash-partitioned sort + per-partition offset job, NOT a
  * single-partition window — and the mask width is the `max(ti)` scalar
  * broadcast back into the plan, so building masks runs no driver-side
  * action over the corpus and no stage sees more than a partition of
  * vocabulary at once.
  */
object BitmaskJaccard {

  /** (doc_id, tok) pairs → (doc_id, nt, m: Array[Long] bitmask). */
  def masks(toks: DataFrame): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    // deterministic dense numbering: range-sorted, contiguous ids; the
    // only job zipWithIndex runs is the lightweight per-partition count
    val vocab = toks.select("tok").distinct().as[String].rdd
      .sortBy(identity).zipWithIndex().toDF("tok", "ti")
    // mask width as data, not a driver constant: last word index rides in
    // on a broadcast single-row relation (sequence() accepts columns)
    val wmax = vocab.selectExpr("ti div 64 AS w").agg(max(col("w")).as("wmax"))
    toks.join(broadcast(vocab), Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nt"), collect_list(col("ti")).as("tis"))
      .crossJoin(broadcast(wmax))
      // native one-pass mask build (plans/Bitmask64) — the HOF form
      // (transform over words × aggregate-filter over tis) was
      // O(words × nt) lambda evaluations per document
      .select(col("doc_id"), col("nt"), expr("bitmask64(tis, wmax)").as("m"))
  }

  /** Exact popcount intersection size of two mask arrays — the native
    * fused kernel (plans/PopcountAnd): one codegen'd loop, no
    * intermediate zip_with array per candidate pair. `popcount_and`
    * resolves through GraftExtensions or `NativeFunctions.ensure`. */
  val interExpr: String = "popcount_and(ma, mb)"

  /** Dictionary-free token-set relation: (doc_id, nt, tks sorted
    * ARRAY<STRING>). O(doc length) per row with NO global dictionary and
    * no broadcast assumption — the exact-verify representation that still
    * works at a 10^9-token vocabulary, where vocab-width bitmasks
    * (O(vocab/64) words PER DOC) and the broadcast dictionary stop
    * scaling. Pairs verify via the native sorted-merge intersection. */
  def tokenSets(toks: DataFrame): DataFrame =
    toks.groupBy("doc_id")
      .agg(count(lit(1)).as("nt"), sort_array(collect_list(col("tok"))).as("tks"))

  /** All pairs (a < b) from `left` × `right` mask relations with Jaccard
    * ≥ num/den, with the implied integer length filter applied BEFORE the
    * popcount. Output: (a, b, inter, na, nb). EXACT recall, quadratic in
    * corpus size — correct for bounded inputs / test parity; the corpus
    * scale default is `bandedPairs`. */
  def pairs(left: DataFrame, right: DataFrame, num: Int, den: Int): DataFrame = {
    left.select(col("doc_id").as("a"), col("nt").as("na"), col("m").as("ma"))
      .crossJoin(broadcast(right.select(
        col("doc_id").as("b"), col("nt").as("nb"), col("m").as("mb"))))
      .filter(col("a") < col("b")
        && lit(num) * col("na") <= lit(den) * col("nb")
        && lit(num) * col("nb") <= lit(den) * col("na"))
      .withColumn("inter", expr(interExpr))
      // den·i ≥ num·(na+nb−i) ⟺ (den+num)·i ≥ num·(na+nb): the single-
      // occurrence form — predicate pushdown substitutes projected
      // aliases back into filters, so a two-occurrence predicate would
      // run the intersection kernel twice per candidate row
      .filter(lit(den + num) * col("inter") >= lit(num) * (col("na") + col("nb")))
      .select("a", "b", "inter", "na", "nb")
  }

  /** EXACT sub-quadratic near-dup pairs via prefix filtering (the
    * ppjoin-family candidate bound): order the vocabulary by ascending
    * document frequency (ties by token), and have each doc emit only its
    * first ⌊(1−t)·nt⌋+1 tokens in that order as candidate keys. Any pair
    * with J ≥ t = num/den MUST share a prefix token (if the prefixes were
    * disjoint, the intersection would fit in the two suffixes, forcing
    * inter ≤ min(nt)−prefix < t·min(nt) ≤ t·max(nt), contradicting
    * J ≥ t) — so the equi-join on prefix tokens has EXACT recall, and the
    * popcount verify keeps precision exact. Frequency-ascending order
    * puts stop tokens at the END of every doc's sorted list, so the join
    * keys are the RARE tokens — per-key fan-out stays bounded where a
    * naive token join is quadratic in stop-token frequency.
    *
    * Same output contract as `pairs` ((a, b, inter, na, nb), a < b) and
    * provably the same rows (`DedupSpec` on the fixture corpus,
    * `PrefixPairsPropSpec` on randomized corpora), with no cartesian:
    * this is the scale-default exact form; `pairs` remains only as the
    * brute-force yardstick for bounded inputs.
    *
    * PRECONDITION: `toks` must hold DISTINCT (doc_id, tok) rows — the
    * same set-semantics input `masks()` consumes. Duplicate rows would
    * inflate the per-token document frequencies AND each doc's `nt`
    * used in the prefix slice and the inline length filters, while the
    * masks' `nt` counts distinct tokens — the mismatched filters could
    * then wrongly drop qualifying pairs. (All in-repo callers pass
    * `.distinct()`; `bandedPairsCompact` is the duplicate-TOLERANT
    * alternative when a pre-distinct shuffle is too expensive.) */
  def prefixPairs(toks: DataFrame, masks: DataFrame, num: Int, den: Int,
                  broadcastMasks: Boolean = false,
                  broadcastPrefixes: Boolean = false): DataFrame = {
    // global total order: (document frequency ASC, token ASC). The df
    // join is 1:1 per (doc, tok) row — linear, no fan-out.
    val df = toks.groupBy("tok").agg(count(lit(1)).as("tdf"))
    // each prefix row carries the doc's set size AND the token's 1-based
    // position in the doc's globally-ordered token list — the ppjoin
    // length and position filters below need both. Cached: the candidate
    // self-join has no shared exchange to reuse, and this relation is
    // tiny (only prefix rows survive the slice).
    val pref = OpCaches.track(toks.join(df, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nt"),
        sort_array(collect_list(struct(col("tdf"), col("tok")))).as("ord"))
      .select(col("doc_id"), col("nt"), posexplode(expr(
        s"transform(slice(ord, 1, cast((${den - num} * nt) div $den + 1 AS INT)), o -> o.tok)"))
        .as(Seq("p0", "tok")))
      .select(col("doc_id"), col("nt"), (col("p0") + 1).as("pos"), col("tok")))
    // Candidate join with the ppjoin filters evaluated INLINE on the
    // join output (streamed, never shuffled):
    //  - length: num·na ≤ den·nb ∧ num·nb ≤ den·na (implied by J ≥ t);
    //  - position: for the FIRST shared token of a qualifying pair, all
    //    earlier tokens of either doc are unshared, so
    //    inter ≤ 1 + min(na−pa, nb−pb); J ≥ t needs inter ≥
    //    num·(na+nb)/(num+den), hence rows with
    //    (num+den)·(1+min(na−pa, nb−pb)) < num·(na+nb) can be dropped
    //    without ever dropping a pair's first-shared-token row.
    // The filters matter precisely when the corpus is degenerate for
    // prefix keys (tiny/uniform vocabulary → few join keys with huge
    // fan-out): they prune the blowup before the distinct.
    // `broadcastPrefixes = true` additionally broadcasts the build side
    // — only for callers that KNOW the corpus is bounded (bench scale);
    // the default shuffle join + AQE skew split is the 100 TB plan.
    val L = pref.select(col("doc_id").as("a"), col("nt").as("na"),
      col("pos").as("pa"), col("tok"))
    val R0 = pref.select(col("doc_id").as("b"), col("nt").as("nb"),
      col("pos").as("pb"), col("tok"))
    val R = if (broadcastPrefixes) broadcast(R0) else R0
    val cand = L.join(R, Seq("tok"))
      .filter(col("a") < col("b")
        && lit(num) * col("na") <= lit(den) * col("nb")
        && lit(num) * col("nb") <= lit(den) * col("na")
        && lit(num + den) * (lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")))
          >= lit(num) * (col("na") + col("nb")))
      .select("a", "b").distinct()
    def side(n: String, nt: String, m: String) = {
      val s = masks.select(col("doc_id").as(n), col("nt").as(nt), col("m").as(m))
      if (broadcastMasks) broadcast(s) else s
    }
    cand
      .join(side("a", "na", "ma"), Seq("a"))
      .join(side("b", "nb", "mb"), Seq("b"))
      .filter(lit(num) * col("na") <= lit(den) * col("nb")
        && lit(num) * col("nb") <= lit(den) * col("na"))
      .withColumn("inter", expr(interExpr))
      // den·i ≥ num·(na+nb−i) ⟺ (den+num)·i ≥ num·(na+nb): the single-
      // occurrence form — predicate pushdown substitutes projected
      // aliases back into filters, so a two-occurrence predicate would
      // run the intersection kernel twice per candidate row
      .filter(lit(den + num) * col("inter") >= lit(num) * (col("na") + col("nb")))
      .select("a", "b", "inter", "na", "nb")
  }

  /** `prefixPairs` with the per-doc aggregation FUSED and the candidate
    * distinct REMOVED. Two plan moves over the `masks()` +
    * `prefixPairs()` composition:
    *
    *  1. ONE groupBy(doc_id) over the dictionary-joined tokens builds
    *     both the bitmask verify payload and the prefix (the old
    *     composition aggregated the corpus by doc twice), and the
    *     document frequency rides on the dictionary itself — the same
    *     groupBy(tok) that numbers the vocabulary counts it.
    *  2. The dictionary is numbered in the GLOBAL PREFIX ORDER
    *     (document frequency ASC, token ASC), so one dense int64 rank
    *     serves every downstream role: the bitmask bit index (any
    *     stable numbering gives identical popcount intersections), the
    *     prefix slice (a doc's prefix = its smallest ranks), the join
    *     key (int64 hashing instead of token strings), and — the pair
    *     with `first_common_sorted` — FIRST-SHARED-TOKEN emission: a
    *     joined row survives only if its rank is the pair's first
    *     common prefix rank, making the join output pair-unique BY
    *     CONSTRUCTION (the same move as the LSH bands' first-matching-
    *     band emission). Exactness: the first-common row maximizes
    *     min(na−pa, nb−pb) over a pair's shared rows, so the ppjoin
    *     position filter is monotone along them — if the emitted row
    *     fails it, every other shared row fails too, and the
    *     qualifying-pair argument for the first shared token is
    *     unchanged. At sf0.1 this replaces a 12.6M-row distinct
    *     exchange with an O(prefix) codegen merge per joined row.
    *
    * Identical output contract and rows as `prefixPairs` (pair-identity
    * pinned in `PrefixPairsPropSpec` across all corpus regimes); same
    * distinct-(doc_id, tok) PRECONDITION. This is the scale-default
    * exact-recall entry point; `prefixPairs` remains for callers that
    * already hold a mask relation. */
  def prefixPairsFused(toks: DataFrame, num: Int, den: Int,
                       broadcastPrefixes: Boolean = false): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    // global prefix-order dictionary; cached — wmax and the per-doc
    // join both read it, and RDD jobs cannot reuse SQL exchanges
    val vocab = OpCaches.track(
      toks.groupBy("tok").agg(count(lit(1)).as("tdf"))
        .as[(String, Long)].rdd
        .sortBy { case (tok, tdf) => (tdf, tok) }.zipWithIndex()
        .map { case ((tok, _), rk) => (tok, rk) }
        .toDF("tok", "rk"))
    val wmax = vocab.selectExpr("rk div 64 AS w").agg(max(col("w")).as("wmax"))
    // the single corpus-wide aggregation: set size + sorted rank array;
    // bitmask and prefix array are row-local projections of it
    val per = OpCaches.track(toks.join(broadcast(vocab), Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nt"), sort_array(collect_list(col("rk"))).as("rks"))
      .crossJoin(broadcast(wmax))
      .select(col("doc_id"), col("nt"),
        expr(
          s"""transform(sequence(0L, wmax),
             |  w -> aggregate(filter(rks, t -> t div 64 = w), 0L,
             |                 (acc, t) -> acc | shiftleft(1L, cast(t % 64 as int))))
             |""".stripMargin).as("m"),
        expr(s"slice(rks, 1, cast((${den - num} * nt) div $den + 1 AS INT))")
          .as("parr")))
    // prefix rows derive from the CACHED per-doc relation — no second
    // corpus aggregation behind them; each row carries the doc's whole
    // prefix array (bounded: ⌊(1−t)·nt⌋+1 ranks) for the first-common
    // merge on the join output
    val pref = per
      .select(col("doc_id"), col("nt"), col("parr"),
        posexplode(col("parr")).as(Seq("p0", "rk")))
      .select(col("doc_id"), col("nt"), col("parr"),
        (col("p0") + 1).as("pos"), col("rk"))
    val L = pref.select(col("doc_id").as("a"), col("nt").as("na"),
      col("pos").as("pa"), col("parr").as("pra"), col("rk"))
    val R0 = pref.select(col("doc_id").as("b"), col("nt").as("nb"),
      col("pos").as("pb"), col("parr").as("prb"), col("rk"))
    val R = if (broadcastPrefixes) broadcast(R0) else R0
    val cand = L.join(R, Seq("rk"))
      .filter(col("a") < col("b")
        && lit(num) * col("na") <= lit(den) * col("nb")
        && lit(num) * col("nb") <= lit(den) * col("na")
        && lit(num + den) * (lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")))
          >= lit(num) * (col("na") + col("nb"))
        && col("rk") === expr("first_common_sorted(pra, prb)"))
      .select("a", "b")
    cand
      .join(per.select(col("doc_id").as("a"), col("nt").as("na"), col("m").as("ma")), Seq("a"))
      .join(per.select(col("doc_id").as("b"), col("nt").as("nb"), col("m").as("mb")), Seq("b"))
      .withColumn("inter", expr(interExpr))
      // den·i ≥ num·(na+nb−i) ⟺ (den+num)·i ≥ num·(na+nb): the single-
      // occurrence form — predicate pushdown substitutes projected
      // aliases back into filters, so a two-occurrence predicate would
      // run the intersection kernel twice per candidate row
      .filter(lit(den + num) * col("inter") >= lit(num) * (col("na") + col("nb")))
      .select("a", "b", "inter", "na", "nb")
  }

  /** Sub-quadratic near-dup pairs: MinHash(nHashes) + LSH(nBands)
    * candidate generation — same-bucket docs only, so the self-join
    * fan-out is bounded per band key — followed by the exact popcount
    * verify on candidates only. Recall is probabilistic (a true pair is
    * missed only if NO band agrees); precision is exact. This is the
    * 100 TB default for corpus near-dedup; `pairs` keeps the all-pairs
    * exact-recall form.
    *
    * `broadcastMasks = true` hints the masks side of the verify joins —
    * only for callers that KNOW masks fit in memory (bench-scale
    * corpora); the default shuffle equi-join is the scale-safe plan.
    *
    * Output: (a, b, inter, na, nb), same contract as `pairs`. */
  def bandedPairs(toks: DataFrame, masks: DataFrame, num: Int, den: Int,
                  nHashes: Int = 16, nBands: Int = 4,
                  broadcastMasks: Boolean = false): DataFrame = {
    val cand = bandedCandidates(toks, nHashes, nBands)
    def side(n: String, nt: String, m: String) = {
      val s = masks.select(col("doc_id").as(n), col("nt").as(nt), col("m").as(m))
      if (broadcastMasks) broadcast(s) else s
    }
    cand
      .join(side("a", "na", "ma"), Seq("a"))
      .join(side("b", "nb", "mb"), Seq("b"))
      .withColumn("inter", expr(interExpr))
      // den·i ≥ num·(na+nb−i) ⟺ (den+num)·i ≥ num·(na+nb): the single-
      // occurrence form — predicate pushdown substitutes projected
      // aliases back into filters, so a two-occurrence predicate would
      // run the intersection kernel twice per candidate row
      .filter(lit(den + num) * col("inter") >= lit(num) * (col("na") + col("nb")))
      .select("a", "b", "inter", "na", "nb")
  }

  /** `bandedPairs` with the per-doc aggregation FUSED (the same plan
    * move as `prefixPairsFused`): ONE groupBy(doc_id) over the
    * dictionary-joined tokens builds the MinHash signature AND the
    * bitmask verify payload, where the `masks()` + `bandedPairs()`
    * composition aggregated the corpus twice. Identical candidate
    * generation (first-matching-band emission) and verify semantics;
    * row-identity with `bandedPairs` pinned in `BandedPairsPropSpec`.
    * Same distinct-(doc_id, tok) PRECONDITION as `masks()`. */
  def bandedPairsFused(toks: DataFrame, num: Int, den: Int,
                       nHashes: Int = 16, nBands: Int = 4,
                       broadcastMasks: Boolean = false): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    val P = 1000000007L
    val rows = nHashes / nBands
    require(rows * nBands == nHashes, "nBands must divide nHashes")
    // dense dictionary (token ASC, same numbering as masks()); cached —
    // wmax and the token join both read it, and RDD jobs cannot reuse
    // SQL exchanges
    val vocab = OpCaches.track(toks.select("tok").distinct().as[String].rdd
      .sortBy(identity).zipWithIndex().toDF("tok", "ti"))
    val wmax = vocab.selectExpr("ti div 64 AS w").agg(max(col("w")).as("wmax"))
    val th = toks.join(broadcast(vocab), Seq("tok"))
      .withColumn("h", expr("roll_hash31(tok)"))
    val minCols = (0 until nHashes).map { j =>
      val a = 1000003L * j + 12345L
      val b = 777767L * j + 13L
      min((lit(a) * col("h") + lit(b)) % P).as(s"mh$j")
    }
    val aggCols = minCols ++ Seq(
      count(lit(1)).as("nt"), collect_list(col("ti")).as("tis"))
    val per = OpCaches.track(
      th.groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
        .crossJoin(broadcast(wmax))
        .select(col("doc_id") +: col("nt") +:
          expr(
            s"""transform(sequence(0L, wmax),
               |  w -> aggregate(filter(tis, t -> t div 64 = w), 0L,
               |                 (acc, t) -> acc | shiftleft(1L, cast(t % 64 as int))))
               |""".stripMargin).as("m") +:
          (0 until nHashes).map(j => col(s"mh$j")): _*))
    val cand = firstMatchCandidates(per, nBands, rows)
    def side(n: String, nt: String, m: String) = {
      val s0 = per.select(col("doc_id").as(n), col("nt").as(nt), col("m").as(m))
      if (broadcastMasks) broadcast(s0) else s0
    }
    cand
      .join(side("a", "na", "ma"), Seq("a"))
      .join(side("b", "nb", "mb"), Seq("b"))
      .withColumn("inter", expr(interExpr))
      // den·i ≥ num·(na+nb−i) ⟺ (den+num)·i ≥ num·(na+nb): the single-
      // occurrence form — predicate pushdown substitutes projected
      // aliases back into filters, so a two-occurrence predicate would
      // run the intersection kernel twice per candidate row
      .filter(lit(den + num) * col("inter") >= lit(num) * (col("na") + col("nb")))
      .select("a", "b", "inter", "na", "nb")
  }

  /** `bandedPairs` with the dictionary-free verify: candidates from the
    * same MinHash-LSH banding, intersection via the native sorted-merge
    * kernel over per-doc sorted arrays of 64-bit token fingerprints
    * (the shared cross-engine rolling hash — 8 B per element regardless
    * of token length, identical in the oracle, so the hash-checked
    * contract is Jaccard over fingerprint sets). No dictionary, no
    * broadcast, every relation O(doc length) per row — the fully
    * scale-safe near-dedup composition for unbounded vocabularies. Same
    * output contract and (at test vocabularies, provably) same rows as
    * `bandedPairs`. */
  def bandedPairsCompact(toks: DataFrame, num: Int, den: Int,
                         nHashes: Int = 16, nBands: Int = 4): DataFrame = {
    val P = 1000000007L
    val rows = nHashes / nBands
    require(rows * nBands == nHashes, "nBands must divide nHashes")
    // ONE pass over the token relation builds BOTH the MinHash signature
    // (16 min columns) and the verify-side sorted token array + size —
    // the separate bandedCandidates + tokenSets composition aggregated
    // the corpus twice (two full shuffles of every token). The per-doc
    // result is small (one row per doc) and cached because the band
    // self-join and the two verify joins all re-read it.
    // hash projected ONCE per token row (a min column per permutation
    // would otherwise re-evaluate the rolling hash 16×)
    val th = toks.withColumn("h", expr("roll_hash31(tok)"))
    val minCols = (0 until nHashes).map { j =>
      val a = 1000003L * j + 12345L
      val b = 777767L * j + 13L
      min((lit(a) * col("h") + lit(b)) % P).as(s"mh$j")
    }
    // duplicate-TOLERANT by construction: MIN permutation aggs are
    // duplicate-insensitive and collect_set dedupes, so callers can pass
    // the raw exploded (doc_id, tok) relation without paying a distinct
    // shuffle first (qd3 feeds raw shingles; set size nt derives from
    // the deduped array). The verify set is the token's int64 rolling
    // hash, NOT the token string: the hash is bit-identical in both
    // engines (the oracle mirrors it), so the contract — Jaccard over
    // 64-bit token fingerprints — stays exactly hash-checked, while the
    // per-doc arrays shuffle 8 B per element instead of whole shingle
    // strings (the dominant volume for long n-gram tokens).
    val aggCols = minCols :+ sort_array(collect_set(col("h"))).as("hs")
    val per = OpCaches.track(
      th.groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
        .withColumn("nt", size(col("hs")).cast("bigint")))
    val cand = firstMatchCandidates(per, nBands, rows)
    cand
      .join(per.select(col("doc_id").as("a"), col("nt").as("na"),
        col("hs").as("ha")), Seq("a"))
      .join(per.select(col("doc_id").as("b"), col("nt").as("nb"),
        col("hs").as("hb")), Seq("b"))
      .withColumn("inter", expr("intersect_sorted_count(ha, hb)"))
      // den·i ≥ num·(na+nb−i) ⟺ (den+num)·i ≥ num·(na+nb): the single-
      // occurrence form — predicate pushdown substitutes projected
      // aliases back into filters, so a two-occurrence predicate would
      // run the intersection kernel twice per candidate row
      .filter(lit(den + num) * col("inter") >= lit(num) * (col("na") + col("nb")))
      .select("a", "b", "inter", "na", "nb")
  }

  /** Banded candidate pairs (a < b) from a per-doc signature relation
    * carrying minhash columns mh0..mh{nHashes-1}: band keys k0..k{B-1}
    * ride along every band row, and each pair is emitted at its FIRST
    * matching band only (the inequality conjuncts require every earlier
    * band to differ) — the join output is pair-unique by construction,
    * so there is no per-band duplication to pay for and NO distinct
    * exchange at all. The riding keys widen the band rows B-fold, but
    * the removed exchange is O(candidate pairs), which dominates
    * whenever banding actually fires. The per-doc relation must be
    * cached by the caller: a self-join has no shared exchange to reuse. */
  private def firstMatchCandidates(per: DataFrame, nBands: Int,
                                   rows: Int): DataFrame = {
    val keyCols = (0 until nBands).map { b =>
      concat_ws(",", (0 until rows).map(r => col(s"mh${rows * b + r}")): _*).as(s"k$b")
    }
    // cached: the candidate self-join otherwise computes the band build
    // (and its upstream signature aggregation) twice — a self-join has
    // no shared exchange to reuse. Bounded: nBands rows per doc;
    // registered in OpCaches for the caller's releaseAll().
    val bands = OpCaches.track(per
      .select(col("doc_id") +: keyCols: _*)
      .select(col("doc_id") +: (0 until nBands).map(b => col(s"k$b")) :+
        posexplode(array((0 until nBands).map(b => col(s"k$b")): _*))
          .as(Seq("band", "key")): _*))
    // reduceOption: with nBands == 1 there is no earlier band to
    // exclude, so the first-match predicate degenerates to `true`
    val firstMatch = (1 until nBands).map(b =>
        col("x.band") < b || col(s"x.k${b - 1}") =!= col(s"y.k${b - 1}"))
      .reduceOption(_ && _).getOrElse(lit(true))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key")
          && col("x.doc_id") < col("y.doc_id") && firstMatch)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
  }

  /** MinHash-LSH banded candidate pairs (a < b), shared by both verify
    * kernels; package-visible for callers that need the CANDIDATE set
    * itself (qd9's recall audit — exact ∩ banded = exact ∩ candidates,
    * so the audit never needs the verify joins). */
  private[graft] def bandedCandidates(toks: DataFrame, nHashes: Int,
                                      nBands: Int): DataFrame = {
    val P = 1000000007L
    val rows = nHashes / nBands
    require(rows * nBands == nHashes, "nBands must divide nHashes")
    // shared cross-engine rolling hash (see DedupExt scaladoc): fold of
    // acc*31 + codepoint mod 1e9+7, bit-identical in Spark and DuckDB —
    // the native codegen expression, not the interpreted HOF fold
    val th = toks.withColumn("h", expr("roll_hash31(tok)"))
    val minCols = (0 until nHashes).map { j =>
      val a = 1000003L * j + 12345L
      val b = 777767L * j + 13L
      min((lit(a) * col("h") + lit(b)) % P).as(s"mh$j")
    }
    val sig = th.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    firstMatchCandidates(sig, nBands, rows)
  }
}
