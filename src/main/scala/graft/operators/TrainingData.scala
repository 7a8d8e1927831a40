package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end LLM training-data cleaning: the composition a corpus
  * pipeline actually runs, built from the same primitives the oracle
  * queries verify (qt2 quality, qt4 fingerprints, Q27/Q28 dedup).
  *
  * Stages (all single-pass or one-shuffle):
  *  1. quality gate — integer-arithmetic thresholds (qt2 semantics)
  *  1b. decontamination (optional, `evalDocs`) — drop docs sharing any
  *     `decontShingle`-token shingle hash with the eval corpus (qx1
  *     semantics: the tiny eval shingle set broadcast against the
  *     corpus)
  *  2. exact dedup — keep the lowest doc_id per text fingerprint
  *  3. near-dedup — of the surviving docs, drop the higher doc_id of any
  *     pair with token-set Jaccard ≥ `jaccard`: MinHash-LSH banded
  *     candidates + an exact verify kernel chosen by the corpus shape:
  *     - default: dictionary-bitmask popcount — per-pair payload is
  *       O(vocabulary/64) words, the right trade when the vocabulary is
  *       bounded and ≪ total corpus (measured: on the bench corpus the
  *       O(doc-length) token arrays shipped ~50× more shuffle bytes per
  *       candidate pair than the one-word masks);
  *     - `dictionaryFree = true`: sorted-token-set merge verify
  *       (`bandedPairsCompact`) — O(doc length) payload, NO global
  *       dictionary or broadcast assumption; the form that still works
  *       at a 10^9-token vocabulary. Both verified pair-identical.
  *     - `exactRecall = true`: prefix-filter candidates + bitmask
  *       verify (`prefixPairs`) — EXACT recall with a bounded candidate
  *       join, no cartesian.
  *
  * Caching contract: `clean` (and the BitmaskJaccard candidate paths it
  * calls) caches intermediate relations because both the banding and the
  * verify re-read them and a self-join has no shared exchange to reuse.
  * Every handle is registered in [[OpCaches]]; after the first action on
  * the returned DataFrame has completed, call `OpCaches.releaseAll()` to
  * unpersist them all (TrainingDataSpec pins that the CacheManager is
  * empty afterwards). Callers running many independent `clean()`
  * invocations (tests, benchmarks) release between them; a production
  * pipeline runs one and releases at the end.
  *
  * Returns the cleaned corpus plus a DEFERRED per-stage stats handle:
  * stage counts are `observe()` metrics collected by whatever single
  * action the caller runs on the result (write, count, …) — `clean`
  * itself runs no job (EXCEPT under `clusterDedup = true`, where the
  * connected-components iteration necessarily materializes the pair
  * graph during the call), and the stats cost nothing extra at 100 TB.
  * Call `stats()` after the first action has completed.
  */
object TrainingData {
  case class CleanStats(input: Long, lowQuality: Long, contaminated: Long,
                        exactDups: Long, nearDups: Long, output: Long)

  private[graft] val stopTokens = Seq("the", "a", "of", "and")

  /** qt2's integer-arithmetic quality predicate over a token-array
    * column — THE definition of "document quality" every gate shares
    * (clean stage 1, the s09 ingest gate's batch and streaming forms),
    * so a threshold or stop-list change happens in exactly one place.
    * Conditions: length ≥ minTokens, type-token ratio ≥ 0.3, stopword
    * ratio ≤ 0.3 — all in exact integer arithmetic (no float
    * threshold compares). */
  private[graft] def qualityPred(tk: org.apache.spark.sql.Column,
                                 minTokens: Int = 20): org.apache.spark.sql.Column = {
    val nTok = size(tk).cast(LongType)
    val nUniq = size(array_distinct(tk)).cast(LongType)
    val nStop = size(filter(tk, _.isin(stopTokens: _*))).cast(LongType)
    nTok >= minTokens &&
      lit(10) * nUniq >= lit(3) * nTok &&
      lit(10) * nStop <= lit(3) * nTok
  }

  /** Row-local DISTINCT n-token shingle rolling hashes, (doc_id, h) —
    * THE shingle definition shared by decontamination (clean stage 1b)
    * and the s10 quarantine channel (batch and streaming forms). The
    * distinct is on the HASHES (fine for the existence semantics all
    * callers use); qx1's per-doc hit COUNTS keep their own
    * string-distinct form, whose contract a hash collision could
    * otherwise shift. */
  private[graft] def shingleHashes(docs: DataFrame, n: Int): DataFrame = {
    // scale-adaptive fan (ScanFan gate): shingling + hashing is the
    // heavy row-local work of the decontamination path and otherwise
    // runs inside a single-row-group scan's one task at bench scale
    ScanFan.fan(docs, col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("_stk"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(IF(size(_stk) >= $n, transform(sequence(1, size(_stk) - ${n - 1}), k -> roll_hash31(array_join(slice(_stk, k, $n), ' '))), array()))"))
        .as("h"))
  }

  /** `clusterDedup = true` resolves near-dup PAIRS into connected
    * components (DupGroups) and keeps exactly the min doc_id of each
    * cluster, instead of dropping every pair's higher side. The two
    * policies differ on open triangles: pairs (1,5), (3,5) drop only 5
    * pairwise but collapse {1,3,5} to {1} cluster-wise — cluster
    * survivors are always a subset of pairwise survivors (any b-side is
    * a non-min member of its component). */
  /** `evalDocs` (when given) inserts a DECONTAMINATION stage between
    * the quality gate and exact dedup: any doc sharing a
    * `decontShingle`-token shingle (matched on the cross-engine rolling
    * hash) with the eval corpus is removed — the benchmark-leakage
    * guard every training pipeline needs. The shingle length is the
    * sensitivity knob: 3 is an aggressive audit (qx1's report setting),
    * the default 5 matches removal practice (long-enough exact overlap
    * that a shared shingle is real leakage, not vocabulary
    * coincidence). The eval side is tiny by construction (benchmark
    * suites are MBs against a 100 TB corpus), so its distinct shingle
    * hashes are BROADCAST and the corpus side never shuffles for this
    * stage. */
  /** Span-level dedup REMOVAL (the ExactSubstr step of Lee et al.'s
    * "Deduplicating Training Data", public literature) at `win`-token
    * window resolution — the production counterpart of qd8's flagging:
    * drop every token covered by ANY `win`-token window whose rolling
    * hash occurs in ≥ 2 distinct documents, stitch the survivors back
    * into a cleaned text. Deterministic by construction (the shared
    * cross-engine hash, exact position sets); docs shorter than the
    * window keep everything.
    *
    * Returns (doc_id, n_orig, n_kept, cleaned).
    *
    * Scale shape: the window explosion is linear (one row per window,
    * row-local hashing); the duplicated-hash set is an aggregate +
    * equi-join on the unbounded-cardinality hash key (qd8's
    * AQE-skew-splittable shape — never a window over h); removed
    * positions fan out ONLY from duplicated windows (8× the dup rows,
    * not the corpus) and collapse into one sorted array per doc; the
    * stitch itself is ROW-LOCAL (an indexed array filter against the
    * per-doc removed set riding a narrow equi-join) — the corpus text
    * never shuffles. */
  def removeDupSpans(docs: DataFrame, win: Int = 8): DataFrame = {
    val tk = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
    // one row per window: (doc_id, k, h), k 1-based
    val w = OpCaches.track(tk
      .filter(size(col("tk")) >= win)
      .select(col("doc_id"), col("tk"),
        explode(expr(s"sequence(1L, CAST(size(tk) - ${win - 1} AS BIGINT))"))
          .as("k"))
      .select(col("doc_id"), col("k"),
        expr(s"roll_hash31(array_join(slice(tk, CAST(k AS INT), $win), ' '))")
          .as("h")))
    // hashes in ≥ 2 distinct docs: per-(h, doc) collapse first
    // (map-side combinable), then the narrow per-h count
    val nd = w.groupBy("h", "doc_id").agg(count(lit(1)).as("_c"))
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("h")
    // removed token positions per doc, as one sorted array
    val rem = w.join(nd, Seq("h"))
      .select(col("doc_id"),
        explode(expr(s"sequence(k, k + ${win - 1})")).as("p"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("p"))).as("rem"))
    // row-local stitch: indexed filter against the per-doc removed set
    // (Spark lambda index i is 0-based; positions are 1-based)
    tk.join(rem, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("tk")).cast(LongType).as("n_orig"),
        expr("CASE WHEN rem IS NULL THEN tk ELSE " +
          "filter(tk, (t, i) -> NOT array_contains(rem, CAST(i + 1 AS BIGINT))) END")
          .as("kept"))
      .select(col("doc_id"), col("n_orig"),
        size(col("kept")).cast(LongType).as("n_kept"),
        array_join(col("kept"), " ").as("cleaned"))
  }

  def clean(docs: DataFrame, minTokens: Int = 20,
            jaccard: (Int, Int) = (8, 10),
            exactRecall: Boolean = false,
            dictionaryFree: Boolean = false,
            clusterDedup: Boolean = false,
            evalDocs: Option[DataFrame] = None,
            decontShingle: Int = 5): (DataFrame, () => CleanStats) = {
    // auto-generated (unique) observation names: two clean() invocations
    // may legally meet in one query (e.g. comparing banded vs exact
    // recall), and duplicate metric names across different results are an
    // analysis error
    val obsIn = Observation()
    val obsQ = Observation()
    val obsE = Observation()
    val obsOut = Observation()
    val observed = docs.observe(obsIn, count(lit(1)).as("n"))

    // 1. quality gate (all three qt2 integer-arithmetic conditions:
    // length, type-token ratio, stopword ratio — the shared predicate)
    val scored = observed
      .withColumn("tk", split(col("text"), " "))
      .filter(qualityPred(col("tk"), minTokens))
      .observe(obsQ, count(lit(1)).as("n"))

    // 1b. decontamination (optional): drop survivors sharing any
    // decontShingle-token shingle hash (default 5 — removal practice;
    // see the parameter scaladoc) with the eval corpus — qx1's
    // broadcast semi-join shape, here as an anti-join
    val obsD = Observation()
    val decontRaw = evalDocs match {
      case Some(ev) =>
        val evH = shingleHashes(ev, decontShingle).select("h").distinct()
        val hit = shingleHashes(scored, decontShingle)
          .join(broadcast(evH), Seq("h"))
          .select("doc_id").distinct()
        scored.join(hit, Seq("doc_id"), "left_anti")
      case None => scored
    }
    val decont = decontRaw.observe(obsD, count(lit(1)).as("n"))

    // 2. exact dedup on the full text (Q27 semantics, keep lowest
    // doc_id) — as ONE min(struct) aggregate, not a window over text:
    // the min PARTIAL-AGGREGATES, so a key duplicated a million times
    // (exactly what exact dedup exists for) collapses map-side before
    // the shuffle, and a hot text never pins an un-splittable window
    // partition. doc_id leads the struct and is globally unique, so
    // the comparison never reaches the payload fields — the kept row
    // is exactly the min-doc_id row. One pass over the gated corpus
    // (a semi-join-back form would run the gate + decontamination
    // twice per action).
    val payload = decont.columns.filterNot(c => c == "doc_id" || c == "text")
    val exact = decont.groupBy("text")
      .agg(min(struct(col("doc_id") +: payload.map(col): _*)).as("_m"))
      .select(col("_m.*"), col("text"))
      .observe(obsE, count(lit(1)).as("n"))

    // 3. near-dedup: drop the higher doc_id of each qualifying pair
    // cached: the banding signature and the verify-side token sets both
    // re-read this relation, and its lineage (quality gate + dedup
    // window) is the expensive part
    val toks = OpCaches.track(
      exact.select(col("doc_id"),
        explode(array_distinct(col("tk"))).as("tok")))
    val (jn, jd) = jaccard
    val pairs =
      if (exactRecall) {
        // EXACT-recall form: fused prefix-filter candidates + bitmask
        // verify — sub-quadratic with the identical result set as the
        // old all-pairs kernel (pair-identity pinned in DedupSpec /
        // PrefixPairsPropSpec); one per-doc aggregation builds both
        // the prefix and the mask
        BitmaskJaccard.prefixPairsFused(toks, jn, jd)
      } else if (dictionaryFree)
        // unbounded-vocabulary form: banded candidates + sorted-set
        // verify — no dictionary or broadcast assumption anywhere
        BitmaskJaccard.bandedPairsCompact(toks, jn, jd)
      else
        // bounded-vocabulary default: fused banded candidates + bitmask
        // verify (one per-doc aggregation builds signature + mask)
        BitmaskJaccard.bandedPairsFused(toks, jn, jd)
    val dropB =
      if (clusterDedup)
        DupGroups.components(pairs.select("a", "b"))
          .filter(col("node") =!= col("grp"))
          .select(col("node").as("doc_id"))
      else pairs.select(col("b").as("doc_id")).distinct()
    val cleaned = exact.join(dropB, Seq("doc_id"), "left_anti")
      .drop("tk")
      .observe(obsOut, count(lit(1)).as("n"))

    // bounded wait instead of the unbounded Observation.get: calling
    // stats() before any action has completed on the cleaned DataFrame
    // must fail with a descriptive error, not block this thread forever
    // on a metric that will never arrive (10 s covers listener-bus lag
    // after a COMPLETED action; an un-run query never fulfills the
    // future regardless of wait time)
    def metric(o: Observation): Long = {
      val row =
        try scala.concurrent.Await.result(o.future,
          scala.concurrent.duration.Duration(10, "s"))
        catch {
          case _: java.util.concurrent.TimeoutException =>
            throw new IllegalStateException(
              "TrainingData stats() called before an action " +
                "(write/count/...) completed on the cleaned DataFrame — " +
                "the stage counts are observe() metrics and only exist " +
                "after one materialization")
        }
      row.getAs[Any]("n") match {
        case l: java.lang.Long => l.longValue()
        case other => other.toString.toLong
      }
    }
    val stats = () => {
      val (in, q, dp, e, out) =
        (metric(obsIn), metric(obsQ), metric(obsD), metric(obsE), metric(obsOut))
      CleanStats(in, in - q, q - dp, dp - e, e - out, out)
    }
    (cleaned, stats)
  }
}

/** Graph-relation helpers over the Space/Time edge shape
  * `{from, to, type}` the reference's transform step emits. */
object Relations {
  /** In/out degree per node across all edge types. */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("from").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("to").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** One-hop neighbors of `node` following edges of `edgeType`. */
  def neighbors(edges: DataFrame, node: String, edgeType: String): DataFrame =
    edges.filter(col("type") === edgeType
        && (col("from") === node || col("to") === node))
      .select(when(col("from") === node, col("to")).otherwise(col("from"))
        .as("neighbor"))
      .distinct()
}
