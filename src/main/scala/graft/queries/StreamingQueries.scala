package graft.queries

import graft.{Conv, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming surface (SURVEY §5.7 S01–S07).
  *
  * The oracle-checked `queries` are the BATCH forms (the driver's DuckDB
  * oracle is batch SQL); `Streams` runs the same computations as real
  * Structured Streaming jobs (file source → availableNow trigger → memory
  * sink) and the test suite asserts streaming == batch row-for-row.
  *
  * Bucketing is integer epoch math on both engines (no engine-native
  * window helpers in the oracle path) so the results are hash-stable:
  * bucket = floor(epoch_seconds / 300) * 300.
  *
  * Scale notes: tumbling/sliding aggs are partial-aggregatable and keyed
  * by (bucket, type) — shuffle volume is O(buckets × types), not O(rows).
  * Sessionization uses one window pass per user partition; at 100 TB the
  * per-user event stream is the right partition key and Spark's
  * session_window does the same state-store bucketing in streaming mode.
  */
object StreamingQueries {
  import Conv._

  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** 5-minute tumbling bucket of ts, as a timestamp. floor (not the
    * cast's truncate-toward-zero) so pre-1970 timestamps would bucket the
    * same way as the oracle's floor(epoch/300). */
  private def bucket(c: org.apache.spark.sql.Column) =
    timestamp_seconds(floor(c.cast(LongType) / 300).cast(LongType) * 300)

  val queries: Map[String, Q] = Map(
    // S01 tumbling 5-minute window agg
    "s01_tumbling" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(bucket(col("ts")).as("ts_bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), r4(sumDec6(col("value"))).as("v"))
        .orderBy("ts_bucket", "event_type")),

    // S02 sliding 10-minute window, 5-minute slide: each event lands in
    // exactly the two windows starting at bucket(ts) and bucket(ts)-300.
    "s02_sliding" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("b", floor(col("ts").cast(LongType) / 300).cast(LongType) * 300)
        .select(col("event_type"), col("value"),
          explode(array(col("b"), col("b") - 300)).as("ws"))
        .groupBy(timestamp_seconds(col("ws")).as("w_start"), col("event_type"))
        .agg(count(lit(1)).as("n"), r4(sumDec6(col("value"))).as("v"))
        .orderBy("w_start", "event_type")),

    // S03 session windows (30-minute gap) per user via LAG + running sum.
    // Epoch compared in double: timestamp→double is micros/1e6 on both
    // engines (exact below 2^53), so the 1800 s cut is bit-identical.
    "s03_sessions" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .withColumn("sec", col("ts").cast(DoubleType))
        .withColumn("brk",
          when(lag(col("sec"), 1).over(w).isNull
            || col("sec") - lag(col("sec"), 1).over(w) > 1800d, 1L).otherwise(0L))
        .withColumn("sess", sum(col("brk"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess")
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    }),

    // S04 dedup by event id
    "s04_dedup" -> ((s, d) =>
      t(s, d, "events")
        .agg(countDistinct(col("event_id")).as("n"))),

    // S07 content-fingerprint dedup: the ingest-time exact near-dup gate
    // of a training pipeline — fingerprint the payload (cross-engine
    // rolling hash, native expression) and count surviving uniques.
    // Streaming form: Streams.s07 (watermark + dropDuplicates on fp);
    // the test suite asserts streaming == batch.
    "s07_fpdedup" -> ((s, d) => {
      t(s, d, "events")
        .select(expr("roll_hash31(props)").as("fp"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("fp")).as("n_unique"))
    }),

    // S08 chunk-level dedup: qt10's chunk relation (64-token windows,
    // stride 48, rolling-hash fingerprint) deduped exactly — keep the
    // least (doc_id, k) per fingerprint. This is the batch form of the
    // ingest-time pipeline a training corpus actually runs (chunk, then
    // drop repeated chunks across document versions/mirrors); the
    // streaming form is Streams.s08 (same chunk relation + watermarked
    // dropDuplicatesWithinWatermark on fp), asserted equivalent in the
    // test suite. The window partitions on the fingerprint itself —
    // corpus-cardinality key, full parallelism, no skew magnet.
    "s08_chunkdedup" -> ((s, d) =>
      // keep-least (doc_id, k) per fingerprint as ONE min(struct)
      // aggregate: partial-aggregatable and skew-free where a window
      // over fp pins a hot (boilerplate) chunk to one partition, and
      // the output (doc_id, k, fp) is fully determined by (fp, min) —
      // no join-back at all. Struct-min (s09/qc4's form) has no range
      // constraint, unlike the previous doc_id·2³¹+k int64 encoding,
      // which silently returned the wrong representative past 2³¹.
      TextExt.chunkRel(t(s, d, "documents"))
        .groupBy("fp")
        .agg(min(struct(col("doc_id"), col("k"))).as("_m"))
        .select(col("_m.doc_id").as("doc_id"), col("_m.k").as("k"),
          col("fp"))
        .orderBy("doc_id", "k")),

    // S09 the ingest-time CLEANING gate: quality filter (qt2's integer
    // thresholds — all row-local array stats) + exact content dedup on
    // the text fingerprint, keep the first (min doc_id) survivor. This
    // is the composition a training pipeline runs ON INGEST, before
    // anything lands in the corpus; the streaming form is Streams.s09
    // (same row-local gate on the stream + watermarked
    // dropDuplicatesWithinWatermark on fp), asserted equivalent in the
    // test suite. The dedup window partitions on the fingerprint —
    // corpus-cardinality key, no skew magnet.
    "s09_streamclean" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          split(col("text"), " ").as("tk"))
        .filter(graft.operators.TrainingData.qualityPred(col("tk")))
        .select(col("doc_id"), col("lang"), expr("roll_hash31(text)").as("fp"))
        // keep-least as ONE min(struct) aggregate per fingerprint:
        // map-side-combinable (duplicates collapse before the shuffle)
        // and skew-free where a window over fp pins a hot key; doc_id
        // leads the struct and is unique, so lang never tie-breaks.
        // One pass — a semi-join-back form would re-run the scan+gate.
        .groupBy("fp")
        .agg(min(struct(col("doc_id"), col("lang"))).as("_m"))
        .select(col("_m.doc_id").as("doc_id"), col("_m.lang").as("lang"),
          col("fp"))
        .orderBy("doc_id")
    }),

    // S10 the ingest-time contamination QUARANTINE channel: incoming
    // docs (doc_id % 97 ≠ 0) that share any 5-token shingle hash with
    // the static eval corpus (doc_id % 97 = 0). Batch form below;
    // streaming form = Streams.s10 — the shingle explode is row-local,
    // the eval side is a STREAM-STATIC left-semi broadcast join
    // (supported shape: static on the right), and the per-doc distinct
    // is a watermarked dropDuplicatesWithinWatermark. The survivors'
    // path is the decontamination stage inside TrainingData.clean
    // (qc3); this query is the other half — the flagged ids a pipeline
    // quarantines for review.
    "s10_contamstream" -> ((s, d) => {
      val sh = (df: DataFrame) =>
        graft.operators.TrainingData.shingleHashes(df, 5)
      val docs = t(s, d, "documents")
      val ev = sh(docs.filter(col("doc_id") % 97 === 0)).select("h").distinct()
      sh(docs.filter(col("doc_id") % 97 =!= 0))
        .join(broadcast(ev), Seq("h"), "left_semi")
        .select("doc_id").distinct()
        .orderBy("doc_id")
    }),

    // S11 the streaming INGEST-DEDUP gate: which incoming docs
    // (doc_id % 10 = 7) does the corpus already hold, exactly or
    // nearly? Batch form = qd7's verdicts minus the 'new' rows; the
    // streaming form (Streams.s11) is the production shape: per-doc
    // MinHash signatures computed ROW-LOCALLY on the stream (array
    // HOFs over the token array — no aggregation state at all), a
    // stream-static join against the index's fingerprint set and band
    // relation, a row-local sorted-merge Jaccard verify, and a
    // watermarked per-doc dedup. Asserted set-equal to batch.
    "s11_ingestdedup" -> ((s, d) =>
      DedupExt.queries("qd7_incremental")(s, d)
        .filter(col("verdict") =!= "new")
        .select("doc_id")
        .orderBy("doc_id")),

    // S12 the streaming INDEX-UPSERT ingest (round 6): s11 gates a
    // stream against a STATIC index; production also MAINTAINS it —
    // batch N+1 must dedup against batch N's accepted docs. Batch form
    // below (the oracle semantics): batch A (doc_id % 10 = 3) gets
    // qd7 verdicts against the base index (% 10 ∉ {3, 7}); its
    // accepted ('new') docs JOIN the index; batch B (% 10 = 7) gets
    // verdicts against the GROWN index. The streaming form
    // (Streams.s12) is the production shape: a foreachBatch sink that
    // computes verdicts against the PERSISTED bucketed index tables
    // (DedupIndex) and appends each batch's accepted signatures +
    // fingerprints back into them — asserted row-equal to this batch
    // replay, including across a checkpointed restart.
    "s12_indexupsert" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val isA = col("doc_id") % 10 === 3
      val isB = col("doc_id") % 10 === 7
      val isIdx = !isA && !isB
      // one signature + fingerprint pass over the union corpus (the
      // per-doc relations are pure functions — computing them once and
      // filtering per side is the same relation the staged ingest sees)
      val per = graft.operators.OpCaches.track(DedupExt.bandSignatures(docs))
      val fps = graft.operators.OpCaches.track(
        docs.select(col("doc_id"), expr("roll_hash31(text)").as("fp")))
      // vA cached: its verdict pipeline (band join + verify + exact
      // semi-join) otherwise executes THREE times — once in the final
      // union and twice inside vB, whose grown index references accA
      // on both the fingerprint and the band side. The cached relation
      // is one narrow verdict row per batch-A doc.
      val vA = graft.operators.OpCaches.track(
        DedupExt.incrementalVerdicts(
          fps.filter(isA), fps.filter(isIdx).select("fp").distinct(),
          per.filter(isA), per.filter(isIdx)))
      val accA = vA.filter(col("verdict") === "new").select("doc_id")
      val vB = DedupExt.incrementalVerdicts(
        fps.filter(isB),
        fps.filter(isIdx).select("fp")
          .union(fps.join(accA, Seq("doc_id"), "left_semi").select("fp"))
          .distinct(),
        per.filter(isB),
        per.filter(isIdx)
          .unionByName(per.join(accA, Seq("doc_id"), "left_semi")))
      vA.withColumn("batch", lit(1L))
        .unionByName(vB.withColumn("batch", lit(2L)))
        .orderBy("doc_id")
    }),

    // S16 SNAPSHOT-TABLE STREAMING SINK — the lakehouse ingestion
    // terminal: each micro-batch lands as ONE atomic SnapTable commit
    // (operators/SnapTable), so downstream readers only ever see whole
    // batches — never a torn half-batch — and every historical batch
    // boundary stays time-travelable. Exactly-once is the batchId
    // guard: the commit records its micro-batch id in the manifest
    // metadata, and a replayed batch (crash between commit and
    // checkpoint write) is skipped because its id is not greater than
    // the last committed one (Streams.s16CommitBatch; SnapSinkSpec
    // pins the guard + a checkpointed restart). Batch form below =
    // the oracle semantics: two halves committed as two versions, the
    // final snapshot aggregated, with the VERSION COUNT emitted as
    // hash-checked data (the two-commit protocol is contract).
    "s16_snapsink" -> ((s, d) => {
      val dir = "target/graft-snapsink/" + d.replaceAll("[^A-Za-z0-9]", "_")
      graft.operators.SnapTable.destroy(s, dir)
      val e = t(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      graft.operators.SnapTable.commit(s, dir,
        e.filter(col("event_id") % 2 === 0),
        append = true, meta = Map("batchId" -> "0"))
      graft.operators.SnapTable.commit(s, dir,
        e.filter(col("event_id") % 2 === 1),
        append = true, meta = Map("batchId" -> "1"))
      val versions = graft.operators.SnapTable.latestVersion(s, dir).toLong
      graft.operators.SnapTable.read(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Conv.r4(Conv.sumDec6(col("value"))).as("sum_v"))
        .withColumn("versions", lit(versions))
        .orderBy("event_type")
    }),

    // S18 INCREMENTAL MV OFF THE COMMIT LOG — streaming materialized-
    // view maintenance made exactly-once BY CONSTRUCTION: the base is
    // the s16 snapshot sink (atomic batchId-guarded commits), and the
    // MV's delta feed is the MANIFEST DIFF between synced versions
    // (operators/SnapMv) — version v's new files are immutable forever,
    // so a crash-replayed sync re-derives the IDENTICAL delta and the
    // pointer swap is the only commit point. No fold can ever apply
    // twice, with no careful crash-window reasoning: every step is a
    // pure function of durable state. Batch form below = two commits +
    // two syncs, the summary read back with its (generation, synced
    // version) pinned as data; Streams.s18 is the streaming form,
    // spec-asserted equal across a checkpointed restart (MvStreamSpec).
    "s18_mvstream" -> ((s, d) => {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val tdir = "target/graft-mvstream-tbl/" + tag
      val mdir = "target/graft-mvstream-mv/" + tag
      graft.operators.SnapTable.destroy(s, tdir)
      graft.operators.SnapMv.destroy(s, mdir)
      val e = t(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val spec = graft.operators.SnapMv.MvSpec(
        groupCols = Seq("event_type"),
        sums = Seq(Conv.dec6(col("value"))),
        maxs = Seq(col("event_id")))
      graft.operators.SnapTable.commit(s, tdir,
        e.filter(col("event_id") % 2 === 0),
        append = true, meta = Map("batchId" -> "0"))
      graft.operators.SnapMv.sync(s, tdir, mdir, spec)
      graft.operators.SnapTable.commit(s, tdir,
        e.filter(col("event_id") % 2 === 1),
        append = true, meta = Map("batchId" -> "1"))
      val st = graft.operators.SnapMv.sync(s, tdir, mdir, spec)
      graft.operators.SnapMv.read(s, mdir)
        .select(col("event_type"), col("_cnt").as("n"),
          Conv.r4(col("_sum_0")).as("sum_v"), col("_max_0").as("max_id"),
          lit(st.generation.toLong).as("mv_gen"),
          lit(st.syncedVersion.toLong).as("synced"))
        .orderBy("event_type")
    }),

    // S19 STREAMING FUNNEL DETECTION — q66's conversion contract as a
    // flatMapGroupsWithState state machine (streaming/FunnelState):
    // the conversion event fires the MOMENT the completing purchase
    // arrives, instead of a batch job over the full log. State per
    // user = two optional timestamps + a flag; event-time timeout
    // evicts non-converting users, so the store is O(users in the
    // watermark horizon). Processing in event-time order makes the
    // incremental fold equal the global-minimum semantics (monotone
    // time ⇒ first-qualifying == minimum), so the batch form below is
    // the oracle gate and FunnelStreamSpec pins streamed == batch
    // across a checkpointed restart over a time-split feed.
    "s19_funnelstate" -> ((s, d) =>
      graft.streaming.FunnelState.conversionsBatch(
          graft.streaming.FunnelState.fromEvents(s, t(s, d, "events")))
        .toDF().orderBy("user_id")),

    // S20 streaming SCD2 apply (streaming/Scd2State): each arriving
    // change CLOSES the user's open version row the moment it is
    // superseded — the dimension-maintenance verb (q82 build / q84
    // merge) as incremental state instead of a nightly batch. Open
    // rows live in state only (they would retract when closed); the
    // stream publishes exactly the CLOSED rows, and validity bounds
    // are epoch MICROS so the fold's event-time order and this batch
    // window's (valid_from, event_id) order are one total order — no
    // same-second tie can diverge. This batch form is the oracle
    // gate; Scd2StreamSpec pins streamed == batch across a
    // checkpointed restart over a time-split feed.
    "s20_scd2stream" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("valid_from"), col("event_id"))
      t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("valid_from"),
          floor(col("value")).cast(LongType).as("attr"))
        .withColumn("version", row_number().over(w).cast(LongType))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .filter(col("valid_to").isNotNull)
        .select("user_id", "version", "attr", "valid_from", "valid_to")
        .orderBy("user_id", "version")
        .limit(2000)
    }),

    // S21 streaming z-score anomaly detection (streaming/AnomState):
    // flag an observation whose squared deviation from the user's
    // PRIOR running mean exceeds 9× the prior population variance
    // (|z| > 3, ≥ 8 observations of history). Scoring against the
    // PRIOR prefix makes the incremental fold equal this batch window
    // form — each verdict depends only on rows before it in the total
    // (ts, event_id) order. The test is exact integer algebra on the
    // integerized metric (x = floor(value·100)): with prior sums
    // (n, S, Q), (x−mean)² > 9·var ⟺ (n·x − S)² > 9·(n·Q − S²) —
    // no division, no sqrt, no float epsilon. State per user is three
    // longs; the batch form is ONE user-partitioned window pass with
    // an unbounded-preceding-to-1-preceding frame. This batch form is
    // the oracle gate; AnomStreamSpec pins streamed == typed fold ==
    // this window build across a checkpointed restart.
    "s21_anomstream" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("t"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val dev = col("n_prior") * col("x") - col("s_prior")
      t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t"),
          floor(coalesce(col("value"), lit(0.0)) * 100)
            .cast(LongType).as("x"))
        .withColumn("n_prior", count(lit(1)).over(w))
        .withColumn("s_prior", sum(col("x")).over(w))
        .withColumn("q_prior", sum(col("x") * col("x")).over(w))
        .filter(col("n_prior") >= 8 &&
          dev * dev > lit(9L)
            * (col("n_prior") * col("q_prior") - col("s_prior") * col("s_prior")))
        .select("user_id", "event_id", "x", "n_prior")
        .orderBy("user_id", "event_id")
    }),

    // S22 streaming M4 downsample — q89's in-flight twin: telemetry
    // downsampled AS IT ARRIVES into tumbling 6-hour windows, each
    // window carrying min/max/FIRST/LAST (first/last ride min/max of a
    // lexicographic (t, event_id, x) struct — a plain declarative
    // windowed aggregate, so the stream needs no custom state and the
    // partial-merge order can't change the result). This batch window
    // form is the oracle gate; Streams.s22 is the same aggregate over
    // readStream (StreamingSpec pins streamed == batch). Scale: one
    // watermarked windowed agg, state = one row per open (window,
    // series).
    "s22_m4stream" -> ((s, d) => {
      t(s, d, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_type"), col("ts"),
          unix_micros(col("ts")).as("t"), col("event_id"),
          col("value").as("x"))
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("vmin"), max(col("x")).as("vmax"),
          min(struct(col("t"), col("event_id"), col("x"))).as("f"),
          max(struct(col("t"), col("event_id"), col("x"))).as("l"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"),
          col("vmin"), col("vmax"),
          col("f.x").as("vfirst"), col("l.x").as("vlast"))
        .orderBy("event_type", "ws")
    }),

    // S24 STREAM ENRICHMENT AGAINST AN SCD2 DIMENSION — the temporal
    // lookup production pipelines run on every event: join the live
    // stream to the slowly-changing dimension AS OF the event's own
    // time (not the dimension's latest row). The dimension is q82's
    // window build over the first half-month's changes (closed rows +
    // the open row with NULL valid_to); each second-half event picks
    // the version with valid_from ≤ t < valid_to — intervals partition
    // time, so at most one row matches and the join is deterministic.
    // Stream-static LEFT joins are stateless in Structured Streaming
    // (the static side rebroadcasts per batch, no watermark needed);
    // pre-dimension events left-join to NULL (version -1 sentinel so
    // the column stays BIGINT). This batch form is the oracle gate;
    // Streams.s24 is the same join over readStream, StreamingSpec
    // pins streamed == batch.
    "s24_scdenrich" -> ((s, d) => {
      val splitUs = 1705363200000000L // 2024-01-16T00:00:00Z
      val w = Window.partitionBy("d_user")
        .orderBy(col("valid_from"), col("c_event"))
      val changes = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .filter(unix_micros(col("ts")) < splitUs)
        .select(col("user_id").as("d_user"), col("event_id").as("c_event"),
          unix_micros(col("ts")).as("valid_from"),
          floor(coalesce(col("value"), lit(0.0))).cast(LongType).as("attr"))
      val dim = changes
        .withColumn("version", row_number().over(w).cast(LongType))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .select("d_user", "version", "attr", "valid_from", "valid_to")
      val ev = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .filter(unix_micros(col("ts")) >= splitUs)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t"))
      ev.join(dim,
          ev("user_id") === dim("d_user")
            && dim("valid_from") <= col("t")
            && (dim("valid_to").isNull || col("t") < dim("valid_to")),
          "left")
        .select(col("event_id"), col("user_id"), col("t"),
          coalesce(col("version"), lit(-1L)).as("version"),
          col("attr"))
        .orderBy("event_id")
    }),

    // S23 streaming cardinality sketch — t3's in-flight twin: distinct
    // users per event type tracked continuously with a Datasketches
    // HLL aggregate (state = one bounded sketch per type, NEVER the
    // user set itself — the O(distinct) exact answer is the thing a
    // stream cannot hold at 100 TB). t1/t3's verdict-as-data
    // convention: each engine checks its own estimate against the
    // shared exact count, only (event_type, n_exact, within_5pct)
    // crosses the oracle gate. This batch form is the gate;
    // Streams.s23 is the same aggregate over readStream
    // (StreamingSpec pins streamed verdicts == batch).
    "s23_hllstream" -> ((s, d) => {
      val e = t(s, d, "events").filter(col("user_id").isNotNull)
      val exact = e.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_exact"))
      val approx = e.groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))")
          .as("na"))
      exact.join(approx, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("na") - col("n_exact")) * 20 <= col("n_exact"))
            .as("within_5pct"))
        .orderBy("event_type")
    }),

    // S17 the COMPOSED ingest pipeline — the three production verbs
    // this suite built separately, chained: per batch, (1) dedup
    // verdicts against the persisted corpus index (s12's kernel),
    // (2) index growth with the batch's accepted docs so batch N+1
    // dedups against batch N, (3) the accepted docs PUBLISHED as one
    // atomic snapshot commit (s16's sink) — consumers only ever see
    // whole deduplicated batches, and every publish is a
    // time-travelable version. Batch form below is the oracle gate
    // (s12's staged two-batch replay + the snapshot read-back);
    // Streams.s17 is the streaming form over the real persisted
    // index + checkpoint, spec-asserted equal across a restart.
    "s17_ingestpipeline" -> ((s, d) => {
      val dir = "target/graft-ingest/" + d.replaceAll("[^A-Za-z0-9]", "_")
      graft.operators.SnapTable.destroy(s, dir)
      val docs = t(s, d, "documents")
      val isA = col("doc_id") % 10 === 3
      val isB = col("doc_id") % 10 === 7
      val isIdx = !isA && !isB
      val per = graft.operators.OpCaches.track(DedupExt.bandSignatures(docs))
      val fps = graft.operators.OpCaches.track(
        docs.select(col("doc_id"), expr("roll_hash31(text)").as("fp")))
      // vA cached (s12's rationale): batch A's verdict pipeline
      // otherwise executes three times — commit A's semi-join plus both
      // grown-index references inside vB; the commit-A action populates
      // the cache
      val vA = graft.operators.OpCaches.track(
        DedupExt.incrementalVerdicts(
          fps.filter(isA), fps.filter(isIdx).select("fp").distinct(),
          per.filter(isA), per.filter(isIdx)))
      val accA = vA.filter(col("verdict") === "new").select("doc_id")
      graft.operators.SnapTable.commit(s, dir,
        docs.join(accA, Seq("doc_id"), "left_semi")
          .select("doc_id", "lang", "n_chars"),
        append = true, meta = Map("batchId" -> "0"))
      val vB = DedupExt.incrementalVerdicts(
        fps.filter(isB),
        fps.filter(isIdx).select("fp")
          .union(fps.join(accA, Seq("doc_id"), "left_semi").select("fp"))
          .distinct(),
        per.filter(isB),
        per.filter(isIdx)
          .unionByName(per.join(accA, Seq("doc_id"), "left_semi")))
      val accB = vB.filter(col("verdict") === "new").select("doc_id")
      graft.operators.SnapTable.commit(s, dir,
        docs.join(accB, Seq("doc_id"), "left_semi")
          .select("doc_id", "lang", "n_chars"),
        append = true, meta = Map("batchId" -> "1"))
      val versions = graft.operators.SnapTable.latestVersion(s, dir).toLong
      graft.operators.SnapTable.read(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"))
        .withColumn("versions", lit(versions))
        .orderBy("lang")
    }),

    // S06 the custom Sessionize physical operator (plans/Sessionize:
    // LogicalPlan + Strategy + single-exchange Exec) against the SAME
    // oracle SQL as S03 — the custom operator's output is hash-checked
    // against DuckDB, not just against the declarative Spark form.
    "s06_sessionize_op" -> ((s, d) =>
      graft.plans.Sessionize(
          t(s, d, "events").select(col("user_id"), col("ts")),
          key = "user_id", ts = "ts", gapSeconds = 1800L)
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")),

    // S05 interval join: each view joined to the same user's purchases
    // within the next 10 minutes (inclusive). The gap is exact integer
    // micros on both engines (a seconds cast would truncate in Spark and
    // round in DuckDB). Streaming form: Streams.s05 — a real
    // stream-stream inner join with watermarks + the time-bound
    // condition (the shape Spark requires for state cleanup).
    "s05_join" -> ((s, d) => {
      val e = t(s, d, "events")
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("v_id"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      v.join(p, Seq("user_id"))
        .where(col("p_ts") >= col("v_ts")
          && col("p_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"))
        .select(col("v_id"), col("p_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
        .orderBy("v_id", "p_id")
    }),

    // S13 LEFT-OUTER interval join — the attribution shape: EVERY view,
    // with each purchase it produced within 10 minutes, or a null row
    // if none. Batch form is the oracle gate; Streams.s13 runs the same
    // join as a watermarked stream-stream left-outer join, where the
    // null (unmatched) rows are the stateful part: they can only emit
    // once the watermark proves no matching purchase can still arrive,
    // so the streaming spec asserts equality on the watermark-closed
    // region and containment globally — the honest unbounded contract.
    // Scale: equi-key (user_id) drives the shuffle; the time-range
    // conjunct both prunes the join and (streaming) bounds the state.
    "s13_outerjoin" -> ((s, d) => {
      val e = t(s, d, "events")
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("v_id"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
      v.join(p, col("p_user") === col("user_id")
          && col("p_ts") >= col("v_ts")
          && col("p_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"), "left")
        .select(col("v_id"), col("p_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
        .orderBy("v_id", "p_id")
    }),

    // S14 NO-EQUI-KEY stream-stream interval join, bin-sharded — q42's
    // streaming form: every purchase against EVERY view window that
    // covers it, across all users. s05/s13 shard their join state on
    // user_id; with no key at all, Spark's stream-stream join would
    // funnel all state through one partition. The RangeJoin bin trick
    // carries over verbatim: views explode into their ≤2 width-10-min
    // time-bucket bins, purchases carry their single bin, the join gets
    // `v_bin = p_bin` as its equi key — state shards BY TIME BUCKET,
    // each micro-batch probes only its own buckets, and the watermark
    // evicts whole expired bins. Pair-unique (a purchase has one bin).
    // Batch form below is the oracle gate; Streams.s14 is the real
    // watermarked run, spec-pinned equal.
    "s14_nokeyjoin" -> ((s, d) => {
      val e = t(s, d, "events")
      val W = 600000000L
      val v = e.filter(col("event_type") === "view")
        .select(col("ts").as("v_ts"), col("event_id").as("v_id"))
        .withColumn("v_bin", explode(sequence(
          floor(unix_micros(col("v_ts")) / W).cast("long"),
          floor((unix_micros(col("v_ts")) + W) / W).cast("long"))))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("ts").as("p_ts"), col("event_id").as("p_id"),
          floor(unix_micros(col("ts")) / W).cast("long").as("p_bin"))
      v.join(p, col("p_bin") === col("v_bin")
          && col("p_ts") >= col("v_ts")
          && col("p_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"))
        .select(col("v_id"), col("p_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
        .orderBy("v_id", "p_id")
    }),

    // S34 FULL-OUTER stream-stream interval join (round 10 — the r9
    // verdict's item 8): s13's left-outer twin completed — views with
    // no purchase in their 10-minute window AND purchases no view
    // window covers both surface as null-extended rows, the shape an
    // attribution pipeline needs to audit BOTH unconverted impressions
    // and orphan conversions in one relation. Same watermark-closed-
    // region contract as s13, now on both sides: a null-extended row
    // emits only once the min-over-both-inputs watermark passes
    // strictly beyond the row's own match-window end (views: v_ts +
    // 10 min; purchases: p_ts itself — any view covering a purchase
    // has v_ts <= p_ts, so once the watermark passes p_ts no matching
    // view can still arrive). Batch form below is the oracle
    // gate; Streams.s34 is the watermarked run, StreamingSpec-pinned
    // on the closed region per side. Scale: state shards on user_id
    // like s13, eviction is per-side watermark-anchored.
    "s34_fullouter" -> ((s, d) => {
      val e = t(s, d, "events")
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("event_id").as("v_id"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
      v.join(p, col("p_user") === col("v_user")
          && col("p_ts") >= col("v_ts")
          && col("p_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"), "full")
        .select(col("v_id"), col("p_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
        .orderBy("v_id", "p_id")
    }),

    // S25 STREAMING DAILY QUOTA GATE — the rate-limit verb an ingest
    // pipeline runs in front of expensive downstream work: admit at
    // most 3 events per user per UTC day in event-time order, drop the
    // rest at the gate. Admission is PREFIX-DEPENDENT (a verdict needs
    // only the count of same-user-same-day predecessors in the total
    // (ts, event_id) order), so the streaming/QuotaState incremental
    // fold — state = TWO LONGS per active user — equals this batch
    // window build over a time-ordered feed (the s19/s20/s21
    // convention; QuotaStreamSpec pins streamed == typed fold ==
    // window build across a checkpointed restart). Scale: the batch
    // form is one (user, day)-partitioned row_number window —
    // partitions bounded by a user's daily event count, fully
    // parallel; the stream holds O(active users) state with
    // event-time-anchored eviction.
    "s25_quotagate" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "day")
        .orderBy(col("t"), col("event_id"))
      t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t"))
        .withColumn("day", Conv.floorDiv(col("t"), 86400000000L))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= graft.streaming.QuotaState.Cap)
        .select("user_id", "event_id", "day", "rk")
        .orderBy("user_id", "day", "rk")
    }),

    // S26 STREAMING CLAMPED BALANCE — q112's in-flight twin: the
    // current clamped balance per user, maintained as events arrive.
    // The published relation is the FINAL state per user (count, raw
    // sum, clamped balance at the last event) — what a balance store
    // would serve; per-event emissions are the stream's feed and
    // BalanceStreamSpec pins the full streamed feed == q112's window
    // build row-for-row (plus final-state equality with this query)
    // across a checkpointed restart. The batch form composes q112's
    // two-window identity with the keep-LAST aggregate (max of a
    // (t, event_id)-led struct — partial-aggregatable, no join-back).
    // Scale: stream state = TWO LONGS per active user
    // (streaming/BalanceState); batch = one user-partitioned window +
    // one partial agg.
    "s26_balancestream" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("t"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull
          && col("value").isNotNull
          && col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t"),
          when(col("event_type") === "click",
            expr("cast(floor(value * 100) as bigint)"))
            .otherwise(-expr("cast(floor(value * 100) as bigint)"))
            .as("x"))
        .withColumn("s", sum(col("x")).over(w))
        .withColumn("m", min(col("s")).over(w))
        .withColumn("balance", col("s") - least(lit(0L), col("m")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max(struct(col("t"), col("event_id"), col("s"),
            col("balance"))).as("last"))
        .select(col("user_id"), col("n_events"),
          col("last.s").as("final_s"),
          col("last.balance").as("balance"))
        .orderBy("user_id")
    }),

    // S32 STREAMING INTERVAL-UNION COVERAGE — q113's in-flight twin
    // (the s26/q112 pairing, one verb over): per-user "active time"
    // served LIVE as events arrive. The stream carries only the sweep
    // state itself — closed-run totals + the OPEN run's (start, max
    // end), five longs per user (streaming/CoverageState) — because a
    // time-ordered feed means an arriving interval either extends the
    // open run or closes it; no window identity needed. The published
    // relation adds what only a live store serves: the open run's
    // bounds ("active since X, covered until Y"), which q113's closed
    // aggregate never exposes. Batch form below = q113's two windows +
    // run aggregate, with the last run picked by a (run, rs, re)-led
    // struct max (partial-aggregatable, no join-back — the s26 keep-
    // last shape); CoverageStreamSpec pins the streamed per-event feed
    // == a declarative three-window live-coverage build row-for-row,
    // final states == this relation, across a checkpointed restart.
    "s32_coveragestream" -> ((s, d) => {
      val W = graft.streaming.CoverageState.W
      val wPrev = Window.partitionBy("user_id")
        .orderBy(col("st"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("user_id")
        .orderBy(col("st"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("st"))
        .withColumn("en", col("st") + W)
        .withColumn("pmax", max(col("en")).over(wPrev))
        .withColumn("newrun",
          when(col("pmax").isNull || col("st") > col("pmax"), 1L)
            .otherwise(0L))
        .withColumn("run", sum(col("newrun")).over(wRun))
        .groupBy("user_id", "run")
        .agg(min(col("st")).as("rs"), max(col("en")).as("re"),
          count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_runs"),
          sum(col("n")).as("n_events"),
          sum(col("re") - col("rs")).as("covered_us"),
          max(struct(col("run"), col("rs"), col("re"))).as("last"))
        .select(col("user_id"), col("n_runs"), col("n_events"),
          col("covered_us"),
          col("last.rs").as("open_rs"), col("last.re").as("open_re"))
        .orderBy("user_id")
    }),

    // S27 CHANGELOG-CONSUMING MV REFRESH — the retraction verb s18's
    // append-only MV refuses (and MvStreamSpec pins that refusal): a
    // replica summary maintained THROUGH copy-on-write UPDATE and
    // DELETE versions of the base SnapTable. The delta is still pure
    // manifest arithmetic — new files fold +, removed files fold − —
    // and COW rewrite overlap cancels exactly in the aggregate domain
    // (SnapMv.syncCdc's contract: COUNT + exact-typed SUMs; per-sum
    // non-null counters make NULL groups read exactly like a
    // recompute). The emitted (mv_gen, synced) = (4, 4) pins that four
    // versions folded INCREMENTALLY, one generation each, never a
    // rebuild; the oracle recomputes the final state from the raw
    // table, so "incremental fold ≡ recompute" is hash-checked data.
    // CdcMvSpec adds restart-equality (half the versions, a fresh
    // fold, the rest) and the sync/syncCdc cross-guards. Scale: each
    // refresh costs O(changed files + summary), never a base pass —
    // the Delta/Iceberg CDF-consumer shape.
    "s27_cdcmv" -> ((s, d) => {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val tdir = "target/graft-cdcmv-tbl/" + tag
      val mdir = "target/graft-cdcmv-mv/" + tag
      graft.operators.SnapTable.destroy(s, tdir)
      graft.operators.SnapMv.destroy(s, mdir)
      val e = t(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val spec = graft.operators.SnapMv.MvSpec(
        groupCols = Seq("event_type"), sums = Seq(Conv.dec6(col("value"))))
      graft.operators.SnapTable.commit(s, tdir,
        e.filter(col("event_id") % 2 === 0),
        append = true, meta = Map("batchId" -> "0"))
      graft.operators.SnapMv.syncCdc(s, tdir, mdir, spec)
      graft.operators.SnapTable.commit(s, tdir,
        e.filter(col("event_id") % 2 === 1),
        append = true, meta = Map("batchId" -> "1"))
      graft.operators.SnapTable.update(s, tdir,
        col("event_id") % 7 === 0,
        Map("value" -> (col("value") + lit(100.0d))))
      graft.operators.SnapTable.delete(s, tdir, col("event_id") % 5 === 0)
      val st = graft.operators.SnapMv.syncCdc(s, tdir, mdir, spec)
      graft.operators.SnapMv.readCdc(s, mdir, spec)
        .select(col("event_type"), col("_cnt").as("n"),
          Conv.r4(col("_sum_0")).as("sum_v"),
          lit(st.generation.toLong).as("mv_gen"),
          lit(st.syncedVersion.toLong).as("synced"))
        .orderBy("event_type")
    }),

    // S29 STREAMING WEIGHTED SAMPLE — qx13's priority sample maintained
    // AS DOCUMENTS ARRIVE: the bounded-state reservoir an ingest
    // pipeline keeps so "a size-biased sample of everything so far" is
    // always on hand without a corpus pass. State = the top-(k+1)
    // priorities, O(k) per partial buffer (q36's TopKAgg — typed
    // Aggregator, map-side partial top-k, one k-row merge), and because
    // priorities are the DETERMINISTIC fixed-point integers of qx13,
    // top-k membership is batching-order-independent — so the streamed
    // reservoir equals this batch form equals qx13, and all three share
    // ONE oracle (the qs7/qs9 shared-oracle convention).
    // SampleStreamSpec pins streamed == batch across a checkpointed
    // restart. doc_id zero-pads to 12 digits so the aggregate's string
    // tiebreak is numeric order.
    "s29_streamsample" -> ((s, d) => {
      import s.implicits._
      val pri = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars").as("w"),
          ((lit(1103515245L) * (col("doc_id") % 2147483648L) + 12345L)
            % 2147483648L + 1L).as("u"))
        .withColumn("priority", expr("(w * 2147483648) div u"))
      val kv = pri
        .select(lpad(col("doc_id").cast("string"), 12, "0").as("key"),
          col("priority").as("value"))
        .as[graft.functions.KV]
      val top = kv.groupByKey(_ => true)
        .agg(new graft.functions.TopKAgg(101).toColumn.name("top"))
        .flatMap { case (_, seq) =>
          seq.zipWithIndex.map { case (e, i) =>
            (e.key.toLong, e.value, (i + 1).toLong) }
        }
        .toDF("doc_id", "priority", "rn")
      val tau = top.filter(col("rn") === 101)
        .select(col("priority").as("tau"))
      val wtot = pri.agg(sum(col("w")).as("w_total"))
      top.filter(col("rn") <= 100)
        .join(pri.select(col("doc_id"), col("w")), Seq("doc_id"))
        .crossJoin(broadcast(tau)).crossJoin(broadcast(wtot))
        .select(col("doc_id"), col("w"), col("priority"), col("tau"),
          round(greatest(col("w").cast(DoubleType),
            col("tau").cast(DoubleType) / lit(2147483648.0)), 6)
            .cast(DoubleType).as("est"),
          col("w_total"))
        .orderBy("doc_id")
    }),

    // S30 STREAMING EWMA — q79's truncated exponentially-weighted
    // average as an in-flight per-user feature (streaming/EwmaState):
    // the THIRD state shape in the s-family — a BOUNDED RING of the
    // last 7 values, the carry any finite-window online feature
    // (rolling mean, bounded lag features) needs, next to the scalar
    // sums (s19/s21/s25/s26) and the open-row carry (s20). The batch
    // form IS q79's window build and shares its oracle verbatim;
    // EwmaStreamSpec pins the full streamed feed == the batch fold ==
    // the window build across a checkpointed restart, and
    // FoldSplitPropSpec pins any-split equality.
    "s30_ewmastream" -> ((s, d) =>
      graft.queries.Relational.queries("q79_ewma")(s, d)),

    // S31 STREAMING COUNT-MIN MAINTENANCE — t5's sketch maintained AS
    // DOCUMENTS ARRIVE (Streams.s31): each micro-batch builds its own
    // per-source 4×256 matrices (one partial-aggregatable pass over
    // the batch's tokens) and FOLDS them into a persisted sketch table
    // by elementwise addition — the CMS merge, commutative/associative,
    // so fold(batches) ≡ one global build for ANY batch split (the
    // property CmsSketchSpec pins; CmsStreamSpec asserts it across a
    // checkpointed restart through t5's identical estimator read
    // path). State is |sources| × 1024 longs — BOUNDED, never token
    // rows: the online heavy-hitter shape. Generations are keyed by
    // batchId, so a replayed batch overwrites its own generation
    // deterministically (idempotent, the s16 exactly-once convention).
    // The batch form IS t5 and shares its oracle verbatim.
    "s31_cmsstream" -> ((s, d) =>
      graft.queries.Llm.queries("t5_cms")(s, d)),

    // S33 STREAMING JOIN-CARDINALITY STATISTICS — q135's optimizer
    // statistics maintained AS ROWS ARRIVE (Streams.s33): each
    // micro-batch builds its own per-side CMS + count (one partial-
    // aggregatable pass) and folds them into the persisted stats table
    // by elementwise/scalar addition — both merges commutative/
    // associative, so fold(batches) ≡ the one-pass build for ANY batch
    // split (CardStreamSpec asserts it across a checkpointed restart
    // through q135's identical estimator read path). This is how a
    // 100 TB engine actually keeps planner statistics fresh: the
    // ingest stream updates two 8 KB sketches; the cost model reads
    // sketches, never data. Generations keyed by batchId (idempotent
    // replay, the s16/s31 convention). Batch form IS q135 and shares
    // its oracle verbatim.
    "s33_cardstream" -> ((s, d) =>
      graft.queries.Relational.queries("q135_joincard")(s, d)),

    // S35 STREAMING THETA-SKETCH MAINTENANCE (round 10) — t6's
    // bottom-k set-algebra sketches maintained AS ROWS ARRIVE
    // (Streams.s35): each micro-batch builds its own per-group
    // bottom-256 sketch in one partial-aggregatable pass and folds it
    // into the persisted sketch table by UNION-AND-TRIM — the KMV
    // merge, idempotent/commutative/associative (bottomK(bottomK(A) ∪
    // bottomK(B)) = bottomK(A ∪ B)), so fold(batches) ≡ the one-pass
    // build for ANY batch split — the property ThetaStreamSpec pins
    // through t6's identical pair-algebra read across a checkpointed
    // restart. State is |groups| × ≤256 longs, BOUNDED — the online
    // audience-overlap shape. Generations keyed by batchId
    // (idempotent crash replay, the s16/s31/s33 convention). The
    // batch form IS t6 and shares its oracle verbatim.
    "s35_thetastream" -> ((s, d) =>
      graft.queries.Llm.queries("t6_theta")(s, d)),

    // S36 STREAMING A/B MONITOR (round 10) — q144's Welch t-test
    // maintained AS EVENTS ARRIVE (Streams.s36): the six per-type test
    // sums are NOT batch-mergeable (Σv² is nonlinear in a user's
    // partial cent sums when one user spans micro-batches), so the
    // fold maintains the per-(type, user) raw CENT TOTALS — plain
    // additions, exactly mergeable for ANY batch split — and the t/df
    // read path (Relational.welchStats, the IDENTICAL expression trees
    // the batch form uses) derives the statistic from the latest
    // generation on demand. This is how a live experiment dashboard
    // actually works at scale: ingest updates one long per active
    // (metric, user); the test statistic is computed from the compact
    // state table, never from event history. State is O(types ×
    // users) longs; generations keyed by batchId (idempotent crash
    // replay, the s16/s31/s33 convention). WelchStreamSpec pins
    // streamed fold == batch build across a checkpointed restart with
    // users deliberately SPLIT across batches. The batch form IS q144
    // and shares its oracle verbatim.
    "s36_welchstream" -> ((s, d) =>
      graft.queries.Relational.queries("q144_welch")(s, d)),

    // S37 STREAMING K-ARM EXPERIMENT MONITOR (round 10) — q147's
    // one-way ANOVA maintained as events arrive, with ZERO new ingest
    // machinery: the s36 fold's per-(type, user) cent state is already
    // the sufficient relation for EVERY test in the family (arm
    // assignment and div-1000 binning are read-path decisions, so one
    // state table serves the 2-arm Welch AND the 4-arm omnibus — the
    // "one state, many statistics" shape a live experiment dashboard
    // actually runs; adding a monitor costs a read, not a second
    // stream). Streams.s37Result derives F through q147's IDENTICAL
    // anovaStats expression trees from the latest generation.
    // AnovaStreamSpec pins streamed == batch across the same
    // user-splitting checkpointed restart as s36. The batch form IS
    // q147 and shares its oracle verbatim.
    "s37_anovastream" -> ((s, d) =>
      graft.queries.Relational.queries("q147_anova")(s, d)),

    // S38 STREAMING FDR ANOMALY SCREEN (round 10) — q149's
    // Benjamini–Hochberg monitor maintained as events arrive
    // (Streams.s38): the state is per-(type, DAY) raw cent totals —
    // plain additive sums, exactly mergeable for any split of a day's
    // events across micro-batches — and the binning, the per-type
    // exceedance histogram, and the step-up are all READ-path
    // derivations through q149's IDENTICAL fdrScreen trees (the same
    // state-vs-statistic split as s36/s37: the nonlinear parts never
    // become state). This is the alerting shape at scale: ingest
    // touches one long per active (type, day) — state bounded by
    // TIME — and the screen reads the compact state table on demand,
    // re-ranking ALL m tests so every new day's evidence re-decides
    // the whole reject set (FDR is a GLOBAL property — a per-day
    // alert threshold could not give it). Generations keyed by
    // batchId (idempotent crash replay). FdrStreamSpec pins streamed
    // == batch across a checkpointed restart that splits days'
    // events across batches. The batch form IS q149 and shares its
    // oracle verbatim.
    "s38_fdrstream" -> ((s, d) =>
      graft.queries.Relational.queries("q149_bhfdr")(s, d)),

    // S39 STREAM-STREAM LEFT-SEMI INTERVAL JOIN (round 10) — the last
    // empty cell of the join-type matrix (s05 inner, s13 left-outer,
    // s34 full-outer, s14 no-key): "which views CONVERTED within 24
    // HOURS" as a pure membership question — the consumer wants the
    // qualifying views exactly once, never the per-purchase fan-out
    // (the inner join duplicates a view per matching purchase; a
    // downstream distinct would re-shuffle what the join type gives
    // for free). Spark's stream-stream left-semi keeps the same
    // user-sharded watermarked state as s05 but emits each left row
    // AT MOST ONCE on its first match, deduplicating in the join
    // state itself (the 24 h attribution window is where the fixture
    // genuinely fans out — at 10 min no view ever sees two purchases,
    // so the dedup semantics would be vacuous). Batch form (this
    // entry) is the oracle gate —
    // DuckDB's EXISTS; Streams.s39 runs it watermarked, and the
    // one-file AvailableNow replay equals the batch form exactly
    // (matched rows emit within the micro-batch both sides share —
    // s05's argument, spec-pinned).
    "s39_semijoin" -> ((s, d) => {
      val e = t(s, d, "events")
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"),
          col("event_id").as("v_id"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      v.join(p, col("p_user") === col("user_id")
          && col("p_ts") >= col("v_ts")
          && col("p_ts") <= col("v_ts") + expr("INTERVAL 24 HOURS"),
          "left_semi")
        .select(col("v_id"), col("user_id"), col("v_ts"))
        .orderBy("v_id")
    }),

    // S40 NATIVE V2 STREAMING SINK (round 13) — s16's contract with NO
    // foreachBatch: `df.writeStream.format("graft-snap")` is a native
    // StreamingWrite whose per-task writers land immutable parquet
    // files and whose per-epoch driver commit appends exactly the
    // files the tasks reported, with the exactly-once marker
    // (streamQuery/streamEpoch) riding the SAME atomic manifest rename
    // as the data — no commit-then-checkpoint crash window (the Delta
    // txn idiom; SnapSinkSpec pins the checkpointed-restart and
    // replayed-epoch cases). THIS RUNS THE REAL STREAM: events stage
    // to parquet, an AvailableNow query drains them through the sink,
    // and the committed table is read back through the connector —
    // every published value recomputes in the oracle from raw rows, so
    // the sink's end state is hash-checked exact; epoch0 pins that the
    // whole drain landed as epoch 0's single commit.
    "s40_snapsinkv2" -> ((s, d) => {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val dir = "target/graft-snapsinkv2/" + tag
      val inDir = "target/graft-snapsinkv2-in/" + tag
      val cp = "target/graft-snapsinkv2-cp/" + tag
      graft.operators.SnapTable.destroy(s, dir)
      graft.operators.SnapTable.destroy(s, inDir)
      graft.operators.SnapTable.destroy(s, cp)
      val e = t(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      e.coalesce(2).write.parquet(inDir)
      val q = s.readStream.schema(e.schema).parquet(inDir)
        .writeStream.format("graft-snap")
        .option("path", dir).option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val meta = graft.operators.SnapTable.meta(s, dir)
      require(meta.get("streamEpoch").contains("0"),
        s"s40: native sink epoch marker missing or wrong: $meta")
      s.read.format("graft-snap").load(dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          Conv.r4(Conv.sumDec6(col("value"))).as("sum_v"))
        .withColumn("epoch0", lit(true))
        .orderBy("event_type")
    })
  )

  private val oracleBase: Map[String, String] = Map(
    "s01_tumbling" ->
      "SELECT make_timestamp(CAST(floor(epoch(ts)/300) AS BIGINT)*300*1000000) AS ts_bucket, event_type, COUNT(*) AS n, CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))),4) AS DOUBLE) AS v FROM events GROUP BY ts_bucket, event_type ORDER BY ts_bucket, event_type",
    "s02_sliding" ->
      """SELECT make_timestamp((b - off)*1000000) AS w_start, event_type, COUNT(*) AS n,
        |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))),4) AS DOUBLE) AS v
        |FROM (SELECT CAST(floor(epoch(ts)/300) AS BIGINT)*300 AS b, event_type, value FROM events),
        |     (VALUES (CAST(0 AS BIGINT)),(CAST(300 AS BIGINT))) t(off)
        |GROUP BY w_start, event_type ORDER BY w_start, event_type""".stripMargin,
    "s03_sessions" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN LAG(epoch(ts)) OVER w IS NULL
        |                OR epoch(ts) - LAG(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, ts,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM x
        |)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events
        |FROM y GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin,
    "s04_dedup" ->
      "SELECT COUNT(DISTINCT event_id) AS n FROM events",
    "s07_fpdedup" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(DISTINCT list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(props, ''), ch -> CAST(unicode(ch) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007)) AS n_unique
        |FROM events""".stripMargin,
    "s08_chunkdedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |c AS (SELECT doc_id, tk,
        |        unnest(generate_series(CAST(0 AS BIGINT),
        |          (len(tk) + 47) // 48 - 1)) AS k
        |      FROM t),
        |ch AS (SELECT doc_id, k,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(array_to_string(list_slice(tk, k*48 + 1, k*48 + 64), ' '), ''),
        |      ch -> CAST(unicode(ch) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |  FROM c),
        |r AS (SELECT doc_id, k, fp,
        |        ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, k) AS rn
        |      FROM ch)
        |SELECT doc_id, k, fp FROM r WHERE rn = 1 ORDER BY doc_id, k""".stripMargin,
    "s11_ingestdedup" -> {
      val qd7 = DedupExt.oracle("qd7_incremental")
      s"""SELECT doc_id FROM ($qd7) WHERE verdict <> 'new' ORDER BY doc_id"""
    },

    // s40: the native V2 sink's end state from the raw table; epoch0
    // is the Spark side's in-query manifest-marker assertion
    "s40_snapsinkv2" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))),4) AS DOUBLE) AS sum_v,
        |  TRUE AS epoch0
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // s16: the sink's end state from the raw table; versions=2 pins
    // the two-commit protocol as data
    "s16_snapsink" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))),4) AS DOUBLE) AS sum_v,
        |  CAST(2 AS BIGINT) AS versions
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // s18: the MV's end state from the raw table; (mv_gen, synced)=2
    // pin the per-version fold protocol as data
    "s18_mvstream" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))),4) AS DOUBLE) AS sum_v,
        |  MAX(event_id) AS max_id,
        |  CAST(2 AS BIGINT) AS mv_gen, CAST(2 AS BIGINT) AS synced
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // s19: the q66 CTE chain restricted to completed funnels, all
    // three stage timestamps riding
    "s19_funnelstate" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, ts FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT ev.user_id, MIN(ts) AS t2 FROM ev
        |       JOIN s1 ON ev.user_id = s1.user_id
        |       WHERE event_type = 'click' AND ts > t1 GROUP BY ev.user_id),
        |s3 AS (SELECT ev.user_id, MIN(ts) AS t3 FROM ev
        |       JOIN s2 ON ev.user_id = s2.user_id
        |       WHERE event_type = 'purchase' AND ts > t2 GROUP BY ev.user_id)
        |SELECT s3.user_id, t1, t2, t3
        |FROM s3 JOIN s2 ON s3.user_id = s2.user_id
        |        JOIN s1 ON s3.user_id = s1.user_id
        |ORDER BY s3.user_id""".stripMargin,

    // s20: the q82 window build at MICROS resolution, closed rows only
    "s20_scd2stream" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS valid_from,
        |         CAST(FLOOR(value) AS BIGINT) AS attr
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |v AS (SELECT user_id, event_id, valid_from, attr,
        |        CAST(ROW_NUMBER() OVER win AS BIGINT) AS version,
        |        LEAD(valid_from, 1) OVER win AS valid_to
        |      FROM e
        |      WINDOW win AS (PARTITION BY user_id
        |                     ORDER BY valid_from, event_id))
        |SELECT user_id, version, attr, valid_from, valid_to
        |FROM v WHERE valid_to IS NOT NULL
        |ORDER BY user_id, version LIMIT 2000""".stripMargin,

    // s21: the prior-prefix z test replayed with cumulative window sums
    "s21_anomstream" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |         CAST(FLOOR(COALESCE(value, 0.0) * 100) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |m AS (SELECT user_id, event_id, x,
        |        COUNT(*) OVER win AS n_prior,
        |        COALESCE(SUM(x) OVER win, 0) AS s_prior,
        |        COALESCE(SUM(x * x) OVER win, 0) AS q_prior
        |      FROM e
        |      WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING
        |                              AND 1 PRECEDING))
        |SELECT user_id, event_id, x, CAST(n_prior AS BIGINT) AS n_prior
        |FROM m
        |WHERE n_prior >= 8
        |  AND (n_prior * x - s_prior) * (n_prior * x - s_prior)
        |      > 9 * (n_prior * q_prior - s_prior * s_prior)
        |ORDER BY user_id, event_id""".stripMargin,

    // s22: q89's M4 shape keyed by the tumbling window start
    "s22_m4stream" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS t, event_id, value AS x,
        |         make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS ws
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT event_type, ws, t, event_id, x,
        |        ROW_NUMBER() OVER (PARTITION BY event_type, ws
        |                           ORDER BY t, event_id) AS rf,
        |        ROW_NUMBER() OVER (PARTITION BY event_type, ws
        |                           ORDER BY t DESC, event_id DESC) AS rl
        |      FROM e)
        |SELECT ws, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       MIN(x) AS vmin, MAX(x) AS vmax,
        |       MAX(CASE WHEN rf = 1 THEN x END) AS vfirst,
        |       MAX(CASE WHEN rl = 1 THEN x END) AS vlast
        |FROM r GROUP BY event_type, ws
        |ORDER BY event_type, ws""".stripMargin,

    // s24: the as-of enrichment replayed — q82's window build over the
    // first half, interval containment join for the second
    "s24_scdenrich" ->
      """WITH c AS (
        |  SELECT user_id AS d_user, event_id AS c_event,
        |         epoch_us(ts) AS valid_from,
        |         CAST(FLOOR(COALESCE(value, 0.0)) AS BIGINT) AS attr
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND epoch_us(ts) < 1705363200000000),
        |dim AS (SELECT d_user,
        |          CAST(ROW_NUMBER() OVER win AS BIGINT) AS version, attr,
        |          valid_from, LEAD(valid_from, 1) OVER win AS valid_to
        |        FROM c
        |        WINDOW win AS (PARTITION BY d_user
        |                       ORDER BY valid_from, c_event)),
        |ev AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        |       WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |         AND epoch_us(ts) >= 1705363200000000)
        |SELECT event_id, user_id, t,
        |       COALESCE(version, -1) AS version, attr
        |FROM ev LEFT JOIN dim
        |  ON dim.d_user = ev.user_id AND dim.valid_from <= ev.t
        | AND (dim.valid_to IS NULL OR ev.t < dim.valid_to)
        |ORDER BY event_id""".stripMargin,

    // s23: exact distinct + each engine's own ±5% sketch verdict (t3)
    "s23_hllstream" ->
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_exact,
        |  ABS(approx_count_distinct(user_id) - COUNT(DISTINCT user_id)) * 20
        |    <= COUNT(DISTINCT user_id) AS within_5pct
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // s12: the two-batch staged ingest replayed in SQL — shared
    // fingerprint/banding CTEs, batch A's verdicts against the base
    // index, the accepted set joining the index, batch B's verdicts
    // against the grown index
    "s12_indexupsert" ->
      """WITH fps AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), ch -> CAST(unicode(ch) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |  FROM documents),
        |toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |th AS (SELECT DISTINCT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(tok, ''), ch -> CAST(unicode(ch) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
        |  FROM toks),
        |params AS (SELECT i, 1000003*i + 12345 AS a, 777767*i + 13 AS b
        |           FROM generate_series(0, 15) t(i)),
        |sig AS (SELECT doc_id, i, MIN((a*h + b) % 1000000007) AS mh FROM th, params GROUP BY 1, 2),
        |bands AS (SELECT doc_id, i // 4 AS band, string_agg(mh, ',' ORDER BY i) AS key
        |          FROM sig GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, COUNT(*) AS nt FROM th GROUP BY 1),
        |exA AS (SELECT DISTINCT f.doc_id FROM fps f
        |        JOIN (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 NOT IN (3, 7)) x USING (fp)
        |        WHERE f.doc_id % 10 = 3),
        |candA AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |          FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
        |          WHERE x.doc_id % 10 = 3 AND y.doc_id % 10 NOT IN (3, 7)),
        |intsA AS (SELECT c.a, c.b, COUNT(*) AS inter
        |          FROM candA c JOIN th ta ON ta.doc_id = c.a
        |                       JOIN th tb ON tb.doc_id = c.b AND tb.h = ta.h
        |          GROUP BY 1, 2),
        |nearA AS (SELECT DISTINCT i.a AS doc_id
        |          FROM intsA i JOIN sizes sa ON sa.doc_id = i.a
        |                       JOIN sizes sb ON sb.doc_id = i.b
        |          WHERE 10*i.inter >= 8*(sa.nt + sb.nt - i.inter)),
        |vA AS (SELECT f.doc_id,
        |         CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
        |              WHEN n.doc_id IS NOT NULL THEN 'near'
        |              ELSE 'new' END AS verdict
        |       FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 3) f
        |       LEFT JOIN exA e ON e.doc_id = f.doc_id
        |       LEFT JOIN nearA n ON n.doc_id = f.doc_id),
        |accA AS (SELECT doc_id FROM vA WHERE verdict = 'new'),
        |idxB AS (SELECT doc_id FROM documents WHERE doc_id % 10 NOT IN (3, 7)
        |         UNION ALL SELECT doc_id FROM accA),
        |exB AS (SELECT DISTINCT f.doc_id FROM fps f
        |        JOIN (SELECT DISTINCT fp FROM fps JOIN idxB USING (doc_id)) x USING (fp)
        |        WHERE f.doc_id % 10 = 7),
        |candB AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |          FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
        |          JOIN idxB ib ON ib.doc_id = y.doc_id
        |          WHERE x.doc_id % 10 = 7),
        |intsB AS (SELECT c.a, c.b, COUNT(*) AS inter
        |          FROM candB c JOIN th ta ON ta.doc_id = c.a
        |                       JOIN th tb ON tb.doc_id = c.b AND tb.h = ta.h
        |          GROUP BY 1, 2),
        |nearB AS (SELECT DISTINCT i.a AS doc_id
        |          FROM intsB i JOIN sizes sa ON sa.doc_id = i.a
        |                       JOIN sizes sb ON sb.doc_id = i.b
        |          WHERE 10*i.inter >= 8*(sa.nt + sb.nt - i.inter)),
        |vB AS (SELECT f.doc_id,
        |         CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
        |              WHEN n.doc_id IS NOT NULL THEN 'near'
        |              ELSE 'new' END AS verdict
        |       FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) f
        |       LEFT JOIN exB e ON e.doc_id = f.doc_id
        |       LEFT JOIN nearB n ON n.doc_id = f.doc_id)
        |SELECT doc_id, verdict, CAST(1 AS BIGINT) AS batch FROM vA
        |UNION ALL
        |SELECT doc_id, verdict, CAST(2 AS BIGINT) AS batch FROM vB
        |ORDER BY doc_id""".stripMargin,

    "s10_contamstream" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(tk) - 4, 0)),
        |    k -> array_to_string(tk[k:k+4], ' ')))) AS s
        |  FROM t),
        |h AS (SELECT doc_id,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(string_split(s, ''), ch -> CAST(unicode(ch) AS BIGINT))),
        |          (acc, x) -> (acc * 31 + x) % 1000000007) AS h
        |      FROM sh),
        |ev AS (SELECT DISTINCT h FROM h WHERE doc_id % 97 = 0)
        |SELECT DISTINCT t.doc_id
        |FROM h t JOIN ev USING (h)
        |WHERE t.doc_id % 97 <> 0
        |ORDER BY doc_id""".stripMargin,

    "s09_streamclean" ->
      """WITH scored AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_uniq,
        |    CAST(len(list_filter(string_split(text,' '),
        |         x -> x IN ('the','a','of','and'))) AS BIGINT) AS n_stop
        |  FROM documents
        |), q AS (
        |  SELECT doc_id, lang,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), ch -> CAST(unicode(ch) AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |  FROM scored
        |  WHERE n_tok >= 20 AND 10*n_uniq >= 3*n_tok AND 10*n_stop <= 3*n_tok
        |), r AS (
        |  SELECT doc_id, lang, fp,
        |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM q
        |)
        |SELECT doc_id, lang, fp FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "s06_sessionize_op" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN LAG(epoch(ts)) OVER w IS NULL
        |                OR epoch(ts) - LAG(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, ts,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM x
        |)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events
        |FROM y GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin,
    "s05_join" ->
      """SELECT v.event_id AS v_id, p.event_id AS p_id,
        |       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM events v JOIN events p
        |  ON p.user_id = v.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
        |ORDER BY v_id, p_id""".stripMargin,
    "s13_outerjoin" ->
      """SELECT v.event_id AS v_id, p.event_id AS p_id,
        |       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = v.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
        |ORDER BY v_id, p_id NULLS FIRST""".stripMargin,
    // the oracle is the PLAIN no-key interval join — the bins must be
    // invisible in the data
    "s14_nokeyjoin" ->
      """SELECT v.event_id AS v_id, p.event_id AS p_id,
        |       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
        |ORDER BY v_id, p_id""".stripMargin,

    // NULLS FIRST on BOTH keys: the full outer join nulls v_id for
    // orphan purchases and Spark ASC sorts nulls first
    "s34_fullouter" ->
      """SELECT v.event_id AS v_id, p.event_id AS p_id,
        |       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = v.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
        |ORDER BY v_id NULLS FIRST, p_id NULLS FIRST""".stripMargin,

    "s25_quotagate" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |         epoch_us(ts) // 86400000000 AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |r AS (SELECT user_id, event_id, day,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY user_id, day
        |          ORDER BY t, event_id) AS BIGINT) AS rk
        |      FROM e)
        |SELECT user_id, event_id, day, rk FROM r WHERE rk <= 3
        |ORDER BY user_id, day, rk""".stripMargin,

    "s26_balancestream" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |         CASE WHEN event_type = 'click'
        |              THEN CAST(FLOOR(value * 100) AS BIGINT)
        |              ELSE -CAST(FLOOR(value * 100) AS BIGINT) END AS x
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL AND event_type IN ('click', 'purchase')),
        |cs AS (SELECT user_id, event_id, t, x,
        |         SUM(x) OVER win AS s
        |       FROM e
        |       WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c AS (SELECT user_id, event_id, t, s,
        |        MIN(s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        |      FROM cs),
        |last AS (SELECT user_id, s, s - LEAST(0, m) AS balance,
        |           ROW_NUMBER() OVER (PARTITION BY user_id
        |             ORDER BY t DESC, event_id DESC) AS rn,
        |           COUNT(*) OVER (PARTITION BY user_id) AS n_events
        |         FROM c)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |       CAST(s AS BIGINT) AS final_s,
        |       CAST(balance AS BIGINT) AS balance
        |FROM last WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // s32: q113's sweep replayed + arg_max picks the open (last) run
    "s32_coveragestream" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS st,
        |         epoch_us(ts) + 600000000 AS en
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |m AS (SELECT user_id, event_id, st, en,
        |        MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |      FROM e),
        |r AS (SELECT user_id, event_id, st, en,
        |        CAST(SUM(CASE WHEN pmax IS NULL OR st > pmax
        |                 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY user_id ORDER BY st, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS run
        |      FROM m),
        |g AS (SELECT user_id, run, MIN(st) AS rs, MAX(en) AS re,
        |        CAST(COUNT(*) AS BIGINT) AS n
        |      FROM r GROUP BY 1, 2)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
        |       CAST(SUM(n) AS BIGINT) AS n_events,
        |       CAST(SUM(re - rs) AS BIGINT) AS covered_us,
        |       CAST(ARG_MAX(rs, run) AS BIGINT) AS open_rs,
        |       CAST(ARG_MAX(re, run) AS BIGINT) AS open_re
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    // s27: full recompute of the mutated table's final state — the
    // hash match proves the incremental retraction fold exact; the
    // (mv_gen, synced) = (4, 4) literals pin the per-version
    // incremental path as data
    "s27_cdcmv" ->
      """WITH base AS (
        |  SELECT event_type,
        |         CASE WHEN event_id % 7 = 0 THEN value + 100 ELSE value END
        |           AS value
        |  FROM events WHERE event_id % 5 <> 0)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
        |         AS sum_v,
        |       CAST(4 AS BIGINT) AS mv_gen, CAST(4 AS BIGINT) AS synced
        |FROM base GROUP BY event_type ORDER BY event_type""".stripMargin
  )

  val oracle: Map[String, String] = oracleBase +
    // s29: qx13's oracle VERBATIM — streamed reservoir ≡ batch top-k ≡
    // the one-pass sample is the contract, one oracle enforces it
    ("s29_streamsample" ->
      graft.queries.TextExt.oracle("qx13_prioritysample")) +
    // s30: q79's oracle verbatim — streamed ring fold ≡ the batch
    // window build is the contract
    ("s30_ewmastream" -> graft.queries.Relational.oracle("q79_ewma")) +
    // s31: t5's oracle verbatim — streamed elementwise-addition fold ≡
    // the batch sketch build is the contract
    ("s31_cmsstream" -> graft.queries.Llm.oracle("t5_cms")) +
    // s33: q135's oracle verbatim — streamed per-side sketch fold ≡
    // the batch sketch build is the contract
    ("s33_cardstream" -> graft.queries.Relational.oracle("q135_joincard")) +
    // s35: t6's oracle verbatim — streamed union-and-trim fold ≡ the
    // batch bottom-k build is the contract
    ("s35_thetastream" -> graft.queries.Llm.oracle("t6_theta")) +
    ("s36_welchstream" -> graft.queries.Relational.oracle("q144_welch")) +
    // s37: q147's oracle verbatim — the s36 cent fold read through the
    // anovaStats trees ≡ the batch build is the contract
    ("s37_anovastream" -> graft.queries.Relational.oracle("q147_anova")) +
    // s38: q149's oracle verbatim — streamed day-cent fold read
    // through the fdrScreen trees ≡ the batch build is the contract
    ("s38_fdrstream" -> graft.queries.Relational.oracle("q149_bhfdr")) +
    // s39: the semi join IS an EXISTS — each qualifying view once
    ("s39_semijoin" ->
      """SELECT v.event_id AS v_id, v.user_id, v.ts AS v_ts
        |FROM events v
        |WHERE v.event_type = 'view' AND EXISTS (
        |  SELECT 1 FROM events p
        |  WHERE p.event_type = 'purchase'
        |    AND p.user_id = v.user_id
        |    AND p.ts >= v.ts
        |    AND p.ts <= v.ts + INTERVAL 24 HOUR)
        |ORDER BY v_id""".stripMargin) +
    // s17: the composed pipeline's oracle reuses s12's two-batch
    // verdict replay verbatim as a CTE, keeps the accepted ('new')
    // docs — the published snapshot's exact membership — and
    // aggregates per language; versions=2 pins the two atomic
    // publishes as data
    ("s17_ingestpipeline" ->
      s"""WITH sv AS (${oracleBase("s12_indexupsert")})
         |SELECT d.lang, COUNT(*) AS n,
         |  CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
         |  CAST(2 AS BIGINT) AS versions
         |FROM sv JOIN documents d USING (doc_id)
         |WHERE sv.verdict = 'new'
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin)
}

/** Real Structured Streaming executions of the S-suite: file source over
  * the same events parquet, `Trigger.AvailableNow`, memory sink. Used by
  * the test suite to assert streaming == batch. Kept out of the oracle
  * `queries` map so the driver's Verify stays single-pass batch.
  */
object Streams {

  /** The file streaming source requires a directory; the sf dirs hold one
    * parquet FILE per table, so stage a symlink to it in a scratch dir
    * (at scale the source would already be a directory of files). */
  private def stage(dir: String, file: String): String = {
    val staged = java.nio.file.Files.createTempDirectory("graft-stream")
    // deleteOnExit runs in reverse registration order: dir first so the
    // (later-registered) symlink inside is removed before it
    staged.toFile.deleteOnExit()
    java.nio.file.Files.createSymbolicLink(
      staged.resolve(file), java.nio.file.Paths.get(s"$dir/$file"))
      .toFile.deleteOnExit()
    staged.toString
  }

  /** Streaming read of events.parquet (ts → timestamp, as Tables: adapt on
    * the footer schema — INT64-nanos fixtures need the lossless div-1000
    * narrowing; TIMESTAMP(MICROS)-no-tz fixtures read as NTZ and cast,
    * an identity on the stored micros under the pinned UTC session tz). */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType =
      Tables.parquet(spark, s"$dir/events.parquet").schema("ts").dataType
    val raw = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val s = spark.readStream.schema(raw).parquet(stage(dir, "events.parquet"))
    tsType match {
      case LongType         => s.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => s.withColumn("ts", col("ts").cast(TimestampType))
      case _                => s
    }
  }

  /** Run a streaming DataFrame to completion into a memory table. */
  def runToTable(spark: SparkSession, df: DataFrame, name: String,
                 mode: String = "append"): DataFrame = {
    val q = df.writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  /** S01 as streaming: watermark + tumbling window, append mode. */
  def s01(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEvents(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), Conv.r4(Conv.sumDec6(col("value"))).as("v"))
      .select(col("window.start").as("ts_bucket"), col("event_type"), col("n"), col("v"))
    runToTable(spark, agg, "s01_stream", "complete")
  }

  /** S22 as streaming: the M4 downsample as a tumbling windowed
    * aggregate (first/last via lexicographic struct min/max — no
    * custom state, merge-order independent). */
  def s22(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEvents(spark, dir)
      .filter(col("value").isNotNull)
      .withColumn("t", unix_micros(col("ts")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        min(struct(col("t"), col("event_id"), col("value").as("x"))).as("f"),
        max(struct(col("t"), col("event_id"), col("value").as("x"))).as("l"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("vmin"), col("vmax"),
        col("f.x").as("vfirst"), col("l.x").as("vlast"))
    runToTable(spark, agg, "s22_stream", "complete")
  }

  /** S24 as streaming: the as-of SCD2 enrichment with the dimension as
    * the STATIC side — a stateless stream-static left join (no
    * watermark; the dimension snapshot rebroadcasts per micro-batch). */
  def s24(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val splitUs = 1705363200000000L
    val w = Window.partitionBy("d_user")
      .orderBy(col("valid_from"), col("c_event"))
    val dim = graft.Tables(spark, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .filter(unix_micros(col("ts")) < splitUs)
      .select(col("user_id").as("d_user"), col("event_id").as("c_event"),
        unix_micros(col("ts")).as("valid_from"),
        floor(coalesce(col("value"), lit(0.0))).cast("long").as("attr"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .select("d_user", "version", "attr", "valid_from", "valid_to")
    val ev = readEvents(spark, dir)
      .filter(col("user_id").isNotNull)
      .withColumn("t", unix_micros(col("ts")))
      .filter(col("t") >= splitUs)
      .select(col("event_id"), col("user_id"), col("t"))
    val joined = ev.join(dim,
        ev("user_id") === dim("d_user")
          && dim("valid_from") <= col("t")
          && (dim("valid_to").isNull || col("t") < dim("valid_to")),
        "left")
      .select(col("event_id"), col("user_id"), col("t"),
        coalesce(col("version"), lit(-1L)).as("version"), col("attr"))
    runToTable(spark, joined, "s24_stream", "append")
  }

  /** S23 as streaming: continuous per-type distinct-user cardinality
    * via a Datasketches HLL aggregate — state is one bounded sketch
    * per type, never the user set. */
  def s23(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEvents(spark, dir)
      .filter(col("user_id").isNotNull)
      .withWatermark("ts", "1 hour")
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("na"))
    runToTable(spark, agg, "s23_stream", "complete")
  }

  /** S02 as streaming: sliding window(10 min, 5 min). */
  def s02(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEvents(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), Conv.r4(Conv.sumDec6(col("value"))).as("v"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("v"))
    runToTable(spark, agg, "s02_stream", "complete")
  }

  /** S03 as streaming: gap-based session_window per user. */
  def s03(spark: SparkSession, dir: String): DataFrame = {
    val agg = readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("session_end"),
        min(col("ts")).as("session_start"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
    runToTable(spark, agg, "s03_stream", "complete")
  }

  /** S04 as streaming: dropDuplicates on event_id with watermark. */
  def s04(spark: SparkSession, dir: String): DataFrame = {
    val dedup = readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    runToTable(spark, dedup, "s04_stream", "append")
  }

  /** S07 as streaming: content-fingerprint dedup — watermark +
    * `dropDuplicatesWithinWatermark` on the payload's rolling hash.
    * State really is bounded to one row per distinct fingerprint inside
    * the watermark horizon: the event-time watermark evicts fingerprint
    * state, so a duplicate arriving AFTER the horizon re-emits — that is
    * the contract of an ingest-time dedup gate on an unbounded stream.
    * (Plain `dropDuplicates("fp")` keeps state forever when the
    * watermark column is not part of the dedup key — output matches
    * global distinct, but state grows without bound.) The fixture
    * equality with batch COUNT(DISTINCT fp) holds because the single
    * parquet file replays as one micro-batch, so every duplicate meets
    * its first occurrence's state before any eviction. */
  def s07(spark: SparkSession, dir: String): DataFrame = {
    val dedup = readEvents(spark, dir)
      .withColumn("fp", expr("roll_hash31(props)"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fp")
    runToTable(spark, dedup, "s07_stream", "append")
  }

  /** S08 as streaming: chunk-level fingerprint dedup — the ingest-time
    * shape a training-data pipeline actually runs: stream documents in,
    * chunk each one (qt10's 64/48 windows — the chunk relation is pure
    * row-local column ops, so the batch definition runs unchanged on the
    * stream), fingerprint every chunk, and drop repeated chunks via
    * `dropDuplicatesWithinWatermark` (state = one row per distinct chunk
    * fingerprint inside the horizon; a duplicate after the horizon
    * re-emits — same bounded-state contract as s07). Documents carry no
    * event time, so a deterministic synthetic one (doc_id seconds)
    * stands in; the fixture equality with the batch s08 survivors holds
    * because the single parquet file replays as one micro-batch. */
  def s08(spark: SparkSession, dir: String): DataFrame = {
    // +1 day: doc_id 0 would otherwise land exactly ON the initial
    // watermark (epoch 0) and be discarded as late by the stateful op
    val dedup = TextExt.chunkRel(readDocuments(spark, dir))
      .withColumn("ts", timestamp_seconds(col("doc_id") + 86400L))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fp")
    runToTable(spark, dedup, "s08_stream", "append")
  }

  /** Streaming read of documents.parquet (shared by s08/s09). */
  private def readDocuments(spark: SparkSession, dir: String): DataFrame = {
    val raw = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.readStream.schema(raw)
      .parquet(stage(dir, "documents.parquet"))
  }

  /** S09 as streaming: the ingest-time cleaning gate — the row-local
    * quality filter runs unchanged on the stream (no state), then the
    * content-fingerprint dedup holds one state row per distinct fp
    * inside the watermark horizon (dropDuplicatesWithinWatermark, the
    * s07/s08 bounded-state contract). Event time is the deterministic
    * doc_id-seconds stand-in (+1 day: the epoch-0 watermark edge).
    * Fixture equality with the batch keep-min-doc_id survivor set holds
    * because the single parquet file replays as one micro-batch in
    * doc_id order. */
  def s09(spark: SparkSession, dir: String): DataFrame = {
    val gated = readDocuments(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        split(col("text"), " ").as("tk"))
      .filter(graft.operators.TrainingData.qualityPred(col("tk")))
      .select(col("doc_id"), col("lang"), expr("roll_hash31(text)").as("fp"),
        timestamp_seconds(col("doc_id") + 86400L).as("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fp")
    runToTable(spark, gated, "s09_stream", "append")
  }

  /** S10 as streaming: the contamination quarantine — incoming docs
    * stream in, each row explodes to its (row-local, distinct) 5-token
    * shingle hashes, a STREAM-STATIC left-semi join against the static
    * eval hash relation keeps only contaminated shingle rows (static
    * side broadcast — the benchmark premise), and a watermarked
    * `dropDuplicatesWithinWatermark(doc_id)` collapses them to one
    * quarantine row per doc. State = one row per flagged doc inside the
    * horizon; the static side holds no state at all. */
  def s10(spark: SparkSession, dir: String): DataFrame = {
    // static eval shingle set — a bounded BATCH relation; the shared
    // shingle definition (TrainingData.shingleHashes) works unchanged
    // on the streaming side: it is pure row-local column ops
    val ev = graft.operators.TrainingData.shingleHashes(
        Tables(spark, dir, "documents")
          .filter(col("doc_id") % 97 === 0), 5)
      .select("h").distinct()
    val flagged = graft.operators.TrainingData.shingleHashes(
        readDocuments(spark, dir).filter(col("doc_id") % 97 =!= 0), 5)
      .join(broadcast(ev), Seq("h"), "left_semi")
      .withColumn("ts", timestamp_seconds(col("doc_id") + 86400L))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
    runToTable(spark, flagged, "s10_stream", "append")
  }

  /** S11 as streaming: the production ingest-dedup gate. The incoming
    * doc stream computes its MinHash signatures ROW-LOCALLY (array HOFs
    * over the token array — the per-doc signature needs no aggregation,
    * so the stream holds zero signature state), then:
    *  - exact: stream-static left-semi join on the text fingerprint
    *    against the index's fingerprint set;
    *  - near: the 4 band rows explode statelessly, stream-static-join
    *    the index band relation on (band, key) at the first matching
    *    band, and the exact Jaccard verify is a row-local sorted-merge
    *    (native intersect_sorted_count) over the two fingerprint
    *    arrays riding the join;
    *  - the union of both flagged channels passes one watermarked
    *    `dropDuplicatesWithinWatermark(doc_id)` — total state: one row
    *    per flagged doc inside the horizon.
    * In production the static side is the PERSISTED bucketed band index
    * (IncrementalIndexSpec); here it is computed from the same batch
    * read so the fixture equality with qd7 is self-contained. */
  def s11(spark: SparkSession, dir: String): DataFrame = {
    val P = 1000000007L
    val idx = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 10 =!= 7)
    val idxFp = idx.select(expr("roll_hash31(text)").as("fp")).distinct()
    val idxBands = DedupExt.bandSignatures(idx)
      .withColumnRenamed("doc_id", "b_doc")
      .withColumnRenamed("hs", "b_hs")
      .withColumnRenamed("nt", "b_nt")
    val minCols = (0 until 16).map { j =>
      val a = 1000003L * j + 12345L
      val b = 777767L * j + 13L
      expr(s"array_min(transform(hs, h -> ($a * h + $b) % $P))").as(s"mh$j")
    }
    val inc = readDocuments(spark, dir)
      .filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"),
        expr("roll_hash31(text)").as("fp"),
        expr("sort_array(array_distinct(transform(split(text, ' '), t -> roll_hash31(t))))")
          .as("hs"),
        timestamp_seconds(col("doc_id") + 86400L).as("ts"))
      .select(col("doc_id") +: col("fp") +: col("hs") +: col("ts") +:
        size(col("hs")).cast(LongType).as("nt") +: minCols: _*)
      .select(col("doc_id") +: col("fp") +: col("hs") +: col("ts") +: col("nt") +:
        (0 until 4).map(b =>
          concat_ws(",", (0 until 4).map(r => col(s"mh${4 * b + r}")): _*)
            .as(s"k$b")): _*)
    val exact = inc.join(broadcast(idxFp), Seq("fp"), "left_semi")
      .select("doc_id", "ts")
    val firstMatch = (1 until 4).map(b =>
        col("band") < b || col(s"k${b - 1}") =!= col(s"bk${b - 1}"))
      .reduce(_ && _)
    val near = inc
      .select(col("doc_id") +: col("hs") +: col("ts") +: col("nt") +:
        (0 until 4).map(b => col(s"k$b")) :+
        posexplode(array((0 until 4).map(b => col(s"k$b")): _*))
          .as(Seq("band", "key")): _*)
      .join(idxBands
        .select(col("band"), col("key"), col("b_hs"), col("b_nt"),
          col("k0").as("bk0"), col("k1").as("bk1"),
          col("k2").as("bk2"), col("k3").as("bk3")),
        Seq("band", "key"))
      .filter(firstMatch)
      // 10·i ≥ 8·(nt+b_nt−i) ⟺ 18·i ≥ 8·(nt+b_nt): the kernel appears
      // ONCE in the predicate — merely projecting it first is undone by
      // predicate pushdown, which substitutes the alias back into the
      // filter and re-duplicates the O(doc-length) merge
      .filter(lit(18) * expr("intersect_sorted_count(hs, b_hs)")
        >= lit(8) * (col("nt") + col("b_nt")))
      .select("doc_id", "ts")
    val flagged = exact.union(near)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc_id")
    runToTable(spark, flagged, "s11_stream", "append")
  }

  /** S12 as streaming: the index-MAINTAINING ingest (round 6) — the
    * production shape behind the s12 batch replay. A foreachBatch sink
    * computes each micro-batch's qd7 verdicts against the PERSISTED
    * bucketed index tables (`DedupIndex` at `idxDir`), appends the
    * verdicts to `resultDir`, and UPSERTS the batch's accepted ('new')
    * docs back into the index — signatures into the bucketed band
    * table, fingerprints into the fp table — so the NEXT batch dedups
    * against everything accepted before it. The checkpoint makes the
    * ingest exactly-once across restarts: a re-run with the same
    * checkpoint skips already-processed files while the index tables
    * (external state, like any production store) carry the accepted
    * docs forward. Batch-side work per micro-batch: one signature pass
    * over the batch + bucketed-table probes — the corpus is never
    * rescanned. */
  def s12(spark: SparkSession, idxDir: String, inDir: String,
          checkpoint: String, resultDir: String): Unit = {
    val raw = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val stream = spark.readStream.schema(raw).parquet(inDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val idx = graft.operators.DedupIndex.load(spark, idxDir)
        val b = batch.cache()
        val incFp = b.select(col("doc_id"), expr("roll_hash31(text)").as("fp"))
        val incBands = DedupExt.bandSignatures(b)
        val v = DedupExt.incrementalVerdicts(incFp, idx.fp, incBands, idx.bands)
          .withColumn("batch", lit(batchId + 1)).cache()
        try {
          v.write.mode("append").parquet(resultDir)
          // accepted comes from the DURABLY WRITTEN verdicts, not the
          // live plan: the first index append refreshes the bands table,
          // which invalidates v's cache, and a recompute would verdict
          // the batch against an index that already contains it — every
          // doc re-reads as a dup of itself and the SECOND append would
          // silently write zero rows (round-7 find: the fp set never
          // grew; the disk-backed accepted set is immune)
          val accepted = spark.read.parquet(resultDir)
            .filter(col("batch") === batchId + 1 && col("verdict") === "new")
            .select("doc_id")
          // upsert: append-only into the bucketed tables (bucket spec
          // must match the written layout — part of the index contract)
          incBands.join(accepted, Seq("doc_id"), "left_semi")
            .write.mode("append")
            .bucketBy(graft.operators.DedupIndex.Buckets, "band", "key")
            .sortBy("band", "key").format("parquet")
            .saveAsTable(graft.operators.DedupIndex.bandsTable(idxDir))
          incFp.join(accepted, Seq("doc_id"), "left_semi")
            .select("fp").distinct()
            .write.mode("append")
            .bucketBy(graft.operators.DedupIndex.Buckets, "fp")
            .sortBy("fp").format("parquet")
            .saveAsTable(graft.operators.DedupIndex.fpTable(idxDir))
        } finally { v.unpersist(); b.unpersist(); () }
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** S16 per-batch commit with the exactly-once guard: commit iff this
    * micro-batch id is GREATER than the last committed one (recorded in
    * the manifest metadata). A foreachBatch re-delivery after a crash
    * between commit and checkpoint write re-presents the same id — the
    * guard skips it, so the table never holds a batch twice. Returns
    * whether a commit happened. */
  def s16CommitBatch(spark: SparkSession, tableDir: String,
                     batch: DataFrame, batchId: Long): Boolean = {
    val last = graft.operators.SnapTable.meta(spark, tableDir)
      .get("batchId").map(_.toLong).getOrElse(-1L)
    if (batchId <= last) false
    else {
      graft.operators.SnapTable.commit(spark, tableDir,
        batch.select("event_id", "event_type", "value"),
        append = true, meta = Map("batchId" -> batchId.toString))
      true
    }
  }

  /** S16 as streaming: the snapshot-table sink — one atomic SnapTable
    * commit per micro-batch, batchId-guarded for exactly-once, readable
    * mid-stream at every committed version. */
  def s16(spark: SparkSession, tableDir: String, inDir: String,
          checkpoint: String): Unit = {
    val raw = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val q = spark.readStream.schema(raw)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        s16CommitBatch(spark, tableDir, b, id); ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** S18 as streaming: incremental MV maintenance off the snapshot
    * table's commit log. Per micro-batch: the s16 atomic commit
    * (batchId-guarded), then `SnapMv.sync` folds every not-yet-synced
    * version's manifest-diff delta into the summary. Exactly-once
    * needs no extra guard — commit replays are skipped by the batchId,
    * and sync is a pure function of (table manifests, MV pointer), so
    * a crash anywhere re-derives the identical state. */
  def s18(spark: SparkSession, tableDir: String, mvDir: String,
          inDir: String, checkpoint: String,
          spec: graft.operators.SnapMv.MvSpec): Unit = {
    val raw = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val q = spark.readStream.schema(raw)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        s16CommitBatch(spark, tableDir, b, id)
        graft.operators.SnapMv.sync(spark, tableDir, mvDir, spec); ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** S17 as streaming: the COMPOSED ingest pipeline — s12's
    * index-maintaining dedup verbs chained into s16's atomic snapshot
    * publish. Per micro-batch: qd7 verdicts against the PERSISTED
    * bucketed index; the accepted docs PUBLISH as one atomic SnapTable
    * commit (batchId exactly-once guard), then the index grows from
    * the PUBLISHED immutable version. The ordering is load-bearing
    * twice over: (1) publishing from the pre-mutation verdicts avoids
    * the append→refreshTable→cache-invalidation trap where the commit
    * would recompute verdicts against an index that already contains
    * the batch (every doc re-verdicts 'exact', publishing nothing);
    * (2) the index append reads the published version — an immutable
    * manifest — so a crash-replay re-applies the IDENTICAL append,
    * gated by the `_indexed` marker (written after the appends): a
    * replay that finds the publish done but the marker behind re-runs
    * only the append, from the same immutable version. */
  def s17(spark: SparkSession, idxDir: String, tableDir: String,
          inDir: String, checkpoint: String): Unit = {
    val raw = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))

    def markerPath = new org.apache.hadoop.fs.Path(s"$tableDir/_indexed")
    def hfs = markerPath.getFileSystem(org.apache.spark.sql.GraftBridge.sessionHadoopConf(spark))
    def lastIndexed: Long =
      if (!hfs.exists(markerPath)) -1L
      else {
        val in = hfs.open(markerPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      }
    def writeMarker(id: Long): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(s"$tableDir/_indexed.tmp")
      val out = hfs.create(tmp, true)
      try out.write(id.toString.getBytes("UTF-8")) finally out.close()
      if (hfs.exists(markerPath)) hfs.delete(markerPath, false)
      hfs.rename(tmp, markerPath); ()
    }

    /** Grow the index with version `v`'s published docs (immutable →
      * replay re-derives the identical append). */
    def appendIndexFrom(b: DataFrame, version: Int, batchId: Long): Unit = {
      val published = graft.operators.SnapTable
        .read(spark, tableDir, version).select("doc_id")
      val incFp = b.select(col("doc_id"), expr("roll_hash31(text)").as("fp"))
      graft.queries.DedupExt.bandSignatures(b)
        .join(published, Seq("doc_id"), "left_semi")
        .write.mode("append")
        .bucketBy(graft.operators.DedupIndex.Buckets, "band", "key")
        .sortBy("band", "key").format("parquet")
        .saveAsTable(graft.operators.DedupIndex.bandsTable(idxDir))
      incFp.join(published, Seq("doc_id"), "left_semi")
        .select("fp").distinct()
        .write.mode("append")
        .bucketBy(graft.operators.DedupIndex.Buckets, "fp")
        .sortBy("fp").format("parquet")
        .saveAsTable(graft.operators.DedupIndex.fpTable(idxDir))
      writeMarker(batchId)
    }

    val q = spark.readStream.schema(raw).parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val lastPub = graft.operators.SnapTable.meta(spark, tableDir)
          .get("batchId").map(_.toLong).getOrElse(-1L)
        if (batchId > lastPub) {
          val idx = graft.operators.DedupIndex.load(spark, idxDir)
          val b = batch.cache()
          try {
            val incFp = b.select(col("doc_id"), expr("roll_hash31(text)").as("fp"))
            val v = DedupExt.incrementalVerdicts(
              incFp, idx.fp, DedupExt.bandSignatures(b), idx.bands)
            val accepted = v.filter(col("verdict") === "new").select("doc_id")
            val version = graft.operators.SnapTable.commit(spark, tableDir,
              b.join(accepted, Seq("doc_id"), "left_semi")
                .select("doc_id", "lang", "n_chars"),
              append = true, meta = Map("batchId" -> batchId.toString))
            appendIndexFrom(b, version, batchId)
          } finally { b.unpersist(); () }
        } else if (batchId > lastIndexed) {
          // crash window: published but index append incomplete — re-run
          // the append from the published version for THIS batch id
          val version = graft.operators.SnapTable.history(spark, tableDir)
            .filter(col("meta") === s"batchId=$batchId")
            .select("version").collect().headOption.map(_.getLong(0).toInt)
          version.foreach(v => appendIndexFrom(batch, v, batchId))
        }
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** S15 as streaming: the ANN-index-maintaining VECTOR ingest — s12's
    * twin over `DedupIndex`'s ANN tables (round 6). Per micro-batch: a
    * foreachBatch sink sketches the batch's embeddings (hyperplane
    * band rows + fixed-point quantized vectors — one pass over the
    * batch only), computes dup/new verdicts against the PERSISTED
    * bucketed ANN index (shared band + exact cosine ≥ 0.4, the
    * `DedupExt.annIngestVerdicts` kernel), appends the verdicts to
    * `resultDir`, and UPSERTS the accepted vectors back into the index
    * via `DedupIndex.upsertAnn` — so the next batch dedups against
    * everything accepted before it. Checkpointed exactly-once across
    * restarts; the index tables carry the growth as external state.
    * The corpus is never rescanned per batch. */
  def s15(spark: SparkSession, idxDir: String, inDir: String,
          checkpoint: String, resultDir: String): Unit = {
    val raw = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val stream = spark.readStream.schema(raw).parquet(inDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val idx = graft.operators.DedupIndex.loadAnn(spark, idxDir)
        val b = batch.cache()
        val incBands = DedupExt.annBandRelation(b).cache()
        val incVec = DedupExt.quantizedRelation(b)
        val v = DedupExt.annIngestVerdicts(incBands, incVec,
            idx.bands, idx.vec)
          .withColumn("batch", lit(batchId + 1)).cache()
        try {
          v.write.mode("append").parquet(resultDir)
          val accepted = v.filter(col("verdict") === "new").select("vec_id")
          graft.operators.DedupIndex.upsertAnn(
            b.join(accepted, Seq("vec_id"), "left_semi"), idxDir)
        } finally { v.unpersist(); incBands.unpersist(); b.unpersist(); () }
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** S05 as streaming: stream-stream inner join. Both sides carry
    * watermarks and the join condition bounds event time on both ends —
    * exactly what Structured Streaming requires to age out join state. */
  def s05(spark: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .withWatermark("ts", "30 minutes")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
    val p = readEvents(spark, dir).filter(col("event_type") === "purchase")
      .withWatermark("ts", "30 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val joined = v.join(p,
        expr("p_user = v_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 10 MINUTES"))
      .select(col("v_id"), col("p_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
    runToTable(spark, joined, "s05_stream", "append")
  }

  /** S13 as streaming: stream-stream LEFT-OUTER interval join. Matched
    * rows emit as they join; an UNMATCHED view emits its null row only
    * after the watermark passes the end of its match window (no
    * qualifying purchase can still arrive) — so the final no-data
    * micro-batch of the AvailableNow run flushes exactly the
    * watermark-closed region, and views inside the final horizon stay
    * in state, correctly unemitted. Also returns v_ts so the spec can
    * compute the horizon without re-deriving event times. */
  def s13(spark: SparkSession, dir: String): DataFrame = {
    val v = readEvents(spark, dir).filter(col("event_type") === "view")
      .withWatermark("ts", "30 minutes")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
    val p = readEvents(spark, dir).filter(col("event_type") === "purchase")
      .withWatermark("ts", "30 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val joined = v.join(p,
        expr("p_user = v_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 10 MINUTES"),
        "left_outer")
      .select(col("v_id"), col("v_ts"), col("p_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
    runToTable(spark, joined, "s13_stream", "append")
  }

  /** S39 as streaming: the LEFT-SEMI watermarked interval join — same
    * user-sharded state as s05, but each view emits AT MOST ONCE on
    * its first qualifying purchase; the join state deduplicates, so
    * no downstream distinct exchange exists. One-file AvailableNow
    * replay ⇒ both sides share the micro-batch ⇒ equality with the
    * batch semi join (s05's argument). */
  def s39(spark: SparkSession, dir: String): DataFrame = {
    val v = readEvents(spark, dir).filter(col("event_type") === "view")
      .withWatermark("ts", "30 minutes")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
    val p = readEvents(spark, dir).filter(col("event_type") === "purchase")
      .withWatermark("ts", "30 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val joined = v.join(p,
        expr("p_user = v_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 24 HOURS"),
        "left_semi")
      .select(col("v_id"), col("v_user").as("user_id"), col("v_ts"))
    runToTable(spark, joined, "s39_stream", "append")
  }

  /** S14 as streaming: the NO-equi-key interval join, state-sharded by
    * time-bucket bins. The view side's bin explode is a stateless
    * transform ahead of the join; `p_bin = v_bin` becomes the join's
    * equi key, so state partitions by time bucket (not one global
    * partition, not per-user), and watermark eviction drops whole
    * expired bins. Inner join ⇒ every matched pair emits within the
    * micro-batch where both sides are present — the one-file replay
    * equals the batch form exactly. */
  def s14(spark: SparkSession, dir: String): DataFrame = {
    val W = 600000000L
    val v = readEvents(spark, dir).filter(col("event_type") === "view")
      .withWatermark("ts", "30 minutes")
      .select(col("ts").as("v_ts"), col("event_id").as("v_id"))
      .withColumn("v_bin", explode(sequence(
        floor(unix_micros(col("v_ts")) / W).cast("long"),
        floor((unix_micros(col("v_ts")) + W) / W).cast("long"))))
    val p = readEvents(spark, dir).filter(col("event_type") === "purchase")
      .withWatermark("ts", "30 minutes")
      .select(col("ts").as("p_ts"), col("event_id").as("p_id"),
        floor(unix_micros(col("ts")) / W).cast("long").as("p_bin"))
    val joined = v.join(p,
        expr("p_bin = v_bin AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 10 MINUTES"))
      .select(col("v_id"), col("p_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
    runToTable(spark, joined, "s14_stream", "append")
  }

  /** S34 as streaming: the FULL-outer watermarked interval join.
    * Matched rows emit within their micro-batch; null-extended rows on
    * EITHER side emit only after the min-over-both-inputs watermark
    * strictly passes that row's match-window end (view: v_ts + 10 min;
    * purchase: p_ts — see the batch query's Scaladoc). Carries both
    * event-time columns so the spec can compute each side's closed
    * horizon from the sink table. */
  def s34(spark: SparkSession, dir: String): DataFrame = {
    val v = readEvents(spark, dir).filter(col("event_type") === "view")
      .withWatermark("ts", "30 minutes")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_id"))
    val p = readEvents(spark, dir).filter(col("event_type") === "purchase")
      .withWatermark("ts", "30 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val joined = v.join(p,
        expr("p_user = v_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 10 MINUTES"),
        "full_outer")
      .select(col("v_id"), col("v_ts"), col("p_id"), col("p_ts"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
    runToTable(spark, joined, "s34_stream", "append")
  }

  /** S31 as streaming: Count-Min maintenance. Each micro-batch builds
    * per-source 4×256 matrices from its own tokens and folds them into
    * the persisted sketch by elementwise zip_with addition (the CMS
    * merge). Generations are keyed by batchId: batch N reads gen=N
    * (absent for the first) and overwrites gen=N+1 — a crash-replayed
    * batch rewrites its own generation deterministically from the
    * still-intact predecessor, so the fold is idempotent without a
    * commit log. Bounded state: |sources| sketch rows, never tokens. */
  def s31(spark: SparkSession, inDir: String, sketchDir: String,
          checkpoint: String): Unit = {
    val raw = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val stream = spark.readStream.schema(raw)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val zeros = "array_repeat(CAST(0 AS BIGINT), 1024)"
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = graft.queries.Llm.cmsTokens(batch)
          .groupBy("source").agg(expr("cms4x256(h)").as("sk"))
        val prev = new java.io.File(s"$sketchDir/gen=$batchId")
        val merged =
          if (prev.exists) spark.read.parquet(prev.getPath)
            .select(col("source"), col("sk").as("a"))
            .join(bs.select(col("source"), col("sk").as("b")),
              Seq("source"), "full_outer")
            .select(col("source"),
              expr(s"zip_with(coalesce(a, $zeros), coalesce(b, $zeros)," +
                " (x, y) -> x + y)").as("sk"))
          else bs
        merged.write.mode("overwrite").parquet(s"$sketchDir/gen=${batchId + 1}")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** S33 as streaming: join-cardinality statistics maintenance. Each
    * micro-batch builds its per-side CMS + row count from its own
    * lineitem rows and folds both into the persisted stats table —
    * sketches by elementwise addition, counts by scalar addition (both
    * commutative/associative, so any batch split folds to the same
    * stats). Generations keyed by batchId: a crash-replayed batch
    * overwrites its own generation deterministically from the
    * still-intact predecessor (idempotent, the s16/s31 convention).
    * Bounded state: two (sketch, count) rows — never data rows. */
  def s33(spark: SparkSession, inDir: String, statsDir: String,
          checkpoint: String): Unit = {
    val raw = StructType(Seq(
      StructField("l_partkey", LongType),
      StructField("l_quantity", DoubleType)))
    val stream = spark.readStream.schema(raw)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val zeros = "array_repeat(CAST(0 AS BIGINT), 1024)"
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = graft.queries.Relational.cardSketches(batch)
        val prev = new java.io.File(s"$statsDir/gen=$batchId")
        val merged =
          if (prev.exists) spark.read.parquet(prev.getPath)
            .select(col("side"), col("sk").as("a"), col("n").as("na"))
            .join(bs.select(col("side"), col("sk").as("b"),
              col("n").as("nb")), Seq("side"), "full_outer")
            .select(col("side"),
              expr(s"zip_with(coalesce(a, $zeros), coalesce(b, $zeros)," +
                " (x, y) -> x + y)").as("sk"),
              (coalesce(col("na"), lit(0L))
                + coalesce(col("nb"), lit(0L))).as("n"))
          else bs
        merged.write.mode("overwrite").parquet(s"$statsDir/gen=${batchId + 1}")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** S35 as streaming: theta-sketch (bottom-k) maintenance. Each
    * micro-batch builds its own per-group bottom-256 sketch (one
    * partial-aggregatable pass over the batch's elements) and folds it
    * into the persisted sketch table by UNION-AND-TRIM — the KMV merge
    * (bottomK(bottomK(A) ∪ bottomK(B)) = bottomK(A ∪ B): idempotent,
    * commutative, associative, so fold(batches) ≡ the one-pass build
    * for ANY batch split). Generations keyed by batchId (idempotent
    * crash replay, the s16/s31/s33 convention). Bounded state:
    * |groups| × ≤256 longs, never element rows — the online
    * audience-overlap shape. */
  def s35(spark: SparkSession, inDir: String, sketchDir: String,
          checkpoint: String): Unit = {
    val raw = StructType(Seq(
      StructField("l_returnflag", StringType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType)))
    val stream = spark.readStream.schema(raw)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val empty = "CAST(array() AS ARRAY<BIGINT>)"
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = graft.queries.Llm.thetaElements(batch)
          .groupBy("src").agg(expr("bottom_k(h, 256)").as("bk"))
        val prev = new java.io.File(s"$sketchDir/gen=$batchId")
        val merged =
          if (prev.exists) spark.read.parquet(prev.getPath)
            .select(col("src"), col("bk").as("a"))
            .join(bs.select(col("src"), col("bk").as("b")),
              Seq("src"), "full_outer")
            .select(col("src"),
              expr(s"slice(array_sort(array_distinct(concat(" +
                s"coalesce(a, $empty), coalesce(b, $empty)))), 1, 256)")
                .as("bk"))
          else bs
        merged.write.mode("overwrite").parquet(s"$sketchDir/gen=${batchId + 1}")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** The streamed theta sketches read back through t6's IDENTICAL pair
    * algebra: latest generation's per-group sketch rows → union/
    * intersection/Jaccard estimates, exact audit recomputed against
    * the batch table at `dir`. */
  def s35Result(spark: SparkSession, dir: String,
                sketchDir: String): DataFrame = {
    val gens = Option(new java.io.File(sketchDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("gen="))
      .map(_.stripPrefix("gen=").toLong)
    require(gens.nonEmpty, s"no sketch generations under $sketchDir")
    val perSrc = spark.read.parquet(s"$sketchDir/gen=${gens.max}")
    graft.queries.Llm.thetaAlgebra(perSrc,
      graft.queries.Llm.thetaElements(Tables(spark, dir, "lineitem")
        .select(col("l_returnflag"), col("l_partkey"), col("l_suppkey"))))
  }

  /** The streamed stats read back through q135's IDENTICAL estimator:
    * latest generation's per-side rows → inner-product estimate, with
    * the exact audit recomputed against the batch table at `dir`. */
  def s33Result(spark: SparkSession, dir: String,
                statsDir: String): DataFrame = {
    val gens = Option(new java.io.File(statsDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("gen="))
      .map(_.stripPrefix("gen=").toLong)
    require(gens.nonEmpty, s"no stats generations under $statsDir")
    val perSide = spark.read.parquet(s"$statsDir/gen=${gens.max}")
    graft.queries.Relational.cardEstimate(perSide,
      Tables(spark, dir, "lineitem").select(col("l_partkey"),
        col("l_quantity")))
  }

  /** S36 as streaming: Welch A/B state maintenance. Each micro-batch
    * partial-aggregates its own per-(type, user) cent totals and folds
    * them into the persisted state table by plain addition over a
    * full-outer key join — exact for ANY split of a user's events
    * across batches (the six TEST sums are nonlinear in these
    * partials, which is exactly why the per-user cents are the state,
    * not the test sums). Generations keyed by batchId (idempotent
    * crash replay, the s16/s31/s33 convention). State is one long per
    * active (type, user), never event rows. */
  def s36(spark: SparkSession, inDir: String, sumsDir: String,
          checkpoint: String): Unit = {
    val raw = StructType(Seq(
      StructField("event_type", StringType),
      StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(raw)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = graft.queries.Relational.userCents(batch)
        val prev = new java.io.File(s"$sumsDir/gen=$batchId")
        val merged =
          if (prev.exists) spark.read.parquet(prev.getPath)
            .select(col("event_type"), col("user_id"),
              col("cents").as("a"))
            .join(bs.select(col("event_type"), col("user_id"),
              col("cents").as("b")),
              Seq("event_type", "user_id"), "full_outer")
            .select(col("event_type"), col("user_id"),
              (coalesce(col("a"), lit(0L))
                + coalesce(col("b"), lit(0L))).as("cents"))
          else bs
        merged.write.mode("overwrite").parquet(s"$sumsDir/gen=${batchId + 1}")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** S38 as streaming: the FDR screen's state maintenance. Identical
    * fold shape to s36 with the key (type, DAY) instead of (type,
    * user): per-(type, day) cent totals are plain additive sums, so
    * any split of a day's events across micro-batches folds exactly;
    * the div-1000 binning, the histogram, and the BH step-up are all
    * READ-path derivations (nonlinear in the partials — the same
    * argument that keeps s36's state at cents). Generations keyed by
    * batchId (idempotent crash replay). State is one long per active
    * (type, day) — bounded by TIME, not corpus size. */
  def s38(spark: SparkSession, inDir: String, sumsDir: String,
          checkpoint: String): Unit = {
    val raw = StructType(Seq(
      StructField("event_type", StringType),
      StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(raw)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = graft.queries.Relational.dayCents(batch)
        val prev = new java.io.File(s"$sumsDir/gen=$batchId")
        val merged =
          if (prev.exists) spark.read.parquet(prev.getPath)
            .select(col("event_type"), col("day"), col("cents").as("a"))
            .join(bs.select(col("event_type"), col("day"),
              col("cents").as("b")),
              Seq("event_type", "day"), "full_outer")
            .select(col("event_type"), col("day"),
              (coalesce(col("a"), lit(0L))
                + coalesce(col("b"), lit(0L))).as("cents"))
          else bs
        merged.write.mode("overwrite").parquet(s"$sumsDir/gen=${batchId + 1}")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
    q.awaitTermination()
  }

  /** S38's read path: the latest per-(type, day) cent generation
    * through q149's IDENTICAL fdrScreen trees (histogram rationals +
    * BH step-up). */
  def s38Result(spark: SparkSession, sumsDir: String): DataFrame = {
    val gens = Option(new java.io.File(sumsDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("gen="))
      .map(_.stripPrefix("gen=").toLong)
    require(gens.nonEmpty, s"no state generations under $sumsDir")
    graft.queries.Relational.fdrScreen(
      spark.read.parquet(s"$sumsDir/gen=${gens.max}"))
  }

  /** The streamed per-user cents read back through q144's IDENTICAL
    * t/df expression trees (Relational.welchStats): latest
    * generation's state table → the per-type test rows. */
  def s36Result(spark: SparkSession, sumsDir: String): DataFrame =
    graft.queries.Relational.welchStats(latestCents(spark, sumsDir))

  /** S37's read path: the SAME cent state read through q147's F
    * expression trees (Relational.anovaStats). One state table, many
    * statistics — the monitor adds a K-arm omnibus readout at ZERO
    * extra ingest cost because the s36 fold already maintains exactly
    * the sufficient relation (per-(type, user) cents; both the arm
    * assignment and the div-1000 binning are read-path decisions). */
  def s37Result(spark: SparkSession, sumsDir: String): DataFrame =
    graft.queries.Relational.anovaStats(latestCents(spark, sumsDir))

  private def latestCents(spark: SparkSession,
                          sumsDir: String): DataFrame = {
    val gens = Option(new java.io.File(sumsDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("gen="))
      .map(_.stripPrefix("gen=").toLong)
    require(gens.nonEmpty, s"no state generations under $sumsDir")
    spark.read.parquet(s"$sumsDir/gen=${gens.max}")
  }

  /** The streamed sketch read back through t5's IDENTICAL estimator:
    * latest generation's per-source rows → global sum → top-10 probes
    * against the batch corpus at `dir`. */
  def s31Result(spark: SparkSession, dir: String,
                sketchDir: String): DataFrame = {
    val gens = Option(new java.io.File(sketchDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("gen="))
      .map(_.stripPrefix("gen=").toLong)
    require(gens.nonEmpty, s"no sketch generations under $sketchDir")
    val perSrc = spark.read.parquet(s"$sketchDir/gen=${gens.max}")
    graft.queries.Llm.cmsEstimates(
      graft.queries.Llm.cmsTokens(Tables(spark, dir, "documents")), perSrc)
  }
}
