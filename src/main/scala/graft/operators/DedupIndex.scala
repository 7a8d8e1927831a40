package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED dedup/ANN corpus index — the index lifecycle qd7/qs3
  * claim, made real (round-6 verdict item #1).
  *
  * At 100 TB, recomputing MinHash signatures over the whole corpus per
  * ingest IS the dominant cost: the signatures are a pure function of
  * the corpus, so a production pipeline computes them ONCE, writes them
  * as bucketed parquet keyed by the band join keys, and every
  * subsequent ingest batch equi-joins its (small) incoming signature
  * relation against the stored table — the index never shuffles again
  * (its scan's bucketing satisfies the join's required distribution),
  * and a fresh session re-attaches to the same files with one DDL
  * statement, no metastore required.
  *
  * Two tables per index:
  *  - `bands`: one row per (doc, band) carrying the sorted token-
  *    fingerprint array (the dictionary-free verify payload), set size,
  *    all four band keys (first-matching-band emission needs no extra
  *    joins), and the exploded (band, key) — bucketed+sorted by
  *    (band, key), the probe join's exact equi keys.
  *  - `fp`: the distinct full-text fingerprint set — bucketed by fp for
  *    the exact-dup semi-join.
  *
  * Table names are derived from the on-disk location, so indexes for
  * different corpora coexist in one session's catalog.
  */
object DedupIndex {
  /** Fallback bucket count when neither the session conf nor an index's
    * on-disk metadata says otherwise (8 covers the test SFs). */
  val Buckets = 8

  /** The deployment knob: session conf `graft.index.buckets` sizes new
    * indexes so one bucket ≈ one task's working set at the target
    * scale. Explicit `buckets` arguments override the conf; attaching
    * to an EXISTING index always uses (and enforces) the bucket count
    * recorded in its on-disk metadata — bucketing is physical layout,
    * not a per-session preference. */
  val BucketsConf = "graft.index.buckets"

  /** Sentinel default for `buckets` params: resolve via conf/metadata. */
  val FromConf: Int = -1

  private def confBuckets(spark: SparkSession): Int =
    spark.conf.getOption(BucketsConf).map(_.toInt).getOrElse(Buckets)

  private def resolve(spark: SparkSession, buckets: Int): Int =
    if (buckets == FromConf) confBuckets(spark) else buckets

  // ---- on-disk identity -------------------------------------------------
  // One tiny `_graft_index_meta.json` per index dir records the bucket
  // count (and index kind) the files were written with. Attach paths
  // read it: a caller-supplied count that disagrees fails LOUDLY
  // instead of silently declaring a wrong CLUSTERED BY — Spark would
  // otherwise trust the DDL, route the probe join shuffle-free on the
  // wrong hash partitioning, and return wrong (not slow) answers.

  private def metaPath(dir: String) = new org.apache.hadoop.fs.Path(
    dir, "_graft_index_meta.json")

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(org.apache.spark.sql.GraftBridge.sessionHadoopConf(spark))

  private def writeMeta(spark: SparkSession, dir: String, kind: String,
                        buckets: Int): Unit = {
    val p = metaPath(dir)
    val out = fs(spark, p).create(p, true)
    try out.write(
      s"""{"kind":"$kind","buckets":$buckets,"version":1}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** The bucket count recorded at write time (None for indexes written
    * before metadata existed). */
  def recordedBuckets(spark: SparkSession, dir: String): Option[Int] = {
    val p = metaPath(dir)
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
      """"buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
    }
  }

  /** Attach-time resolution: the on-disk record WINS; an explicit
    * caller count that contradicts it throws. No record (legacy index)
    * → explicit arg, else the COMPILED legacy constant — never the
    * session conf: a pre-metadata index was physically written with
    * `Buckets`, and letting `graft.index.buckets` leak into the attach
    * would declare a wrong CLUSTERED BY and return silently wrong
    * shuffle-free probe joins (the exact hazard the metadata exists to
    * prevent). */
  private def attachBuckets(spark: SparkSession, dir: String,
                            buckets: Int): Int =
    recordedBuckets(spark, dir) match {
      case Some(rec) =>
        require(buckets == FromConf || buckets == rec,
          s"index at $dir was written with $rec buckets; " +
            s"attach requested $buckets — bucket count is part of the " +
            "on-disk identity (re-write or compact to change it)")
        rec
      case None => if (buckets == FromConf) Buckets else buckets
    }

  /** The two relations of a loaded index. */
  final case class Handles(bands: DataFrame, fp: DataFrame)

  private def suffix(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_")

  def bandsTable(dir: String): String = s"graft_idx_bands_${suffix(dir)}"
  def fpTable(dir: String): String = s"graft_idx_fp_${suffix(dir)}"

  /** Compute the corpus's band-signature + fingerprint relations and
    * persist both as bucketed external parquet tables under `dir`.
    * One signature pass over the corpus — the cost an ingest pipeline
    * pays once, not per batch. */
  def write(corpus: DataFrame, dir: String,
            buckets: Int = FromConf): Handles = {
    val spark = corpus.sparkSession
    val b = resolve(spark, buckets)
    val bands = graft.queries.DedupExt.bandSignatures(corpus)
    val fps = corpus.select(expr("roll_hash31(text)").as("fp")).distinct()
    spark.sql(s"DROP TABLE IF EXISTS ${bandsTable(dir)}")
    spark.sql(s"DROP TABLE IF EXISTS ${fpTable(dir)}")
    bands.write.mode("overwrite")
      .bucketBy(b, "band", "key").sortBy("band", "key")
      .option("path", s"$dir/bands").format("parquet")
      .saveAsTable(bandsTable(dir))
    fps.write.mode("overwrite")
      .bucketBy(b, "fp").sortBy("fp")
      .option("path", s"$dir/fp").format("parquet")
      .saveAsTable(fpTable(dir))
    writeMeta(spark, dir, "dedup", b)
    Handles(spark.table(bandsTable(dir)), spark.table(fpTable(dir)))
  }

  /** Attach a previously-written index to THIS session's catalog from
    * its on-disk location (the cross-session path: Spark's default
    * in-memory catalog does not survive the writing session, but the
    * bucketed files + this DDL reconstruct the exact same bucketed
    * table — bucket ids are recovered from the file names). The schema
    * is declared, not inferred: a bucketed table's layout is part of
    * the index CONTRACT. The bucket count comes from the on-disk
    * metadata; an explicit `buckets` that disagrees throws. */
  def load(spark: SparkSession, dir: String,
           buckets: Int = FromConf): Handles = {
    val b = attachBuckets(spark, dir, buckets)
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS ${bandsTable(dir)} (
         |  doc_id BIGINT, hs ARRAY<BIGINT>, nt BIGINT,
         |  k0 STRING, k1 STRING, k2 STRING, k3 STRING,
         |  band INT, key STRING)
         |USING PARQUET
         |CLUSTERED BY (band, key) SORTED BY (band, key)
         |INTO $b BUCKETS
         |LOCATION '$dir/bands'""".stripMargin)
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS ${fpTable(dir)} (fp BIGINT)
         |USING PARQUET
         |CLUSTERED BY (fp) SORTED BY (fp)
         |INTO $b BUCKETS
         |LOCATION '$dir/fp'""".stripMargin)
    // load means "the index AS ON DISK, now": upserts may have appended
    // fragments through a DIFFERENT session (a foreachBatch micro-batch
    // runs in a cloned SparkSession, whose saveAsTable refresh does not
    // reliably reach this session's relation cache) — an explicit
    // refresh re-lists the files, so a later batch always dedups
    // against everything accepted before it (round-7 find: without
    // this, the second streamed batch of the s17 pipeline read the
    // PRE-append listing and re-accepted a near-duplicate)
    spark.catalog.refreshTable(bandsTable(dir))
    spark.catalog.refreshTable(fpTable(dir))
    Handles(spark.table(bandsTable(dir)), spark.table(fpTable(dir)))
  }

  /** Drop the index's catalog entries (leaves the files on disk —
    * `load` re-attaches). Test/lifecycle helper. */
  def detach(spark: SparkSession, dir: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${bandsTable(dir)}")
    spark.sql(s"DROP TABLE IF EXISTS ${fpTable(dir)}")
  }

  /** The two relations of a loaded ANN (embedding) index. */
  final case class AnnHandles(bands: DataFrame, vec: DataFrame)

  def annBandsTable(dir: String): String = s"graft_idx_vbands_${suffix(dir)}"
  def annVecTable(dir: String): String = s"graft_idx_vec_${suffix(dir)}"

  /** Persist an embeddings table's ANN index: the hyperplane-LSH band
    * relation bucketed+sorted by the probe join's (k, key) equi keys,
    * and the fixed-point quantized vectors bucketed by vec_id for the
    * exact re-rank join. One sketch pass over the corpus — the cost an
    * ANN-serving deployment pays per corpus version, not per probe
    * batch; every later batch broadcasts its probes against the
    * bucketed scans and the corpus vectors never shuffle. */
  def writeAnn(emb: DataFrame, dir: String,
               buckets: Int = FromConf): AnnHandles = {
    val spark = emb.sparkSession
    val b = resolve(spark, buckets)
    val bands = graft.queries.DedupExt.annBandRelation(emb)
    val vecs = graft.queries.DedupExt.quantizedRelation(emb)
    spark.sql(s"DROP TABLE IF EXISTS ${annBandsTable(dir)}")
    spark.sql(s"DROP TABLE IF EXISTS ${annVecTable(dir)}")
    bands.write.mode("overwrite")
      .bucketBy(b, "k", "key").sortBy("k", "key")
      .option("path", s"$dir/vbands").format("parquet")
      .saveAsTable(annBandsTable(dir))
    vecs.write.mode("overwrite")
      .bucketBy(b, "vec_id").sortBy("vec_id")
      .option("path", s"$dir/vec").format("parquet")
      .saveAsTable(annVecTable(dir))
    writeMeta(spark, dir, "ann", b)
    AnnHandles(spark.table(annBandsTable(dir)), spark.table(annVecTable(dir)))
  }

  /** Re-attach a previously-written ANN index in a fresh session (same
    * declared-schema DDL contract as `load`). */
  def loadAnn(spark: SparkSession, dir: String,
              buckets: Int = FromConf): AnnHandles = {
    val b = attachBuckets(spark, dir, buckets)
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS ${annBandsTable(dir)} (
         |  vec_id BIGINT, n2 BIGINT, k INT, key BIGINT)
         |USING PARQUET
         |CLUSTERED BY (k, key) SORTED BY (k, key)
         |INTO $b BUCKETS
         |LOCATION '$dir/vbands'""".stripMargin)
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS ${annVecTable(dir)} (
         |  vec_id BIGINT, ei ARRAY<BIGINT>)
         |USING PARQUET
         |CLUSTERED BY (vec_id) SORTED BY (vec_id)
         |INTO $b BUCKETS
         |LOCATION '$dir/vec'""".stripMargin)
    AnnHandles(spark.table(annBandsTable(dir)), spark.table(annVecTable(dir)))
  }

  /** Drop the ANN index's catalog entries (files stay; `loadAnn`
    * re-attaches). */
  def detachAnn(spark: SparkSession, dir: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${annBandsTable(dir)}")
    spark.sql(s"DROP TABLE IF EXISTS ${annVecTable(dir)}")
  }

  /** UPSERT a batch of new embeddings into the persisted ANN index —
    * the ANN side of the s12 ingest verb: the batch pays one sketch +
    * quantization pass over ITSELF only, and appends per-bucket file
    * fragments into both tables (bucket spec must match the written
    * layout — part of the index contract). The grown index is
    * RELATION-IDENTICAL to a monolithic rebuild (the band/vector rows
    * are pure per-vector functions), so probe verdicts are bit-equal;
    * periodic `compactAnn` folds the accumulated fragments. The index
    * must be attached in this session (`writeAnn`/`loadAnn`). */
  def upsertAnn(emb: DataFrame, dir: String,
                buckets: Int = FromConf): Unit = {
    val b = attachBuckets(emb.sparkSession, dir, buckets)
    graft.queries.DedupExt.annBandRelation(emb)
      .write.mode("append")
      .bucketBy(b, "k", "key").sortBy("k", "key").format("parquet")
      .saveAsTable(annBandsTable(dir))
    graft.queries.DedupExt.quantizedRelation(emb)
      .write.mode("append")
      .bucketBy(b, "vec_id").sortBy("vec_id").format("parquet")
      .saveAsTable(annVecTable(dir))
  }

  /** Generational compaction of the ANN index — `compact`'s twin over
    * the (vbands, vec) pair: rewrite at `dstDir` with the same bucket
    * spec and one file per bucket; same atomic-swap-by-pointer
    * deployment pattern, probe plans unchanged. */
  def compactAnn(spark: SparkSession, srcDir: String, dstDir: String,
                 buckets: Int = FromConf): AnnHandles = {
    // same legacy-source rule as compact()
    val srcB = recordedBuckets(spark, srcDir)
      .getOrElse(resolve(spark, buckets))
    val src = loadAnn(spark, srcDir, srcB)
    val b = if (buckets == FromConf) srcB else buckets
    spark.sql(s"DROP TABLE IF EXISTS ${annBandsTable(dstDir)}")
    spark.sql(s"DROP TABLE IF EXISTS ${annVecTable(dstDir)}")
    oneFilePerBucket(src.bands, Seq("k", "key"), b)
      .write.mode("overwrite")
      .bucketBy(b, "k", "key").sortBy("k", "key")
      .option("path", s"$dstDir/vbands").format("parquet")
      .saveAsTable(annBandsTable(dstDir))
    oneFilePerBucket(src.vec, Seq("vec_id"), b)
      .write.mode("overwrite")
      .bucketBy(b, "vec_id").sortBy("vec_id")
      .option("path", s"$dstDir/vec").format("parquet")
      .saveAsTable(annVecTable(dstDir))
    writeMeta(spark, dstDir, "ann", b)
    AnnHandles(spark.table(annBandsTable(dstDir)),
      spark.table(annVecTable(dstDir)))
  }

  /** GENERATIONAL COMPACTION — the third verb of the index lifecycle
    * (write once / upsert per ingest / compact periodically). Every
    * foreachBatch upsert appends a fresh set of per-bucket files, so
    * after B batches a bucket's probe reads B fragments; compaction
    * rewrites the index as a NEW generation at `dstDir` with the same
    * bucket spec and ONE file per bucket (the `repartition` on the
    * bucket keys uses the same hash as the bucketing, so each task
    * holds exactly one bucket). The caller then points ingest at the
    * new generation and drops the old dir — the atomic-swap-by-pointer
    * pattern, never an in-place rewrite a concurrent probe could
    * half-read. Probe plans and verdicts are unchanged (same bucketed
    * layout); `fp` re-asserts set semantics with a distinct. */
  def compact(spark: SparkSession, srcDir: String, dstDir: String,
              buckets: Int = FromConf): Handles = {
    // source attach: the on-disk record wins when present; a LEGACY
    // (pre-metadata) source falls back to the caller's explicit count
    // — attaching it with the conf default would declare a wrong
    // CLUSTERED BY and poison every later probe join in the session.
    // The explicit count remains the DESTINATION's (re-bucketing verb).
    val srcB = recordedBuckets(spark, srcDir)
      .getOrElse(resolve(spark, buckets))
    val src = load(spark, srcDir, srcB)
    val b = if (buckets == FromConf) srcB else buckets
    spark.sql(s"DROP TABLE IF EXISTS ${bandsTable(dstDir)}")
    spark.sql(s"DROP TABLE IF EXISTS ${fpTable(dstDir)}")
    oneFilePerBucket(src.bands, Seq("band", "key"), b)
      .write.mode("overwrite")
      .bucketBy(b, "band", "key").sortBy("band", "key")
      .option("path", s"$dstDir/bands").format("parquet")
      .saveAsTable(bandsTable(dstDir))
    oneFilePerBucket(src.fp.select("fp").distinct(), Seq("fp"), b)
      .write.mode("overwrite")
      .bucketBy(b, "fp").sortBy("fp")
      .option("path", s"$dstDir/fp").format("parquet")
      .saveAsTable(fpTable(dstDir))
    writeMeta(spark, dstDir, "dedup", b)
    Handles(spark.table(bandsTable(dstDir)), spark.table(fpTable(dstDir)))
  }

  /** Shuffle on the PRECOMPUTED bucket id (hash() is the same
    * murmur3(seed 42) the bucketed writer assigns file suffixes with),
    * not on the raw bucket columns: a raw-key repartition can be
    * planner-elided against the bucketed scan's claimed partitioning,
    * leaving whichever task layout the fragmented scan had — this
    * exchange cannot be elided, and AQE coalescing only ever MERGES
    * partitions, so every bucket stays atomic in one task → exactly
    * one output file per bucket. */
  private def oneFilePerBucket(df: DataFrame, keys: Seq[String],
                               buckets: Int): DataFrame =
    df.withColumn("_gbucket",
        pmod(hash(keys.map(col): _*), lit(buckets)))
      .repartition(buckets, col("_gbucket"))
      .drop("_gbucket")
}
