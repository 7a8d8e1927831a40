package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized view maintained FROM A SNAPSHOT TABLE'S
  * COMMIT LOG — the composition that makes streaming MV maintenance
  * exactly-once BY CONSTRUCTION instead of by careful crash-window
  * reasoning:
  *
  *   - the base table is a [[SnapTable]]: every micro-batch lands as
  *     one atomic, batchId-guarded commit (s16's kernel), so the set
  *     of rows in any version is immutable and replay-safe;
  *   - the MV's delta feed is the MANIFEST DIFF between the last
  *     synced version and the current one — version v's new files are
  *     exactly `files(v) \ files(v-1)`, immutable forever, so a
  *     crash-replayed `sync()` re-derives the IDENTICAL delta;
  *   - MV state is a generation directory plus a `_latest` pointer
  *     ("generation syncedVersion") swapped by write-temp +
  *     atomic-rename. A crash mid-generation-write leaves an orphan
  *     directory and an unmoved pointer; the next sync rebuilds the
  *     same generation from the same immutable delta. There is no
  *     crash window in which a delta can be folded twice.
  *
  * The fold itself is [[graft.plans.MatViewRewrite]]'s partial-merge
  * semantics: per group, COUNT partials add, SUM partials add, MIN/MAX
  * partials fold — O(delta + summary) work per sync, never a base-table
  * pass. Append-only commits only (an overwrite/delete version changes
  * existing membership; `sync` detects removed files and refuses —
  * retractable aggregates are declared out of scope, same as refresh —
  * unless the caller opts into `fullRefreshOnRewrite`, which rebuilds
  * the summary from that version's full snapshot and resumes
  * incrementally; `syncCdc` below is the retraction-capable variant).
  *
  * At 100 TB this is the Delta/Iceberg "incremental view maintenance
  * off the table log" shape: the dashboard reads a KB-scale summary
  * that is exactly as fresh as the last published version, and
  * maintenance cost scales with ingest, not table size.
  */
object SnapMv {

  final case class State(generation: Int, syncedVersion: Int)

  /** Measure columns in the summary: `_cnt` plus `_sum_i`/`_min_i`/
    * `_max_i` in declaration order. */
  final case class MvSpec(groupCols: Seq[String], sums: Seq[Column] = Nil,
                          mins: Seq[Column] = Nil, maxs: Seq[Column] = Nil)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(org.apache.spark.sql.GraftBridge.sessionHadoopConf(spark))

  private def pointer(dir: String) = new Path(s"$dir/_latest")

  def state(spark: SparkSession, mvDir: String): State = {
    val f = fs(spark, mvDir)
    if (!f.exists(pointer(mvDir))) State(0, 0)
    else {
      val in = f.open(pointer(mvDir))
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      val Array(g, v) = s.split(" ")
      State(g.toInt, v.toInt)
    }
  }

  private def swapPointer(f: FileSystem, mvDir: String, st: State): Unit = {
    val p = pointer(mvDir)
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = f.create(tmp, true)
    try out.write(s"${st.generation} ${st.syncedVersion}".getBytes("UTF-8"))
    finally out.close()
    if (f.exists(p)) f.delete(p, false)
    if (!f.rename(tmp, p))
      throw new java.io.IOException(s"rename $tmp -> $p failed")
  }

  private def partialAgg(df: DataFrame, spec: MvSpec): DataFrame = {
    val aggCols =
      Seq(count(lit(1)).as("_cnt")) ++
        spec.sums.zipWithIndex.map { case (c, i) => sum(c).as(s"_sum_$i") } ++
        spec.mins.zipWithIndex.map { case (c, i) => min(c).as(s"_min_$i") } ++
        spec.maxs.zipWithIndex.map { case (c, i) => max(c).as(s"_max_$i") }
    df.groupBy(spec.groupCols.map(df(_)): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  /** Current summary relation (empty-schema error if never synced). */
  def read(spark: SparkSession, mvDir: String): DataFrame = {
    val st = state(spark, mvDir)
    require(st.generation > 0, s"MV at $mvDir has never synced")
    spark.read.parquet(s"$mvDir/gen-${st.generation}")
  }

  /** Fold every not-yet-synced committed version of `tableDir` into the
    * summary, one generation per version. Idempotent: driven entirely
    * by durable state (table manifests + the MV pointer), so replays,
    * retries, and crash re-runs converge to the same summary. Returns
    * the resulting state.
    *
    * A version that REMOVED files (DML rewrite, compaction, overwrite)
    * refuses by default — retractable aggregates are out of scope for
    * the incremental fold. `fullRefreshOnRewrite = true` is the opt-in
    * recovery: such a version rebuilds the summary from the version's
    * FULL snapshot (one base-table pass — the declared cost) and
    * incremental folding resumes from there, so a compaction/GC commit
    * can never strand the MV permanently. */
  def sync(spark: SparkSession, tableDir: String, mvDir: String,
           spec: MvSpec, fullRefreshOnRewrite: Boolean = false): State = {
    val f = fs(spark, mvDir)
    var st = state(spark, mvDir)
    require(!f.exists(cdcMarker(mvDir)),
      s"MV at $mvDir is a CDC summary — continue it with syncCdc " +
        "(different summary schema)")
    val latest = SnapTable.latestVersion(spark, tableDir)
    while (st.syncedVersion < latest) {
      val v = st.syncedVersion + 1
      val prev: Set[String] =
        if (v == 1) Set.empty
        else SnapTable.files(spark, tableDir, v - 1).toSet
      val curPlan = SnapTable.plan(spark, tableDir, v)
      val cur = curPlan.files.map(_.rel)
      val removed = prev -- cur.toSet
      if (removed.nonEmpty && fullRefreshOnRewrite) {
        // rewrite version: fold from scratch over the full snapshot —
        // identical to a never-synced MV's first fold of this version,
        // and crash-safe the same way (generation write + pointer swap
        // over the immutable manifest)
        val gen = st.generation + 1
        partialAgg(SnapTable.read(spark, tableDir, v), spec)
          .write.mode("overwrite").parquet(s"$mvDir/gen-$gen")
        st = State(gen, v)
        swapPointer(f, mvDir, st)
      } else {
      require(removed.isEmpty,
        s"version $v removed ${removed.size} file(s) — SnapMv folds " +
          "append-only commits (retractions are out of scope; pass " +
          "fullRefreshOnRewrite = true to rebuild over such a version)")
      // the delta reads under the version's recorded schema: no footer job
      val delta = curPlan.files.filterNot(e => prev(e.rel))
      val deltaAgg =
        if (delta.isEmpty) None
        else Some(partialAgg(SnapTable.readFiles(spark, curPlan, delta), spec))
      val next = (st.generation, deltaAgg) match {
        case (0, None) =>
          // an empty first commit: an empty summary with the right schema
          partialAgg(SnapTable.read(spark, tableDir, v).limit(0), spec)
        case (0, Some(da)) => da
        case (g, None)     => spark.read.parquet(s"$mvDir/gen-$g")
        case (g, Some(da)) =>
          // every generation is written by this fold over the same spec,
          // so the delta's schema is the summary's: no footer job
          val prevSum = spark.read.schema(da.schema).parquet(s"$mvDir/gen-$g")
          val merged = prevSum.unionByName(da)
          val folded = merged.groupBy(spec.groupCols.map(merged(_)): _*)
            .agg(
              sum(col("_cnt")).cast("long").as("_cnt"),
              (spec.sums.indices.map { i =>
                val c = s"_sum_$i"
                sum(col(c)).cast(prevSum.schema(c).dataType).as(c)
              } ++ spec.mins.indices.map { i =>
                val c = s"_min_$i"; min(col(c)).as(c)
              } ++ spec.maxs.indices.map { i =>
                val c = s"_max_$i"; max(col(c)).as(c)
              }): _*)
          folded
      }
      val gen = st.generation + 1
      next.write.mode("overwrite").parquet(s"$mvDir/gen-$gen")
      st = State(gen, v)
      swapPointer(f, mvDir, st)
      }
    }
    st
  }

  /** Drop the MV (test/fixture hygiene). */
  def destroy(spark: SparkSession, mvDir: String): Unit = {
    val f = fs(spark, mvDir)
    f.delete(new Path(mvDir), true)
  }

  // ───────────────────────── CDC-consuming sync ─────────────────────────
  //
  // `sync` above refuses any version that removed files (append-only
  // contract). `syncCdc` is the changelog-consuming refresh (verdict-r8
  // item 9): UPDATE/DELETE/OVERWRITE versions fold in as RETRACTIONS.
  //
  // The delta for version v is still pure manifest arithmetic — rows of
  // `files(v) \ files(v-1)` enter with sign +1, rows of
  // `files(v-1) \ files(v)` with sign −1. A copy-on-write rewrite
  // (q72/q64: file F replaced by F′ = F minus deleted plus updated rows)
  // needs NO row-level reconciliation: every row F and F′ share
  // contributes +x and −x to the same group and cancels EXACTLY in the
  // aggregate domain, which is also why the measures are restricted to
  // COUNT and EXACT-typed SUMs (decimal/integral — IEEE doubles don't
  // cancel associatively; MIN/MAX are not retractable at all and stay
  // with the append-only `sync` or a rebuild, the standard IVM
  // restriction). NULL-measure exactness: each sum carries a non-null
  // counter `_nn_i`, and the published `_sum_i` is NULL iff `_nn_i` = 0
  // — so a group whose surviving rows are all NULL reads NULL, exactly
  // like a full recompute (a bare running sum could not distinguish
  // "all NULL" from "sums to 0").
  //
  // Crash-safety is unchanged: generation write + pointer swap over
  // immutable manifest deltas — a replayed fold rebuilds the identical
  // generation. A `_cdc` marker pins the MV's schema kind so one
  // directory can never mix the two fold disciplines.

  private def cdcMarker(dir: String) = new Path(s"$dir/_cdc")

  private def requireExactSumTypes(agg: DataFrame, spec: MvSpec): Unit =
    spec.sums.indices.foreach { i =>
      val t = agg.schema(s"_s_$i").dataType
      require(t.isInstanceOf[org.apache.spark.sql.types.DecimalType]
          || t == org.apache.spark.sql.types.LongType
          || t == org.apache.spark.sql.types.IntegerType,
        s"syncCdc sum $i has inexact type ${t.simpleString}: retraction " +
          "needs exact cancellation — cast the measure to DECIMAL first")
    }

  /** Signed partial aggregate in the CDC-internal schema:
    * (group, _cnt, _s_i running exact sum, _nn_i non-null count). */
  private def signedAgg(df: DataFrame, spec: MvSpec, sign: Int): DataFrame = {
    val aggCols =
      Seq(count(lit(1)).as("_c")) ++
        spec.sums.zipWithIndex.flatMap { case (c, i) =>
          Seq(sum(c).as(s"_rs_$i"), count(c).as(s"_rn_$i"))
        }
    val p = df.groupBy(spec.groupCols.map(df(_)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    def signed(c: Column): Column = if (sign >= 0) c else negate(c)
    p.select((spec.groupCols.map(p(_)) :+ signed(col("_c")).as("_cnt")) ++
      spec.sums.indices.flatMap { i =>
        val zero = lit(0).cast(p.schema(s"_rs_$i").dataType)
        Seq(signed(coalesce(col(s"_rs_$i"), zero)).as(s"_s_$i"),
          signed(col(s"_rn_$i")).as(s"_nn_$i"))
      }: _*)
  }

  /** Fold every not-yet-synced version — appends AND copy-on-write
    * update/delete/overwrite versions — into a retraction-capable
    * summary. Measures: COUNT + exact-typed SUMs only (see block
    * comment). Idempotent for the same reasons as `sync`. */
  def syncCdc(spark: SparkSession, tableDir: String, mvDir: String,
              spec: MvSpec): State = {
    require(spec.mins.isEmpty && spec.maxs.isEmpty,
      "syncCdc folds retractable measures only (COUNT/SUM) — MIN/MAX " +
        "need the append-only sync or a rebuild")
    val f = fs(spark, mvDir)
    var st = state(spark, mvDir)
    require(st.generation == 0 || f.exists(cdcMarker(mvDir)),
      s"MV at $mvDir was built by the append-only sync — a CDC fold " +
        "cannot continue it (different summary schema)")
    val latest = SnapTable.latestVersion(spark, tableDir)
    // the schema of the generation this call wrote last: the next fold
    // reads it back without a footer job
    var written: Option[org.apache.spark.sql.types.StructType] = None
    while (st.syncedVersion < latest) {
      val v = st.syncedVersion + 1
      val prevPlan =
        if (v == 1) None else Some(SnapTable.plan(spark, tableDir, v - 1))
      val prevFiles = prevPlan.toSeq.flatMap(_.files)
      val curPlan = SnapTable.plan(spark, tableDir, v)
      val prev = prevFiles.map(_.rel).toSet
      val cur = curPlan.files.map(_.rel).toSet
      val removed = prevFiles.filterNot(e => cur(e.rel)).sortBy(_.rel)
      val added = curPlan.files.filterNot(e => prev(e.rel))
      val prevGen: DataFrame =
        if (st.generation == 0)
          signedAgg(SnapTable.read(spark, tableDir, v).limit(0), spec, 1)
        else written.fold(spark.read)(spark.read.schema(_))
          .parquet(s"$mvDir/gen-${st.generation}")
      requireExactSumTypes(prevGen, spec)
      val parts = prevGen +:
        (Seq((added, Some(curPlan), 1), (removed, prevPlan, -1)).collect {
          // each side reads under the recorded schema of the version that
          // holds its files (an overwrite may retype or drop a column):
          // no footer job
          case (files, Some(plan), sign) if files.nonEmpty =>
            signedAgg(SnapTable.readFiles(spark, plan, files), spec, sign)
        })
      val merged = parts.reduce(_.unionByName(_))
      val folded = merged.groupBy(spec.groupCols.map(merged(_)): _*)
        .agg(
          sum(col("_cnt")).cast("long").as("_cnt"),
          spec.sums.indices.flatMap { i =>
            Seq(sum(col(s"_s_$i")).cast(prevGen.schema(s"_s_$i").dataType)
                .as(s"_s_$i"),
              sum(col(s"_nn_$i")).cast("long").as(s"_nn_$i"))
          }: _*)
        .filter(col("_cnt") =!= 0L)
      val gen = st.generation + 1
      folded.write.mode("overwrite").parquet(s"$mvDir/gen-$gen")
      written = Some(folded.schema)
      if (!f.exists(cdcMarker(mvDir))) {
        val out = f.create(cdcMarker(mvDir), true)
        try out.write("cdc".getBytes("UTF-8")) finally out.close()
      }
      st = State(gen, v)
      swapPointer(f, mvDir, st)
    }
    st
  }

  /** User-facing view of a CDC summary: `_sum_i` is NULL iff the
    * group's surviving rows are all NULL on that measure — exactly the
    * full-recompute semantics. */
  def readCdc(spark: SparkSession, mvDir: String, spec: MvSpec): DataFrame = {
    val f = fs(spark, mvDir)
    require(f.exists(cdcMarker(mvDir)), s"MV at $mvDir is not a CDC summary")
    val g = read(spark, mvDir)
    g.select((spec.groupCols.map(g(_)) :+ col("_cnt")) ++
      spec.sums.indices.map(i =>
        when(col(s"_nn_$i") > 0L, col(s"_s_$i")).as(s"_sum_$i")): _*)
  }
}
