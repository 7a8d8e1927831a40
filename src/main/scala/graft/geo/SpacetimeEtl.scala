package graft.geo

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The user-facing Space/Time ETL surface: everything the reference module
  * (`/root/reference/addresses.js`) does, as a reusable Spark library over
  * arbitrary input paths — a reference user points `runPipeline` at their
  * `nyc-streets` / `building-inspector` NDJSON dumps and gets the same
  * three output streams (objects / relations / logs).
  *
  * Pipeline (reference steps in parens):
  *   readStreets → segments (infer: R1,R3,R5,R6)
  *   readHouseNumbers → housePoints (R1,R2,R3)
  *   bestMatch: grid-partitioned spatio-temporal nearest join (R7–R12)
  *   infer: matched/error rows, `inferred.ndjson` shape (R13–R15)
  *   inferSink: infer written as JSON (R16)
  *   transform: fan-out to objects/relations/logs (R17–R18, incl. N5) —
  *     one scan of the infer sink, one `explode(CASE …)` per row (G04's
  *     shape)
  *   transformSink: transform over the infer sink read back under the
  *     declared `inferredSchema`, written partitioned by type (R19)
  *   runPipeline: inferSink then transformSink (R21) — the join runs once
  *
  * Scale: the candidate join is a plain equi-join on the grid cell key —
  * the optimizer broadcasts the cell-exploded segment side when it is
  * under the broadcast threshold and shuffles otherwise (no hard hint:
  * a forced broadcast of a large segment side would OOM the driver).
  * Matching is ONE aggregation pass over the candidates (left cell-join +
  * null-skipping min_by), so the point relation is read once, with no
  * join-back and no caching. No O(N·M) pass exists anywhere.
  */
object SpacetimeEtl {
  val MaxDistanceM = 25L                      // addresses.js:13
  val SlackMs: Long = FuzzyDates.ThresholdMs  // addresses.js:12,47 (N3)

  private val MPerDegLat = 111194.927
  private[geo] val Cs = 0.0005 // grid cell size, degrees (~55 m lat, ~42 m lon)

  val streetSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("type", StringType),
    StructField("name", StringType), StructField("validSince", StringType),
    StructField("validUntil", StringType),
    StructField("geometry", StructType(Seq(
      StructField("type", StringType),
      StructField("coordinates", ArrayType(ArrayType(DoubleType))))))))

  val houseSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("type", StringType),
    StructField("validSince", StringType), StructField("validUntil", StringType),
    StructField("data", StructType(Seq(
      StructField("sheetId", IntegerType), StructField("layerId", IntegerType),
      StructField("mapId", IntegerType), StructField("number", StringType),
      StructField("borough", StringType)))),
    StructField("geometry", StructType(Seq(
      StructField("type", StringType),
      StructField("coordinates", ArrayType(DoubleType)))))))

  // native codegen fuzzy-date parsers (graft.plans.FuzzyMs) — these run
  // once per NDJSON row, so the udf() wrapper's encoder round-trip and
  // Option boxing were the per-row scalar hot path
  private def fuzzyMin(c: Column): Column = call_function("fuzzy_min_ms", c)
  private def fuzzyMax(c: Column): Column = call_function("fuzzy_max_ms", c)

  def readStreets(spark: SparkSession, path: String): DataFrame = {
    graft.plans.FuzzyMs.register(spark)
    spark.read.schema(streetSchema).json(path)
  }

  def readHouseNumbers(spark: SparkSession, path: String): DataFrame = {
    graft.plans.FuzzyMs.register(spark)
    spark.read.schema(houseSchema).json(path)
  }

  /** R1+R3+R5+R6: streets → one row per consecutive-vertex segment with
    * inherited street properties and precomputed fuzzy-date bounds. The
    * segmentizer is pure built-ins (zip_with + slice + posexplode) so it
    * stays in whole-stage codegen. */
  def segments(streets: DataFrame): DataFrame =
    streets
      .filter(col("geometry").isNotNull && size(col("geometry.coordinates")) >= 2)
      .select(col("id").as("street_id"), col("name").as("street_name"),
        fuzzyMin(col("validSince")).as("seg_since"),
        fuzzyMax(col("validUntil")).as("seg_until"),
        posexplode(expr(
          """zip_with(slice(geometry.coordinates, 1, size(geometry.coordinates)-1),
            |         slice(geometry.coordinates, 2, size(geometry.coordinates)-1),
            |         (a, b) -> named_struct('x1', a[0], 'y1', a[1], 'x2', b[0], 'y2', b[1]))
            |""".stripMargin)).as(Seq("seg_ord", "seg")))
      .select(col("street_id"), col("street_name"), col("seg_since"),
        col("seg_until"), col("seg_ord"),
        col("seg.x1"), col("seg.y1"), col("seg.x2"), col("seg.y2"))

  /** R1+R2+R3: house numbers → typed points with fuzzy-date bounds. */
  def housePoints(houses: DataFrame): DataFrame =
    houses
      .filter(col("type") === "st:Address" && col("geometry").isNotNull)
      .select(col("id").as("hn_id"), col("data.number").as("number"),
        col("data.borough").as("borough"), col("data.sheetId").as("sheet_id"),
        col("data.layerId").as("layer_id"), col("data.mapId").as("map_id"),
        element_at(col("geometry.coordinates"), 1).as("px"),
        element_at(col("geometry.coordinates"), 2).as("py"),
        col("validSince").as("valid_since"), col("validUntil").as("valid_until"),
        fuzzyMin(col("validSince")).as("pt_since"),
        fuzzyMax(col("validUntil")).as("pt_until"))

  /** R7–R12 (§4.2) as a LEFT-OUTER nearest operator: every input point
    * comes back exactly once, matched points with (sid, sname,
    * distance_m), unmatched with nulls — in ONE aggregation pass:
    *
    *  - grid candidate equi-join with guaranteed 25 m recall, LEFT so
    *    points in empty cells survive;
    *  - temporal conjunct + rounded threshold folded into the min_by
    *    ordering key: invalid candidates get a NULL key, and min_by
    *    skips null ordering values, so an all-invalid group yields a
    *    null best — the left-outer semantics without a join-back;
    *  - top-1 per point as a min_by hash aggregate over the
    *    lexicographic tie-break struct (distance_m, seg_ord, street_id)
    *    — partial-aggregatable (map-side combine ships ONE row per point
    *    per partition), unlike a row_number window which sorts every
    *    candidate.
    *
    * The segment side carries no broadcast hint — the optimizer
    * broadcasts it when small and shuffles on the cell key otherwise
    * (a hard hint would force-collect an arbitrarily large segment side
    * onto the driver at 100 TB).
    *
    * PRECONDITION: `hn_id` uniquely identifies a point row in `pts0`
    * (it is the Space/Time object id — unique by the input contract,
    * and the committed + generated fixtures guarantee it). The top-1
    * aggregate groups on hn_id alone and rides the rest of the payload
    * through any_value, so duplicate hn_id rows would collapse to ONE
    * output row; callers with non-unique ids must dedupe first. */
  /** The grid-join candidate relation BEFORE any per-point reduction:
    * every point row left-joined to its cell's temporally-valid
    * segments with the rounded crosstrack distance (NULL for invalid /
    * cell-empty candidates). Shared by matchPoints (top-1 argmin) and
    * knnStreets (top-k list) — one candidate generator, two
    * reductions. */
  def candidateDistances(spark: SparkSession, segs: DataFrame,
                         pts0: DataFrame,
                         maxDistanceM: Long = MaxDistanceM,
                         slackMs: Long = SlackMs): DataFrame = {
    val margin = maxDistanceM * 1.1
    // scale-adaptive fan (ScanFan gate): the cell explosion and the
    // per-candidate trig otherwise run inside the single-split NDJSON
    // scan tasks at fixture scale; identity at production input sizes.
    // pts fan by hn_id so the downstream top-1/top-k per-point
    // aggregates reuse this exchange outright.
    val segsF = graft.operators.ScanFan.fan(segs, col("street_id"))
    val segCells = segsF
      .withColumn("mlat", lit(margin / MPerDegLat))
      .withColumn("mlon",
        lit(margin) / (lit(MPerDegLat) * cos(radians((col("y1") + col("y2")) / 2))))
      .withColumn("cell", explode(expr(
        s"""flatten(transform(
           |  sequence(cast(floor((least(x1,x2)-mlon)/$Cs) as bigint),
           |           cast(floor((greatest(x1,x2)+mlon)/$Cs) as bigint)),
           |  cx -> transform(
           |    sequence(cast(floor((least(y1,y2)-mlat)/$Cs) as bigint),
           |             cast(floor((greatest(y1,y2)+mlat)/$Cs) as bigint)),
           |    cy -> named_struct('cx', cx, 'cy', cy))))""".stripMargin)))
      .select(col("street_id"), col("street_name"), col("seg_since"),
        col("seg_until"), col("seg_ord"), col("x1"), col("y1"), col("x2"),
        col("y2"), col("cell.cx"), col("cell.cy"))

    val pts = graft.operators.ScanFan.fan(pts0, col("hn_id"))
      .withColumn("cx", floor(col("px") / Cs).cast(LongType))
      .withColumn("cy", floor(col("py") / Cs).cast(LongType))

    graft.plans.CrosstrackM.register(spark)
    // temporal conjunct evaluated BEFORE the trig distance (N8): the
    // crosstrack expression only runs on temporally valid candidates
    val valid = col("street_id").isNotNull &&
      col("seg_since") - slackMs <= col("pt_since") &&
      col("seg_until") + slackMs >= col("pt_until")
    pts.join(segCells, Seq("cx", "cy"), "left")
      .withColumn("distance_m", when(valid,
        floor(expr("crosstrack_m(px, py, x1, y1, x2, y2)") + 0.5).cast(LongType)))
  }

  def matchPoints(spark: SparkSession, segs: DataFrame, pts0: DataFrame,
                  maxDistanceM: Long = MaxDistanceM,
                  slackMs: Long = SlackMs): DataFrame = {
    val cand = candidateDistances(spark, segs, pts0, maxDistanceM, slackMs)
    // group by the id ONLY — the rest of the point payload is constant
    // per id and rides through any_value. min_by's struct buffer forces a
    // SortAggregate either way, but with the single-column key the
    // partial/final sorts are narrow (sorting on the full payload incl.
    // normalized doubles was measurably wider on the sf0.1 fixture plan)
    val ptCols = pts0.columns.toSeq
    val aggs = ptCols.filterNot(_ == "hn_id").map(c => any_value(col(c)).as(c)) :+
      min_by(
        struct(col("street_id"), col("street_name"), col("distance_m")),
        when(col("distance_m") < maxDistanceM,
          struct(col("distance_m"), col("seg_ord"), col("street_id")))).as("best")
    cand
      .groupBy("hn_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(ptCols.map(col) ++ Seq(col("best.street_id").as("sid"),
        col("best.street_name").as("sname"),
        col("best.distance_m").as("distance_m")): _*)
  }

  /** Matched points only: (hn_id, sid, sname, distance_m) — the original
    * R7–R12 contract, a projection of `matchPoints`. */
  def bestMatch(spark: SparkSession, segs: DataFrame, pts0: DataFrame,
                maxDistanceM: Long = MaxDistanceM,
                slackMs: Long = SlackMs): DataFrame =
    matchPoints(spark, segs, pts0, maxDistanceM, slackMs)
      .where(col("sid").isNotNull)
      .select(col("hn_id"), col("sid"), col("sname"), col("distance_m"))

  /** k-nearest STREETS per point — the candidate-LIST form of R12's
    * top-1 (what a manual-review / disambiguation UI consumes when the
    * best match alone is not trusted): per (point, street) the MIN
    * segment distance inside the threshold, then the k closest streets
    * per point under the total (distance_m, street_id) order. Matched
    * points only (an empty candidate list IS the unmatched signal —
    * matchPoints carries the left-outer form). Scale: the same grid
    * candidate join, then a partial-aggregatable (hn_id, street_id)
    * min BEFORE the window, so the per-point window runs over
    * streets-within-25 m rows (a handful), never raw segment
    * candidates. */
  def knnStreets(spark: SparkSession, segs: DataFrame, pts0: DataFrame,
                 k: Int = 3, maxDistanceM: Long = MaxDistanceM,
                 slackMs: Long = SlackMs): DataFrame = {
    val cand = candidateDistances(spark, segs, pts0, maxDistanceM, slackMs)
    val perStreet = cand
      .filter(col("distance_m") < maxDistanceM) // NULL distance → filtered
      .groupBy(col("hn_id"), col("street_id"))
      .agg(min(col("distance_m")).as("distance_m"))
    val w = Window.partitionBy("hn_id")
      .orderBy(col("distance_m"), col("street_id"))
    perStreet
      .withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= k)
  }

  private def errMsg =
    lit(s"Can't find street within $MaxDistanceM meters and 15 years")

  /** getFullId (addresses.js:20-26): prefix with the dataset ONLY when
    * the id carries no `dataset/` prefix already — feeding pre-prefixed
    * ids (legal in the Space/Time model) must not double-prefix. */
  def fullId(dataset: String, id: Column): Column =
    when(id.contains("/"), id).otherwise(concat(lit(dataset + "/"), id))

  /** getInternalId (addresses.js:28-34): strip the prefix ONLY when
    * present (the reference takes `split('/')[1]`). */
  def internalId(id: Column): Column =
    when(id.contains("/"), split(id, "/").getItem(1)).otherwise(id)

  /** R13–R15: the `inferred.ndjson` record shape (FIXTURES.md §2c) —
    * matched rows carry the new address fields, unmatched rows an error. */
  def infer(spark: SparkSession, streets: DataFrame, houses: DataFrame,
            streetsDataset: String = "nyc-streets",
            housesDataset: String = "building-inspector"): DataFrame = {
    // R4: the reference's per-10k progress log becomes a named observation
    // (QueryExecutionListener-visible metric) — zero-cost in the plan,
    // no side-effecting map
    val hp = housePoints(houses)
      .observe("house_numbers_progress", count(lit(1)).as("processed"))
    // single-pass left-outer nearest: hp is consumed once, no join-back
    val joined = matchPoints(spark, segments(streets), hp)
    val fullHn = fullId(housesDataset, col("hn_id"))
    val fullSt = fullId(streetsDataset, col("sid"))
    val addressData = struct(col("sheet_id").as("sheetId"),
      col("layer_id").as("layerId"), col("map_id").as("mapId"),
      col("number"), col("borough"))
    val geom = struct(lit("Point").as("type"), array(col("px"), col("py")).as("coordinates"))
    joined.select(
      when(col("sid").isNotNull, internalId(col("hn_id"))).as("id"),
      when(col("sid").isNotNull, concat_ws(" ", col("number"), col("sname"))).as("name"),
      fullHn.as("houseNumberId"),
      when(col("sid").isNotNull, fullSt).as("streetId"),
      col("valid_since").as("validSince"), col("valid_until").as("validUntil"),
      col("sname").as("streetName"),
      addressData.as("addressData"),
      col("distance_m").as("lineLength"),
      geom.as("addressGeometry"),
      when(col("sid").isNull, errMsg).as("error"))
  }

  /** R17–R18: fan out each inferred row into tagged records
    * (`{type: object|relation|log, obj: ...}`, FIXTURES.md §2d). N5: the
    * matched log's addressData is the MERGED struct (the reference mutates
    * the shared object before logging). One projection over one scan of
    * `inferred`: a single `explode(CASE …)` emits a matched row's object,
    * two relations and log, or an unmatched row's error log — the G04
    * records shape. `CaseWhen` evaluates only the branch a row takes. */
  def transform(inferred: DataFrame): DataFrame = {
    val merged = struct(col("addressData.sheetId"), col("addressData.layerId"),
      col("addressData.mapId"), col("addressData.number"),
      col("addressData.borough"), col("houseNumberId"), col("streetId"))
    def rec(tpe: String, obj: Column): Column =
      struct(lit(tpe).as("type"), to_json(obj).as("obj"))
    inferred.select(explode(when(col("streetId").isNotNull, array(
      rec("object", struct(
        col("id"), col("name"), lit("st:Address").as("type"),
        col("validSince"), col("validUntil"), merged.as("data"),
        col("addressGeometry").as("geometry"))),
      rec("relation", struct(
        col("houseNumberId").as("from"), col("streetId").as("to"),
        lit("st:in").as("type"))),
      rec("relation", struct(
        col("id").as("from"), col("houseNumberId").as("to"),
        lit("st:sameAs").as("type"))),
      rec("log", struct(
        col("houseNumberId"), col("streetId"), col("streetName"),
        merged.as("addressData"), col("lineLength"),
        col("addressGeometry").as("geometry")))
    )).otherwise(array(
      rec("log", struct(
        col("error"), col("houseNumberId"),
        col("addressData"), col("addressGeometry").as("geometry")))
    ))).as("r")).select(col("r.*"))
  }

  /** infer's output schema, resolved once per JVM. Its types are fixed by
    * `streetSchema` and `houseSchema`, so analysing `infer` over empty
    * inputs yields the same schema every time: no file is read, no job
    * runs, and only the first call pays for the analysis. Declaring it on
    * the read-back keeps the `error` column, which schema inference would
    * drop on an all-matched sink (every value null). */
  def inferredSchema(spark: SparkSession): StructType = synchronized {
    if (inferredSchemaMemo == null) {
      graft.plans.FuzzyMs.register(spark)
      def empty(s: StructType) =
        spark.createDataFrame(java.util.Collections.emptyList[Row](), s)
      inferredSchemaMemo = infer(spark, empty(streetSchema), empty(houseSchema)).schema
    }
    inferredSchemaMemo
  }
  private var inferredSchemaMemo: StructType = _

  /** R16: the infer step — `inferred.ndjson` as a JSON sink at
    * `inferredDir`. */
  def inferSink(spark: SparkSession, streetsPath: String, housesPath: String,
                inferredDir: String): Unit =
    infer(spark, readStreets(spark, streetsPath),
      readHouseNumbers(spark, housesPath))
      .write.mode(SaveMode.Overwrite).json(inferredDir)

  /** R19: the transform step — reads the infer sink at `inferredDir`
    * under the declared `inferredSchema` and writes the tagged records,
    * partitioned by `type`, to `recordsDir`. The records derive from the
    * files, not from infer's lineage, so the nearest-street join runs
    * once per pipeline run. */
  def transformSink(spark: SparkSession, inferredDir: String,
                    recordsDir: String): Unit =
    transform(spark.read.schema(inferredSchema(spark)).json(inferredDir))
      .write.mode(SaveMode.Overwrite).partitionBy("type").json(recordsDir)

  /** R21: the two reference steps end-to-end, exchanging data through the
    * filesystem exactly like `spacetime-etl addresses` (R16/R19 sinks as
    * partitioned JSON — ordering was incidental in the reference). */
  def runPipeline(spark: SparkSession, streetsPath: String, housesPath: String,
                  outDir: String): Unit = {
    inferSink(spark, streetsPath, housesPath, s"$outDir/inferred")
    transformSink(spark, s"$outDir/inferred", s"$outDir/records")
  }
}
