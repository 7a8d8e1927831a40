package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.geo.{GeoQueries, SpacetimeEtl}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `runPipeline` hands data from infer to transform through the infer
  * sink: the records are built from the `inferred` files read back under
  * the declared `inferredSchema`, not from infer's lineage. Pins that
  * the sink form writes the same lines as the lineage form on inputs
  * that stress the read-back (all-null columns, JSON escaping, full
  * double precision), that the nearest-street join runs once, and that
  * `transform`'s one-scan `explode(CASE …)` writes the same lines as the
  * two-scan union it replaced. */
class EtlSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Fx = GeoQueries.FixtureDir

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  /** The sorted lines of every part file under `dir`. */
  private def lines(dir: String): Seq[String] =
    Files.list(Path.of(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f).asScala).sorted

  private def partitions(dir: String): Seq[String] =
    Files.list(Path.of(dir)).iterator().asScala.toSeq
      .map(_.getFileName.toString).filter(_.startsWith("type=")).sorted

  /** The reference transform: matched and unmatched rows filtered from
    * two scans of `inferred` and unioned — the form the one-scan
    * `SpacetimeEtl.transform` replaced. */
  private def unionTransform(inferred: DataFrame): DataFrame = {
    val merged = struct(col("addressData.sheetId"), col("addressData.layerId"),
      col("addressData.mapId"), col("addressData.number"),
      col("addressData.borough"), col("houseNumberId"), col("streetId"))
    val matched = inferred.where(col("streetId").isNotNull).select(explode(array(
      struct(lit("object").as("type"), to_json(struct(
        col("id"), col("name"), lit("st:Address").as("type"),
        col("validSince"), col("validUntil"), merged.as("data"),
        col("addressGeometry").as("geometry"))).as("obj")),
      struct(lit("relation").as("type"), to_json(struct(
        col("houseNumberId").as("from"), col("streetId").as("to"),
        lit("st:in").as("type"))).as("obj")),
      struct(lit("relation").as("type"), to_json(struct(
        col("id").as("from"), col("houseNumberId").as("to"),
        lit("st:sameAs").as("type"))).as("obj")),
      struct(lit("log").as("type"), to_json(struct(
        col("houseNumberId"), col("streetId"), col("streetName"),
        merged.as("addressData"), col("lineLength"),
        col("addressGeometry").as("geometry"))).as("obj"))
    )).as("r")).select(col("r.*"))
    val errors = inferred.where(col("streetId").isNull).select(
      lit("log").as("type"), to_json(struct(
        col("error"), col("houseNumberId"),
        col("addressData"), col("addressGeometry").as("geometry"))).as("obj"))
    matched.union(errors)
  }

  /** The reference form: the union transform over infer's lineage,
    * written from the same DataFrame that wrote `inferred`. */
  private def lineageForm(streets: String, houses: String, out: String): Unit = {
    val inferred = SpacetimeEtl.infer(spark,
      SpacetimeEtl.readStreets(spark, streets),
      SpacetimeEtl.readHouseNumbers(spark, houses))
    inferred.write.mode(SaveMode.Overwrite).json(s"$out/inferred")
    unionTransform(inferred).write.mode(SaveMode.Overwrite)
      .partitionBy("type").json(s"$out/records")
  }

  /** Every file scan in the executed plan, descending through AQE
    * wrappers and materialized query stages. */
  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec    => Seq(f)
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec        => fileScans(q.plan)
    case other                    => other.children.flatMap(fileScans)
  }

  /** Both forms over one input; returns runPipeline's output dir. */
  private def assertSameLines(streets: String, houses: String): String = {
    val got = tmp("etl-sink").toString
    val want = tmp("etl-lineage").toString
    SpacetimeEtl.runPipeline(spark, streets, houses, got)
    lineageForm(streets, houses, want)
    val inferred = lines(s"$want/inferred")
    assert(inferred.nonEmpty)
    assert(lines(s"$got/inferred") === inferred)
    val parts = partitions(s"$want/records")
    assert(parts.nonEmpty && partitions(s"$got/records") === parts)
    parts.foreach { p =>
      assert(lines(s"$got/records/$p") === lines(s"$want/records/$p"), p)
    }
    got
  }

  private def street(id: String, name: String, coords: String,
                     since: String = "1850", until: String = "1920"): String =
    s"""{"id":"$id","type":"st:Street","name":"$name","validSince":"$since",""" +
      s""""validUntil":"$until","data":{},""" +
      s""""geometry":{"type":"LineString","coordinates":$coords}}"""

  private def house(id: String, number: String, x: String, y: String,
                    since: String = "1860", until: String = "1880",
                    borough: String = "Manhattan"): String =
    s"""{"id":"$id","type":"st:Address","validSince":"$since",""" +
      s""""validUntil":"$until","data":{"sheetId":1,"layerId":2,"mapId":3,""" +
      s""""number":"$number","borough":"$borough"},""" +
      s""""geometry":{"type":"Point","coordinates":[$x,$y]}}"""

  /** Writes the two NDJSON inputs; returns (streets, houses) paths. */
  private def inputs(streets: Seq[String], houses: Seq[String]): (String, String) = {
    val d = tmp("etl-in")
    Files.write(d.resolve("streets.ndjson"), (streets.mkString("\n") + "\n").getBytes("UTF-8"))
    Files.write(d.resolve("houses.ndjson"), (houses.mkString("\n") + "\n").getBytes("UTF-8"))
    (d.resolve("streets.ndjson").toString, d.resolve("houses.ndjson").toString)
  }

  // one east-west street along y = 40.71; a point 0.00005° north of it
  // lies ~5.6 m away
  private val mainSt = street("s1", "Main St", "[[-74.0,40.71],[-73.998,40.71]]")

  test("inferredSchema is infer's schema over the fixture and runs no job") {
    val (schema, jobs) = JobLog(spark)(SpacetimeEtl.inferredSchema(spark))
    assert(jobs.isEmpty, jobs)
    assert(SpacetimeEtl.inferredSchema(spark) eq schema, "schema re-resolved")
    val fixture = SpacetimeEtl.infer(spark,
      SpacetimeEtl.readStreets(spark, s"$Fx/streets.ndjson"),
      SpacetimeEtl.readHouseNumbers(spark, s"$Fx/house_numbers.ndjson"))
    assert(schema === fixture.schema)
    assert(schema.fieldNames.contains("error"))
  }

  test("transform reads the infer sink with one file scan") {
    val out = tmp("etl-scan").toString
    SpacetimeEtl.inferSink(spark, s"$Fx/streets.ndjson",
      s"$Fx/house_numbers.ndjson", s"$out/inferred")
    val records = SpacetimeEtl.transform(spark.read
      .schema(SpacetimeEtl.inferredSchema(spark)).json(s"$out/inferred"))
    records.collect()
    assert(fileScans(records.queryExecution.executedPlan).size === 1,
      records.queryExecution.executedPlan)
  }

  test("sink form == lineage form: geo fixture") {
    val out = assertSameLines(s"$Fx/streets.ndjson", s"$Fx/house_numbers.ndjson")
    assert(lines(s"$out/inferred").size === 312)
  }

  test("sink form == lineage form: all matched (error null on every row)") {
    val (s, h) = inputs(Seq(mainSt),
      (1 to 12).map(i => house(s"h$i", s"$i", f"${-73.9999 + i * 0.0001}%.4f", "40.71005")))
    val out = assertSameLines(s, h)
    val back = spark.read.json(s"$out/inferred")
    assert(!back.columns.contains("error"), "fixture not all-matched")
    assert(spark.read.json(s"$out/records").count() === 4 * 12)
  }

  test("sink form == lineage form: all unmatched (street columns null)") {
    val (s, h) = inputs(Seq(mainSt),
      (1 to 6).map(i => house(s"far$i", s"$i", f"${-73.9999 + i * 0.0001}%.4f", "40.72")) ++
        (1 to 6).map(i => house(s"old$i", s"$i", f"${-73.9999 + i * 0.0001}%.4f",
          "40.71005", since = "1700", until = "1710")))
    val out = assertSameLines(s, h)
    val back = spark.read.json(s"$out/inferred")
    assert(Seq("streetId", "streetName", "lineLength").forall(c => !back.columns.contains(c)),
      "fixture not all-unmatched")
    assert(partitions(s"$out/records") === Seq("type=log"))
  }

  test("sink form == lineage form: names and numbers that need JSON escaping") {
    val (s, h) = inputs(
      Seq(street("s1", """O\"Brien \\ Straße Ünter""", "[[-74.0,40.71],[-73.998,40.71]]"),
        street("s2", """Café \"Nord\" — 東京 \\n""", "[[-74.0,40.72],[-73.998,40.72]]")),
      Seq(house("h1", """12\"A""", "-73.9995", "40.71005"),
        house("h2", """3\\4 ½""", "-73.9990", "40.72005", borough = "Brooklyn — Ñ"),
        house("h3", """99 \"far\" ø""", "-73.9990", "40.73", borough = """Q\\\"s""")))
    val out = assertSameLines(s, h)
    assert(lines(s"$out/inferred").size === 3)
    assert(partitions(s"$out/records") === Seq("type=log", "type=object", "type=relation"))
  }

  test("sink form == lineage form: coordinates with 15-17 significant digits") {
    val (s, h) = inputs(
      Seq(street("s1", "Precise St",
        "[[-74.00336004211758,40.70739696525687],[-74.0017020949076,40.705690088479224]]")),
      Seq(house("h1", "1", "-74.00253212345678", "40.706551234567891"),
        house("h2", "2", "-74.0025321234567", "40.70655123456789"),
        house("h3", "3", "-74.002532123456789", "40.7065512345678"),
        house("h4", "4", "-73.99999999999999", "40.80000000000001")))
    val out = assertSameLines(s, h)
    assert(lines(s"$out/inferred").size === 4)
    assert(lines(s"$out/inferred").exists(_.contains("[-73.99999999999999,40.80000000000001]")))
  }

  test("runPipeline runs the join once: at most one job beyond writing infer") {
    val streets = s"$Fx/streets.ndjson"
    val houses = s"$Fx/house_numbers.ndjson"
    val inferOnly = tmp("etl-infer").toString
    val (_, inferJobs) = JobLog(spark) {
      SpacetimeEtl.infer(spark, SpacetimeEtl.readStreets(spark, streets),
        SpacetimeEtl.readHouseNumbers(spark, houses))
        .write.mode(SaveMode.Overwrite).json(inferOnly)
    }
    val (_, pipelineJobs) = JobLog(spark) {
      SpacetimeEtl.runPipeline(spark, streets, houses, tmp("etl-jobs").toString)
    }
    assert(inferJobs.nonEmpty)
    assert(pipelineJobs.size <= inferJobs.size + 1,
      s"infer alone: ${inferJobs.size} jobs, pipeline: ${pipelineJobs.size}")
  }

  test("the infer write on the geo fixture runs at most 3 jobs and no SortAggregate") {
    val inferred = SpacetimeEtl.infer(spark,
      SpacetimeEtl.readStreets(spark, s"$Fx/streets.ndjson"),
      SpacetimeEtl.readHouseNumbers(spark, s"$Fx/house_numbers.ndjson"))
    val (_, jobs) = JobLog(spark) {
      inferred.write.mode(SaveMode.Overwrite).json(tmp("etl-infer-jobs").toString)
    }
    // the segment broadcast, the point fan and the write
    assert(jobs.size <= 3, jobs.map(_.name))
    val plan = inferred.queryExecution.executedPlan.toString
    assert(plan.contains("NearestStreet") && !plan.contains("SortAggregate"), plan)
  }
}
