package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.geo.{GeoQueries, SpacetimeEtl}

/** S28 streaming geo ingest: the reference pipeline's house numbers
  * arrive through the graft-ndjson DSv2 micro-batch source and match
  * per batch against the static street-segment grid. Pins: the full
  * streamed relation == the batch g02 pipeline ROW-FOR-ROW across a
  * checkpointed restart (fixture split into two micro-batches, the
  * second staged only after the first run terminates), with
  * exactly-once per point. Points are independent, so per-batch
  * matchPoints ≡ the global join — the claim the shared g02 oracle
  * makes hash-checked at the driver gate. */
class GeoStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streamed NDJSON ingest == batch reference pipeline across a restart") {
    val s = spark
    val fixture = GeoQueries.FixtureDir

    val expect = SparkEntry.queries("s28_geostream")(s, TestSpark.Sf)
      .collect().toSeq
    assert(expect.nonEmpty)
    // both matched and unmatched points must occur or the test is weak
    assert(expect.exists(!_.isNullAt(1)) && expect.exists(_.isNullAt(1)))

    val tmp = Files.createTempDirectory("graft-s28").toString
    val (inDir, cp, outDir) = (s"$tmp/in", s"$tmp/cp", s"$tmp/out")
    Files.createDirectories(Paths.get(inDir))
    val lines = Files.readAllLines(
      Paths.get(s"$fixture/house_numbers.ndjson")).asScala.toSeq
    val (a, b) = lines.splitAt(lines.size / 2)
    assert(a.nonEmpty && b.nonEmpty)

    val segs = GeoQueries.segments(s)

    def runStream(): Unit = {
      // the DSv2 source delivers nested subtrees as compact-JSON
      // strings (g07's documented contract) — the typed struct columns
      // reconstruct with from_json per batch
      val flat = org.apache.spark.sql.types.StructType(
        Seq("id", "type", "validSince", "validUntil", "data", "geometry")
          .map(org.apache.spark.sql.types.StructField(_,
            org.apache.spark.sql.types.StringType)))
      val src = s.readStream.format("graft-ndjson").schema(flat).load(inDir)
      val q = src.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val typed = batch.select(col("id"), col("type"),
            col("validSince"), col("validUntil"),
            from_json(col("data"),
              SpacetimeEtl.houseSchema("data").dataType).as("data"),
            from_json(col("geometry"),
              SpacetimeEtl.houseSchema("geometry").dataType).as("geometry"))
          val pts = SpacetimeEtl.housePoints(typed)
          SpacetimeEtl.matchPoints(s, segs, pts)
            .select(
              SpacetimeEtl.fullId("building-inspector", col("hn_id"))
                .as("house_number_id"),
              SpacetimeEtl.fullId("nyc-streets", col("sid")).as("street_id"),
              col("distance_m"))
            .write.mode("append").parquet(outDir)
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    Files.write(Paths.get(s"$inDir/part-00000.ndjson"), a.asJava)
    runStream()
    // RESTART with the second half staged: the offset log skips file A
    Files.write(Paths.get(s"$inDir/part-00001.ndjson"), b.asJava)
    runStream()

    val got = s.read.parquet(outDir)
      .orderBy("house_number_id").collect().toSeq
    assert(got == expect,
      s"streamed ${got.size} rows vs batch ${expect.size}")
    // exactly-once: one verdict per point
    val ids = got.map(_.getString(0))
    assert(ids.distinct.size == ids.size)
  }
}
