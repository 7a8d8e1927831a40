package graft

import graft.geo.{EtlFramework, SpacetimeEtl}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the generic (config, dirs, tools) runner (round 10, verdict
  * residual 3): the addresses module run through the framework must
  * produce byte-identical records to the hand-wired runPipeline, step
  * selection must mirror `spacetime-etl addresses.<step>` (previous
  * resolved from the declared order), and the dirs protocol must
  * resolve other modules' outputs. */
class EtlFrameworkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Fx = "/root/repo/src/test/resources/geo"

  private def records(dir: String): Seq[(String, String)] =
    spark.read.json(dir).selectExpr("cast(type as string)", "obj")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  test("framework run reproduces the hand-wired pipeline bit for bit") {
    val base = "target/etlfw-full"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    val cfg = Map("streetsPath" -> s"$Fx/streets.ndjson",
      "housesPath" -> s"$Fx/house_numbers.ndjson")
    val dirs = EtlFramework.run(EtlFramework.addressesModule, cfg, base,
      EtlFramework.Tools(spark))
    assert(dirs === Seq(s"$base/addresses/infer", s"$base/addresses/transform"))
    // the transform step reads the infer files alone: no schema sidecar
    assert(new java.io.File(s"$base/addresses/infer").list().toSeq === Seq("inferred"))

    SpacetimeEtl.runPipeline(spark, s"$Fx/streets.ndjson",
      s"$Fx/house_numbers.ndjson", "target/etlfw-ref")
    val got = records(s"$base/addresses/transform/records")
    val want = records("target/etlfw-ref/records")
    assert(want.nonEmpty && got === want)
  }

  test("single-step run resolves previous from the declared order") {
    val base = "target/etlfw-full" // reuses the full run's infer output
    // drop the full run's records: the step must rebuild them from the
    // infer sink alone
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$base/addresses/transform"))
    val cfg = Map.empty[String, String]
    val dirs = EtlFramework.run(EtlFramework.addressesModule, cfg, base,
      EtlFramework.Tools(spark), only = Some("transform"))
    assert(dirs === Seq(s"$base/addresses/transform"))
    assert(records(s"$base/addresses/transform/records")
      === records("target/etlfw-ref/records"))
  }

  test("dirs protocol: getDir resolves sibling modules; unknown step rejected") {
    val d = EtlFramework.Dirs("/base", "addresses", "infer", None)
    assert(d.current === "/base/addresses/infer")
    assert(d.getDir("nyc-streets", "transform")
      === "/base/nyc-streets/transform")
    val e = intercept[IllegalArgumentException] {
      EtlFramework.run(EtlFramework.addressesModule, Map.empty, "/tmp/x",
        EtlFramework.Tools(spark), only = Some("nope"))
    }
    assert(e.getMessage.contains("no step 'nope'"))
  }

  test("R19 ordered sink: one file, declared order, fan-out's bytes") {
    // the g03 fan-out relation, rebuilt exactly as the transform step
    // writes it (reuses the full run's output)
    val rel = spark.read.json("target/etlfw-ref/records")
      .selectExpr("cast(type as string) as type", "obj")
    val out = java.nio.file.Files
      .createTempDirectory("etlfw-r19").toString + "/records.ndjson"
    EtlFramework.Tools(spark).writeOrdered(rel, Seq("type", "obj"), out)

    // exactly ONE data file, no part-* siblings (local-FS .crc shadow
    // files are Hadoop checksum artifacts, not output)
    val dir = new java.io.File(out).getParentFile
    assert(dir.listFiles().map(_.getName).filterNot(_.startsWith("."))
      .toSeq == Seq("records.ndjson"))

    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(out)).toArray.map(_.toString).toSeq
    // byte parity with the fan-out: the single ordered file holds the
    // same serialized records Spark's own .json() writer produces for
    // the same relation (to_json null-dropping included), re-sequenced
    val fanoutDir = java.nio.file.Files
      .createTempDirectory("etlfw-r19-fan").toString
    rel.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "none").json(fanoutDir)
    val fanLines = new java.io.File(fanoutDir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      .flatMap(f => java.nio.file.Files.readAllLines(f.toPath)
        .toArray.map(_.toString)).toSeq
    assert(lines.nonEmpty && lines.sorted == fanLines.sorted,
      "ordered sink's line bytes diverge from the .json() fan-out")

    // and the file IS in the declared (type, obj) order — the series
    // semantics of addresses.js:229-233, made explicit: recompute the
    // expected sequence with the same serialization and sort keys
    val expect = rel.select(
        org.apache.spark.sql.functions.to_json(
          org.apache.spark.sql.functions.struct(
            org.apache.spark.sql.functions.col("type"),
            org.apache.spark.sql.functions.col("obj"))).as("l"),
        org.apache.spark.sql.functions.col("type"),
        org.apache.spark.sql.functions.col("obj"))
      .collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(0))).toSeq
      .sortBy(identity).map(_._3)
    assert(expect.map(_.substring(0, 20)).distinct.size > 1,
      "degenerate fixture: one record shape cannot pin ordering")
    assert(lines == expect,
      "ordered sink's line sequence is not the declared (type, obj) order")
  }
}
