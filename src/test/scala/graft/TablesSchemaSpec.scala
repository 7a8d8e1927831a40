package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Streams

/** Tables' schema cache: a table's schema is inferred once per file
  * identity; repeat loads declare it and run no Spark job, and a file
  * rewritten in place is re-inferred. */
class TablesSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private val root = Paths.get("target/graft-tables-schema-spec")

  /** A fresh, empty directory under `root`. */
  private def tmpDir(): Path = {
    Files.createDirectories(root)
    Files.createTempDirectory(root, "t")
  }

  /** Write `df` as ONE parquet file at `file`, replacing what is there. */
  private def writeSingle(df: DataFrame, file: Path): Unit = {
    val out = tmpDir().resolve("out").toString
    df.coalesce(1).write.parquet(out)
    val part = Files.list(Paths.get(out)).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(part, file, StandardCopyOption.REPLACE_EXISTING)
  }

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a repeat load runs zero Spark jobs and reads what a plain read reads") {
    Tables(spark, TestSpark.Sf, "lineitem")
    val (li, jobs) = JobLog(spark)(Tables(spark, TestSpark.Sf, "lineitem"))
    assert(jobs.isEmpty, s"a cached load ran jobs: $jobs")
    val plain = spark.read.parquet(s"${TestSpark.Sf}/lineitem.parquet")
    assert(li.schema == plain.schema)
    assert(rows(li) == rows(plain))
  }

  test("a file rewritten in place with a new schema is re-inferred") {
    val d = tmpDir()
    val file = d.resolve("t.parquet")
    writeSingle(spark.range(5).select(col("id").as("a")), file)
    // a miss runs exactly the one inference job the cache then saves
    val (first, missJobs) = JobLog(spark)(Tables(spark, d.toString, "t"))
    assert(missJobs.count(_.schemaInference) == 1 && missJobs.size == 1,
      s"expected one schema-inference job, got $missJobs")
    assert(first.schema.fieldNames.toSeq == Seq("a"))
    assert(JobLog(spark)(Tables(spark, d.toString, "t"))._2.isEmpty)

    writeSingle(spark.range(3).select(col("id").cast("string").as("b"),
      lit(1.5).as("c")), file)
    val again = Tables(spark, d.toString, "t")
    assert(again.schema == spark.read.parquet(file.toString).schema)
    assert(again.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(rows(again) == Seq("[0,1.5]", "[1,1.5]", "[2,1.5]"))
    assert(JobLog(spark)(Tables(spark, d.toString, "t"))._2.isEmpty)
  }

  test("events.ts becomes a session-tz TIMESTAMP from both encodings, cached or not") {
    val micros = Seq(1704067798778549L, 1704068166738090L, 1704068217102229L)
    // INT64 TIMESTAMP(NANOS) without time zone — Spark cannot write it,
    // so the file is written through parquet-hadoop's example writer
    val nanosDir = tmpDir()
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(nanosDir.resolve("events.parquet").toString),
        conf))
      .withType(schema).withConf(conf).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    try micros.zipWithIndex.foreach { case (m, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong)
        .append("ts", m * 1000L).append("user_id", 7L)
        .append("event_type", "view").append("value", 1.0)
        .append("props", "{}"))
    } finally w.close()
    // INT64 TIMESTAMP(MICROS) without time zone — Spark's TIMESTAMP_NTZ
    val ntzDir = tmpDir()
    writeSingle(spark.createDataFrame(micros.zipWithIndex.map {
        case (m, i) => (i.toLong, m, 7L, "view", 1.0, "{}") })
      .toDF("event_id", "m", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        timestamp_micros(col("m")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")),
      ntzDir.resolve("events.parquet"))

    for (d <- Seq(nanosDir, ntzDir); pass <- 1 to 2) {
      val (ev, jobs) = JobLog(spark)(Tables(spark, d.toString, "events"))
      if (pass == 2) assert(jobs.isEmpty, s"a cached events load ran jobs: $jobs")
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.orderBy("event_id").select(unix_micros(col("ts")))
        .collect().map(_.getLong(0)).toSeq == micros)
      assert(Streams.readEvents(spark, d.toString)
        .schema("ts").dataType == TimestampType)
    }
  }
}
