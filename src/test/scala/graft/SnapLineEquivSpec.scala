package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SnapTable

/** Manifest-cell equivalence: the line each writing task builds for
  * its data file must equal, cell for cell, what the declarative
  * read-back computed before the lines moved into the writer — an
  * aggregation over the just-written files, kept below as the
  * reference. Cells: row count, long zone, non-null counts, string
  * zone and bloom hex, over NULL-only and mixed-NULL stat columns,
  * every integral type and the other types whose `cast(… AS long)`
  * the read-back accepts, strings past the 16-character truncation
  * (a non-ASCII 16th character, the 125/126 increment boundary),
  * bloom bitmaps of 64 and 65 536 bits and none, several files per
  * commit, and an empty input (exactly one zero-row file). */
class SnapLineEquivSpec extends AnyFunSuite {
  import SnapLineEquivSpec._
  private lazy val spark = TestSpark.spark

  private val CellNames = Seq("path", "zone", "bloom", "rows", "non-null", "string zone")

  /** Every line of `version` against the reference over its files. */
  private def assertLinesMatch(dir: String, version: Int): Int = {
    val h = SnapTable.header(spark, dir, version)
    val schema = SnapTable.readSchema(spark, dir, version)
    val got = SnapTable.plan(spark, dir, version).files.map(_.raw)
    val byCommit = got.groupBy(l => l.split("/")(1))
    byCommit.foreach { case (commitId, lines) =>
      val names = lines.map(l => l.takeWhile(_ != '\t').split("/").last)
      val want = newFileLines(spark, s"$dir/data/$commitId", commitId, names,
        schema, h.statCols, h.bloom, h.sStatCols).collect()
        .map(_.getString(1)).map(l => l.takeWhile(_ != '\t') -> l).toMap
      assert(want.size == lines.size)
      lines.foreach { l =>
        val path = l.takeWhile(_ != '\t')
        val (a, b) = (l.split("\t", -1), want(path).split("\t", -1))
        for (i <- 0 until math.max(a.length, b.length))
          assert(a.lift(i) == b.lift(i), s"${CellNames(i)} cell of $path")
      }
    }
    got.size
  }

  private def typed(rnd: scala.util.Random, n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      def maybe[T](v: => T): Any = if (rnd.nextInt(4) == 0) null else v
      Row(rnd.nextInt(1000) - 500, rnd.nextLong(), maybe(rnd.nextInt(200).toShort),
        maybe(rnd.nextInt(100).toByte),
        maybe(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          1_600_000_000L + rnd.nextInt(1_000_000)))),
        maybe(java.math.BigDecimal.valueOf(rnd.nextInt(100000), 2)),
        maybe(rnd.nextDouble() * 1000 - 500), maybe(rnd.nextBoolean()),
        null, maybe(rnd.nextInt(50).toLong),
        maybe(Strings(rnd.nextInt(Strings.size))), null)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, TypedSchema)
  }

  test("every cell of a new line matches the read-back: types, NULLs, bloom sizes, several files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-line-equiv").toString + "/t"
    val rnd = new scala.util.Random(5L)
    val stats = Seq("i", "l", "sh", "ti", "ts", "d", "db", "b", "nul", "mixed")
    for (bloom <- Seq(Some(("l", 64)), Some(("mixed", 65536)), Some(("nul", 128)), None)) {
      SnapTable.destroy(spark, dir)
      SnapTable.commit(spark, dir, typed(rnd, 400).repartition(4), statCols = stats,
        bloomCol = bloom.map(_._1).orNull, bloomBits = bloom.fold(65536)(_._2),
        strStatCols = Seq("s", "s2"))
      assert(assertLinesMatch(dir, 1) == 4, s"bloom $bloom: one line per file")
    }
    // no declarations at all: only counts
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir, typed(rnd, 100).repartition(3))
    assert(assertLinesMatch(dir, 1) == 3)
    SnapTable.destroy(spark, dir)
  }

  test("string bounds past 16 characters: each file's maximum takes each truncation rule") {
    val dir = java.nio.file.Files.createTempDirectory("graft-line-equiv").toString + "/s"
    SnapTable.destroy(spark, dir)
    import spark.implicits._
    // one file per maximum: the 16th character '}' (125) increments,
    // '~' (126) and a non-ASCII one do not, a 16-character value is its
    // own bound, and a long minimum truncates
    for ((maxS, v) <- (Strings :+ "abcdefghijklmnop").zipWithIndex) {
      val rows = Seq(maxS, "abcdefghijklmnopqrstuvwxyz0", "a", null).map(s => (v.toLong, s))
      SnapTable.commit(spark, dir, rows.toDF("k", "s").coalesce(1), append = v > 0,
        statCols = Seq("k"), strStatCols = Seq("s"))
    }
    val n = SnapTable.latestVersion(spark, dir)
    assert((1 to n).map(v => assertLinesMatch(dir, v)).last == n)
    SnapTable.destroy(spark, dir)
  }

  test("an empty input writes exactly one zero-row file whose line matches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-line-equiv").toString + "/e"
    for (bloom <- Seq(Some(("l", 64)), None)) {
      SnapTable.destroy(spark, dir)
      SnapTable.commit(spark, dir, typed(new scala.util.Random(1L), 10).limit(0),
        statCols = Seq("i", "l"), bloomCol = bloom.map(_._1).orNull,
        bloomBits = bloom.fold(65536)(_._2), strStatCols = Seq("s"))
      assert(assertLinesMatch(dir, 1) == 1)
      assert(SnapTable.filesMeta(spark, dir).head().getAs[Long]("n_rows") == 0L)
    }
    SnapTable.destroy(spark, dir)
  }
}

object SnapLineEquivSpec {
  val TypedSchema: StructType = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("sh", ShortType), StructField("ti", ByteType),
    StructField("ts", TimestampType), StructField("d", DecimalType(10, 2)),
    StructField("db", DoubleType), StructField("b", BooleanType),
    StructField("nul", LongType), StructField("mixed", LongType),
    StructField("s", StringType), StructField("s2", StringType)))

  /** Values over the edges of the string bounds' 16-character truncation. */
  val Strings: Seq[String] = Seq("abcdefghijklmno}xyz", "abcdefghijklmno~xyz",
    "abcdefghijklmnoé-tail", "ééééééééééééééééé", "short", "zzzzzzzzzzzzzzzzzzzzz")

  // The declarative read-back that built each new file's manifest line
  // before the writing tasks did: kept as the reference these specs
  // compare the writer's lines with.
  /** One manifest line per just-written data file under `genDir`,
    * assembled entirely executor-side. Returns (k, line): k is the
    * manifest sort key ("2"+name — header lines sort at "0", carried at
    * "1"), line is the verbatim manifest text. `newFiles` seeds the
    * relation with the LISTED names so a zero-row part file still gets
    * its (cell-less) line. */
  def newFileLines(spark: SparkSession, genDir: String,
                           commitId: String, newNames: Seq[String],
                           schema: StructType, statCols: Seq[String],
                           bloom: Option[(String, Int)],
                           strStatCols: Seq[String] = Nil): DataFrame = {
    def fileName = element_at(split(input_file_name(), "/"), -1)
    // the files were just written with the recorded schema: declare it
    // rather than pay a footer-inference job per commit
    lazy val data = spark.read.schema(schema).parquet(genDir)
    // all-null stat values print as the unprunable "-,-" cell
    def zoneCell(sc: Seq[String]) = concat_ws(",", sc.flatMap(c => Seq(
      coalesce(col(s"_min_$c").cast("string"), lit("-")),
      coalesce(col(s"_max_$c").cast("string"), lit("-")))): _*)
    // round 12: exact per-file row count (manifest field 4) and NON-null
    // count per stat column (field 5) ride the SAME fused aggregation —
    // they make COUNT(*)/COUNT(statCol) metadata-only answers and feed
    // numRows statistics, at zero extra scans for stats/bloom commits
    def nnCell(sc: Seq[String]) = concat_ws(",", sc.map(c =>
      coalesce(col(s"_nn_$c"), lit(0L)).cast("string")): _*)
    // STRING zone cells (round 12, manifest field 6): hex-of-UTF-8
    // TRUNCATED bounds, the Iceberg rule — the lower bound is min's
    // 16-char prefix (a prefix is always <= the full string under
    // binary collation), the upper bound is max itself when short,
    // else max's 15-char prefix with the 16th char incremented (>
    // max on the first differing position). chr() is mod-256, so the
    // increment is only taken for ASCII 1..125 sixteenth chars; any
    // other shape records the unprunable "-" instead of a wrong bound.
    def sLoCell(c: String) = when(col(s"_smin_$c").isNull, lit("-"))
      .otherwise(hex(encode(substring(col(s"_smin_$c"), 1, 16), "UTF-8")))
    def sHiCell(c: String) = when(col(s"_smax_$c").isNull, lit("-"))
      .when(length(col(s"_smax_$c")) <= 16,
        hex(encode(col(s"_smax_$c"), "UTF-8")))
      .when(expr(s"ascii(substring(_smax_$c, 16, 1)) BETWEEN 1 AND 125"),
        hex(encode(concat(substring(col(s"_smax_$c"), 1, 15),
          expr(s"chr(ascii(substring(_smax_$c, 16, 1)) + 1)")), "UTF-8")))
      .otherwise(lit("-"))
    def sZoneCell(ss: Seq[String]) = concat_ws(",",
      ss.flatMap(c => Seq(sLoCell(c), sHiCell(c))): _*)
    def sAggs(ss: Seq[String]): Seq[Column] = ss.flatMap(c =>
      Seq(min(col(c)).as(s"_smin_$c"), max(col(c)).as(s"_smax_$c")))
    // word map -> one hex string per file, zeros for unset words — the
    // same f"%016x" layout the old driver loop built; an EMPTY map
    // (file with zero non-null bloom values) yields NULL: that file's
    // line omits the bloom cell, exactly the old per-file semantics
    def bloomHex(m: Int) = when(expr("cardinality(_wm)") > 0, expr(
      s"""array_join(transform(sequence(0, ${m / 64 - 1}),
         |  i -> lower(lpad(hex(coalesce(element_at(_wm, i), 0L)),
         |               16, '0'))), '')""".stripMargin))
      .otherwise(lit(null).cast("string"))
    // The listed names LEFT-join the per-file cell aggregates: a
    // zero-row part file (an empty-DataFrame commit writes exactly one)
    // has no agg row and gets its cell-less line from the names side —
    // dropping the join loses that file from the manifest
    // (SnapTableSpec's empty-append case caught exactly this). The
    // names relation is a tiny broadcast; the measured per-commit costs
    // were the extra scans and the FileFormatWriter committer, both
    // gone.
    val names = spark.createDataset(newNames)(
      org.apache.spark.sql.Encoders.STRING).toDF("_name")
    val withCells: DataFrame = (statCols, strStatCols, bloom) match {
      case (Nil, Nil, None) =>
        // a stats-free commit still records row counts — read each
        // file's count from its parquet FOOTER inside the names
        // relation itself: no data scan, and (measured, round 12) no
        // broadcast-exchange job per commit, so the count rides the
        // manifest-write job for the cost of one footer open per file
        // (executor-side, session conf via the broadcast)
        val hconfB = org.apache.spark.sql.GraftBridge.hadoopConfBroadcast(spark)
        names.as(org.apache.spark.sql.Encoders.STRING)
          .mapPartitions { it =>
            val conf = org.apache.spark.sql.GraftBridge.hadoopConf(hconfB)
            it.map { n =>
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(new org.apache.hadoop.fs.Path(s"$genDir/$n"), conf)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try (n, r.getRecordCount) finally r.close()
            }
          }(org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.scalaLong))
          .toDF("_name", "_n")
          .withColumn("_zone", lit(null).cast("string"))
          .withColumn("_bloom", lit(null).cast("string"))
          .withColumn("_nncell", lit(null).cast("string"))
          .withColumn("_szone", lit(null).cast("string"))
      case (sc, ss, None) =>
        val aggs = count(lit(1)).as("_n") +: (sc.flatMap(c =>
          Seq(min(col(c).cast("long")).as(s"_min_$c"),
            max(col(c).cast("long")).as(s"_max_$c"),
            count(col(c)).as(s"_nn_$c"))) ++ sAggs(ss))
        val z = data.groupBy(fileName.as("_name"))
          .agg(aggs.head, aggs.tail: _*)
          .select(col("_name"), col("_n"),
            (if (sc.isEmpty) lit(null).cast("string") else zoneCell(sc))
              .as("_zone"),
            (if (sc.isEmpty) lit(null).cast("string") else nnCell(sc))
              .as("_nncell"),
            (if (ss.isEmpty) lit(null).cast("string") else sZoneCell(ss))
              .as("_szone"))
        names.join(broadcast(z), Seq("_name"), "left")
          .withColumn("_bloom", lit(null).cast("string"))
      case (sc, ss, Some((bc, m))) =>
        require(m % 64 == 0 && m > 0,
          s"bloom bits must be a multiple of 64, got $m")
        // ONE scan for zone cells AND bloom bitmaps (the r11 perf
        // finding: each extra scan+exchange is a fixed per-commit
        // cost): bloom bit positions explode 2x per row — min/max are
        // duplication-immune — and a null bloom value keeps its row
        // through explode_outer so zone stats never lose it
        val v = col(bc).cast("long")
        val pos = explode_outer(when(col(bc).isNotNull,
          array(pmod(xxhash64(v), lit(m.toLong)),
            pmod(xxhash64(v, lit(SnapTable.BloomSeed)), lit(m.toLong)))))
        // COUNTS under the 2x bloom-position explosion: each source row
        // carries weight 1 when it explodes into two position rows and
        // weight 2 when a null bloom value keeps it as one row — every
        // source row contributes exactly 2 to any weighted sum, so
        // n = sum(_w2) >> 1 and nonnull_c = sum(_w2 | _v_c set) >> 1,
        // exact integers (min/max stay duplication-immune as before)
        val w2 = when(col(bc).isNotNull, lit(1L)).otherwise(lit(2L))
        // non-null counts come from the RAW column's null flag, not the
        // long-cast value (round-13 advice: a stat value whose cast
        // nulls out must still count as non-null, exactly as the
        // no-bloom branch's count(col(c)) does)
        val l1aggs =
          bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"))
            .as("bits") +:
          (sum(col("_w2")).as("_n2") +:
          (sc.flatMap(c => Seq(min(col(s"_v_$c")).as(s"_min_$c"),
            max(col(s"_v_$c")).as(s"_max_$c"),
            sum(when(col(s"_p_$c"), col("_w2"))
              .otherwise(lit(0L))).as(s"_nn2_$c"))) ++
          // string bounds are duplication-immune min/max, same as long
          ss.flatMap(c => Seq(min(col(s"_sv_$c")).as(s"_smin_$c"),
            max(col(s"_sv_$c")).as(s"_smax_$c")))))
        val l1 = data.select(fileName.as("_name") +: w2.as("_w2") +:
            (sc.flatMap(c => Seq(col(c).cast("long").as(s"_v_$c"),
              col(c).isNotNull.as(s"_p_$c"))) ++
             ss.map(c => col(c).as(s"_sv_$c"))) :+ pos.as("p"): _*)
          .groupBy(col("_name"),
            when(col("p").isNotNull, (col("p") / 64).cast("int")).as("w"))
          .agg(l1aggs.head, l1aggs.tail: _*)
        val l2aggs =
          map_from_entries(collect_list(
            when(col("w").isNotNull, struct(col("w"), col("bits")))))
            .as("_wm") +:
          (sum(col("_n2")).as("_n2s") +:
          (sc.flatMap(c => Seq(min(col(s"_min_$c")).as(s"_min_$c"),
            max(col(s"_max_$c")).as(s"_max_$c"),
            sum(col(s"_nn2_$c")).as(s"_nn2s_$c"))) ++
          ss.flatMap(c => Seq(min(col(s"_smin_$c")).as(s"_smin_$c"),
            max(col(s"_smax_$c")).as(s"_smax_$c")))))
        val cells = l1.groupBy("_name").agg(l2aggs.head, l2aggs.tail: _*)
          .select(col("_name"),
            (if (sc.isEmpty) lit(null).cast("string") else zoneCell(sc))
              .as("_zone"),
            bloomHex(m).as("_bloom"),
            shiftright(col("_n2s"), 1).as("_n"),
            (if (sc.isEmpty) lit(null).cast("string")
             else concat_ws(",", sc.map(c =>
               shiftright(col(s"_nn2s_$c"), 1).cast("string")): _*))
              .as("_nncell"),
            (if (ss.isEmpty) lit(null).cast("string") else sZoneCell(ss))
              .as("_szone"))
        names.join(broadcast(cells), Seq("_name"), "left")
    }
    val rel = concat(lit(s"data/$commitId/"), col("_name"))
    // a NEW line always carries all five fields: empty-string zone/bloom
    // cells parse as absent (variable-arity compat), the count cells are
    // real data — a zero-row part file (missed by the left join) records
    // n=0 and 0 non-nulls, which is its true content
    val zeroNn = statCols.map(_ => "0").mkString(",")
    val dashSz = strStatCols.map(_ => "-,-").mkString(",")
    val fields = Seq(rel,
      coalesce(col("_zone"), lit("")),
      coalesce(concat(lit("B"), col("_bloom")), lit("")),
      coalesce(col("_n"), lit(0L)).cast("string")) ++
      (if (statCols.isEmpty && strStatCols.isEmpty) Nil
       else Seq(if (statCols.isEmpty) lit("")
                else coalesce(col("_nncell"), lit(zeroNn)))) ++
      (if (strStatCols.isEmpty) Nil
       else Seq(coalesce(col("_szone"), lit(dashSz))))
    val line = concat_ws("\t", fields: _*)
    withCells.select(concat(lit("2"), col("_name")).as("k"), line.as("line"))
  }
}
