package graft

import java.nio.file.Files

import graft.geo.{GeoQueries, SpacetimeEtl}
import graft.plans.{NearestStreet, NearestStreetExec, NearestStreetStrategy}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `matchPoints` has two forms: the `NearestStreet` index operator (a
  * broadcast cell → segment index probed per point) and the candidate
  * cell-join reduced by `min_by`. The index form is taken when the
  * segment side is within `spark.sql.autoBroadcastJoinThreshold`; setting
  * the threshold to -1 forces the candidate form. Pins the two forms
  * row-for-row equal on random, golden, tie, NULL and empty inputs, what
  * each returns for a duplicated hn_id, the operator's SQL metrics, and
  * the planner strategy on a session built without `GraftExtensions`. */
class NearestStreetSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val MDeg = 111194.927

  private def execs(df: DataFrame): Seq[NearestStreetExec] =
    collect(df.queryExecution.executedPlan) { case n: NearestStreetExec => n }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def withThreshold[T](v: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body finally old match {
      case Some(o) => spark.conf.set(key, o)
      case None => spark.conf.unset(key)
    }
  }

  /** Both forms' rows over one input, each sorted; asserts which form
    * each call planned. */
  private def bothForms(segs: DataFrame, pts: DataFrame): (Seq[String], Seq[String]) = {
    val index = SpacetimeEtl.matchPoints(spark, segs, pts)
    assert(execs(index).size === 1, index.queryExecution.executedPlan)
    val candidate = withThreshold("-1") {
      val c = SpacetimeEtl.matchPoints(spark, segs, pts)
      assert(execs(c).isEmpty, c.queryExecution.executedPlan)
      (c.schema, canon(c))
    }
    assert(index.schema.map(f => (f.name, f.dataType)) ===
      candidate._1.map(f => (f.name, f.dataType)))
    (canon(index), candidate._2)
  }

  private def assertSame(segs: DataFrame, pts: DataFrame): Seq[String] = {
    val (index, candidate) = bothForms(segs, pts)
    assert(index === candidate)
    index
  }

  private val segSchema = StructType(Seq(
    StructField("street_id", StringType), StructField("street_name", StringType),
    StructField("seg_since", LongType), StructField("seg_until", LongType),
    StructField("seg_ord", IntegerType),
    StructField("x1", DoubleType), StructField("y1", DoubleType),
    StructField("x2", DoubleType), StructField("y2", DoubleType)))
  private val ptSchema = StructType(Seq(
    StructField("hn_id", StringType), StructField("px", DoubleType),
    StructField("py", DoubleType), StructField("pt_since", LongType),
    StructField("pt_until", LongType)))

  private def df(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def seg(id: String, ord: Integer, x1: java.lang.Double, y1: java.lang.Double,
                  x2: java.lang.Double, y2: java.lang.Double, name: String = "St",
                  since: java.lang.Long = 0L, until: java.lang.Long = 100L): Row =
    Row(id, name, since, until, ord, x1, y1, x2, y2)

  private def pt(id: String, px: java.lang.Double, py: java.lang.Double,
                 since: java.lang.Long = 10L, until: java.lang.Long = 20L): Row =
    Row(id, px, py, since, until)

  test("random fixtures: cell corners, offsets straddling 25 m, random date bounds") {
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 4) {
      // trial 4 adds date bounds, so the temporal conjunct decides too
      def bounds(): (Long, Long) =
        if (trial < 4) (0L, 100000000000000L)
        else { val a = rnd.nextInt(200).toLong; (a, a + rnd.nextInt(100)) }
      val segs = (1 to 25).map { i =>
        val x1 = -74.01 + rnd.nextDouble() * 0.04
        val y1 = 40.70 + rnd.nextDouble() * 0.06
        val len = (5 + rnd.nextDouble() * 400) / MDeg
        val ang = rnd.nextDouble() * 2 * math.Pi
        val (s, u) = bounds()
        Row(f"s$i%03d", s"St $i", s, u, i % 3,
          x1, y1, x1 + len * math.cos(ang), y1 + len * math.sin(ang))
      }
      val pts = (1 to 120).map { i =>
        val (px, py) = if (i % 5 == 0) {
          (math.floor((-74.01 + rnd.nextDouble() * 0.04) / 0.0005) * 0.0005,
            math.floor((40.70 + rnd.nextDouble() * 0.06) / 0.0005) * 0.0005)
        } else if (i % 3 == 0) {
          val g = segs(rnd.nextInt(segs.length))
          val t = rnd.nextDouble()
          val off = (5 + rnd.nextDouble() * 40) / MDeg
          val a = rnd.nextDouble() * 2 * math.Pi
          (g.getDouble(5) + t * (g.getDouble(7) - g.getDouble(5)) + off * math.cos(a),
            g.getDouble(6) + t * (g.getDouble(8) - g.getDouble(6)) + off * math.sin(a))
        } else {
          (-74.012 + rnd.nextDouble() * 0.044, 40.698 + rnd.nextDouble() * 0.064)
        }
        val (s, u) = if (trial < 4) (0L, 1L) else bounds()
        Row(f"h$i%03d", px, py, s, u)
      }
      val rows = assertSame(df(segSchema, segs), df(ptSchema, pts))
      assert(rows.size === 120)
      assert(rows.count(!_.endsWith("|null|null|null")) > 10, s"trial $trial matched too few")
    }
  }

  test("geo golden fixture") {
    val rows = assertSame(GeoQueries.segments(spark), GeoQueries.housePoints(spark))
    assert(rows.size === 312)
  }

  test("EtlSinkSpec's precision inputs, read from NDJSON") {
    val d = Files.createTempDirectory("nearest-in")
    def write(name: String, lines: Seq[String]): String = {
      Files.write(d.resolve(name), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      d.resolve(name).toString
    }
    val streets = write("streets.ndjson", Seq(
      """{"id":"s1","type":"st:Street","name":"Precise St","validSince":"1850","validUntil":"1920",""" +
        """"geometry":{"type":"LineString","coordinates":[[-74.00336004211758,40.70739696525687],""" +
        """[-74.0017020949076,40.705690088479224]]}}""",
      """{"id":"s2","type":"st:Street","name":"Main St","validSince":"1850","validUntil":"1920",""" +
        """"geometry":{"type":"LineString","coordinates":[[-74.0,40.71],[-73.998,40.71]]}}"""))
    val houses = write("houses.ndjson", Seq(
      ("h1", "-74.00253212345678", "40.706551234567891"),
      ("h2", "-74.0025321234567", "40.70655123456789"),
      ("h3", "-74.002532123456789", "40.7065512345678"),
      ("h4", "-73.99999999999999", "40.80000000000001"),
      ("h5", "-73.9995", "40.71005")).map { case (id, x, y) =>
      s"""{"id":"$id","type":"st:Address","validSince":"1860","validUntil":"1880",""" +
        s""""data":{"number":"1"},"geometry":{"type":"Point","coordinates":[$x,$y]}}"""
    })
    val rows = assertSame(
      SpacetimeEtl.segments(SpacetimeEtl.readStreets(spark, streets)),
      SpacetimeEtl.housePoints(SpacetimeEtl.readHouseNumbers(spark, houses)))
    assert(rows.size === 5)
    assert(rows.count(_.contains("|s1|Precise St|")) === 3 && rows.count(_.contains("|s2|")) === 1)
  }

  test("exact distance ties broken only by seg_ord or street_id; zero-length segments") {
    val o = 5.8 / MDeg // 5.8 m of latitude: 0.98 o to o all round to 6 m
    val segs = df(segSchema, Seq(
      // seg_ord decides: ord 0 is the (raw) farther one
      seg("a", 1, -74.0, 40.71 + o * 0.98, -73.999, 40.71 + o * 0.98),
      seg("a", 0, -74.0, 40.71 - o, -73.999, 40.71 - o),
      // street_id decides ("b10" < "b9" < "bé" byte-wise), same seg_ord
      seg("b9", 0, -73.99, 40.72 + o, -73.989, 40.72 + o),
      seg("bé", 0, -73.99, 40.72 - o, -73.989, 40.72 - o),
      seg("b10", 0, -73.99, 40.72 - o * 0.99, -73.989, 40.72 - o * 0.99),
      // NULL seg_ord orders first, as in the candidate form's struct
      seg("c", 0, -73.98, 40.73 + o * 0.99, -73.979, 40.73 + o * 0.99),
      seg("c", null, -73.98, 40.73 - o, -73.979, 40.73 - o, name = "Null Ord"),
      // zero-length segments: the distance is to the point itself
      seg("z1", 0, -73.97, 40.74, -73.97, 40.74),
      seg("z2", 0, -73.97, 40.74 + 2 * o, -73.97, 40.74 + 2 * o)))
    val pts = df(ptSchema, Seq(
      pt("p-ord", -73.9995, 40.71), pt("p-id", -73.9895, 40.72),
      pt("p-null-ord", -73.9795, 40.73), pt("p-zero", -73.97, 40.74 + o),
      pt("p-zero-exact", -73.97, 40.74)))
    val rows = assertSame(segs, pts)
    assert(rows.contains("p-ord|-73.9995|40.71|10|20|a|St|6"), rows)
    assert(rows.exists(r => r.startsWith("p-id|") && r.contains("|b10|")), rows)
    assert(rows.exists(r => r.startsWith("p-null-ord|") && r.contains("|c|Null Ord|6")), rows)
    assert(rows.contains("p-zero-exact|-73.97|40.74|10|20|z1|St|0"), rows)
  }

  test("NULL coordinates, dates, street_id, street_name and seg_ord") {
    val segs = df(segSchema, Seq(
      seg(null, 0, -74.0, 40.71, -73.999, 40.71),
      seg("nx", 0, null, 40.71, -73.999, 40.71),
      seg("ny", 0, -74.0, 40.71, -73.999, null),
      seg("ns", 0, -74.0, 40.71, -73.999, 40.71, since = null),
      seg("nu", 0, -74.0, 40.71, -73.999, 40.71, until = null),
      seg("ok", null, -74.0, 40.7101, -73.999, 40.7101, name = null)))
    val pts = df(ptSchema, Seq(
      pt("p", -73.9995, 40.71005), pt("p-x", null, 40.71005),
      pt("p-y", -73.9995, null), pt("p-since", -73.9995, 40.71005, since = null),
      pt("p-until", -73.9995, 40.71005, until = null),
      pt(null, -73.9995, 40.71005)))
    val rows = assertSame(segs, pts)
    assert(rows.contains("p|-73.9995|40.71005|10|20|ok|null|6"), rows)
    assert(rows.count(_.endsWith("|null|null|null")) === 4, rows)
  }

  test("an empty segment side and an empty point side") {
    val pts = df(ptSchema, Seq(pt("p", -73.9995, 40.71005)))
    assert(assertSame(df(segSchema, Nil), pts) === Seq("p|-73.9995|40.71005|10|20|null|null|null"))
    assert(assertSame(GeoQueries.segments(spark), df(ptSchema, Nil)).isEmpty)
  }

  test("point relation with only GridRecallSpec's five columns; the node prunes through") {
    val segs = GeoQueries.segments(spark)
    val pts = GeoQueries.housePoints(spark).select("hn_id", "px", "py", "pt_since", "pt_until")
    val rows = assertSame(segs, pts)
    assert(rows.size === 312)
    val m = SpacetimeEtl.matchPoints(spark, segs, GeoQueries.housePoints(spark))
    assert(m.columns.toSeq === GeoQueries.housePoints(spark).columns.toSeq ++
      Seq("sid", "sname", "distance_m"))
    // a projection above the node prunes the point scan's columns
    val scan = m.select("hn_id", "sid").queryExecution.optimizedPlan.toString
    assert(!scan.contains("borough"), scan)
  }

  test("duplicated hn_id: the index form keeps every row, the candidate form one per id") {
    val o = 0.00005
    val segs = df(segSchema, Seq(seg("a", 0, -74.0, 40.71, -73.999, 40.71)))
    // the same id near the street and far from it
    val pts = df(ptSchema, Seq(pt("dup", -73.9995, 40.71 + o), pt("dup", -73.9995, 40.72)))
    val (index, candidate) = bothForms(segs, pts)
    assert(index === Seq("dup|-73.9995|40.71005|10|20|a|St|6",
      "dup|-73.9995|40.72|10|20|null|null|null"))
    assert(candidate.size === 1 && candidate.head.startsWith("dup|") &&
      candidate.head.endsWith("|a|St|6"), candidate)
  }

  test("the candidate form is taken for a segment side over the broadcast threshold") {
    withThreshold("1") {
      val m = SpacetimeEtl.matchPoints(spark, GeoQueries.segments(spark), GeoQueries.housePoints(spark))
      assert(execs(m).isEmpty && !NearestStreet.applies(GeoQueries.housePoints(spark),
        GeoQueries.segments(spark)))
    }
  }

  test("SQL metrics: points, cells probed, candidates, matched, index entries; reading adds no job") {
    val segs = GeoQueries.segments(spark)
    val pts = GeoQueries.housePoints(spark)
    val m = SpacetimeEtl.matchPoints(spark, segs, pts)
    val rows = m.collect()
    val (metrics, jobs) = JobLog(spark) {
      val n = execs(m)
      assert(n.size === 1)
      n.head.metrics.map { case (k, v) => k -> v.value }
    }
    assert(jobs.isEmpty, jobs)
    assert(metrics("points") === rows.length)
    assert(metrics("matched") === rows.count(r => !r.isNullAt(r.fieldIndex("sid"))))
    val probable = pts.where(col("px").isNotNull && col("py").isNotNull &&
      col("pt_since").isNotNull && col("pt_until").isNotNull).count()
    assert(metrics("cellsProbed") === probable)
    // the same candidates the cell-join computes a distance for
    val cand = SpacetimeEtl.candidateDistances(spark, segs, pts)
      .where(col("distance_m").isNotNull).count()
    assert(metrics("candidates") === cand)
    // one entry per cell row of the segments that can match
    val matchable = segs.where(col("street_id").isNotNull && col("seg_since").isNotNull &&
      col("seg_until").isNotNull)
    val cells = SpacetimeEtl.candidateDistances(spark, matchable, pts)
    cells.collect()
    val cellRows = collect(cells.queryExecution.executedPlan) {
      case g: GenerateExec if g.generatorOutput.exists(_.name == "cell") =>
        g.metrics("numOutputRows").value
    }.sum
    assert(metrics("indexEntries") === cellRows && cellRows > 0)
    assert(metrics("candidates") >= metrics("matched") && metrics("matched") > 0)
  }

  test("GraftExtensions installs the strategy; ensure adds it only where it is missing") {
    val s = TestSpark.spark.newSession()
    assert(s.sessionState.planner.strategies.contains(NearestStreetStrategy))
    NearestStreet.ensure(s)
    assert(!s.experimental.extraStrategies.contains(NearestStreetStrategy))
  }

  test("a session built without GraftExtensions plans the node: matchPoints ensures the strategy") {
    // a session over the same context whose extensions are empty: neither
    // the natives nor the planner strategies are injected
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession].getDeclaredConstructors
      .find(_.getParameterCount == 6).get
    ctor.setAccessible(true)
    val bare = ctor.newInstance(spark.sparkContext, Some(spark.sharedState), None,
      new org.apache.spark.sql.SparkSessionExtensions, Map.empty[String, String],
      Map.empty[String, String]).asInstanceOf[SparkSession]
    assert(!bare.sessionState.planner.strategies.contains(NearestStreetStrategy))
    graft.plans.NativeFunctions.ensure(bare)
    val m = SpacetimeEtl.matchPoints(bare, GeoQueries.segments(bare), GeoQueries.housePoints(bare))
    assert(execs(m).size === 1)
    assert(canon(m) === canon(SpacetimeEtl.matchPoints(spark, GeoQueries.segments(spark),
      GeoQueries.housePoints(spark))))
  }
}
