package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.geo.{FuzzyDates, Geo, SpacetimeEtl}
import graft.operators.{BitmaskJaccard, DupGroups, OpCaches, ScanFan, SnapTable}

/** Shared helpers for the workloads' layer probes. */
object Probe {
  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Every node of an executed plan, through adaptive query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  /** The lines (rows) of every part file under `dir`. */
  def partLines(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return Nil
    val st = Files.walk(p)
    try st.iterator().asScala.filter { f =>
      Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-")
    }.toSeq.flatMap(f => Files.readAllLines(f).asScala.filter(_.nonEmpty))
    finally st.close()
  }

  val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A JSON field as text, or null when absent or null. */
  def text(n: com.fasterxml.jackson.databind.JsonNode, f: String): String =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText).orNull
}

/** etl_addresses: graft's 25 m / 15-year nearest-street pipeline
  * (`SpacetimeEtl.runPipeline`) from NDJSON inputs to the `inferred` and
  * tagged `records` sinks, one run per operation. */
final class EtlAddresses(inputs: String, work: String, t: Tracer) extends Workload {
  private val streets = s"$inputs/streets.ndjson"
  private val houses = s"$inputs/house_numbers.ndjson"
  private val out = s"$work/etl-out"
  private val sampleIds: Seq[String] =
    Files.readAllLines(Paths.get(inputs, "sample_ids.txt")).asScala.toSeq.filter(_.nonEmpty)
  private val nPoints: Long = Files.readAllBytes(Paths.get(houses)).count(_ == '\n').toLong
  // brute-force expectation per sampled point: Some((street id, metres)) or None
  private var expected: Map[String, Option[(String, Long)]] = null
  private var sampled = 0L
  private var agreed = 0L

  /** The brute-force answer for the sampled points, from the input files
    * directly (no Spark): the nearest temporally valid segment under 25 m
    * over ALL segments, with the pipeline's tie-break (distance, segment
    * ordinal, street id). */
  override def bookkeep(spark: SparkSession): Unit = if (expected == null) {
    import Probe.text
    def lines(p: String) = Files.readAllLines(Paths.get(p)).asScala.filter(_.nonEmpty)
      .map(Probe.json.readTree)
    val slack = SpacetimeEtl.SlackMs
    case class Seg(sid: String, ord: Int, x1: Double, y1: Double, x2: Double, y2: Double,
                   since: Option[Long], until: Option[Long])
    val segs = lines(streets).toSeq.flatMap { n =>
      val cs = Option(n.get("geometry")).filterNot(_.isNull).map(_.get("coordinates"))
        .map(_.asScala.map(c => (c.get(0).asDouble, c.get(1).asDouble)).toIndexedSeq)
        .getOrElse(IndexedSeq.empty)
      val since = FuzzyDates.minMs(text(n, "validSince"))
      val until = FuzzyDates.maxMs(text(n, "validUntil"))
      cs.sliding(2).filter(_.size == 2).zipWithIndex.map { case (Seq(a, b), i) =>
        Seg(text(n, "id"), i, a._1, a._2, b._1, b._2, since, until)
      }.toSeq
    }
    val wanted = sampleIds.toSet
    expected = lines(houses).filter(n => wanted(text(n, "id"))).map { n =>
      val xy = n.get("geometry").get("coordinates")
      val (px, py) = (xy.get(0).asDouble, xy.get(1).asDouble)
      val ps = FuzzyDates.minMs(text(n, "validSince"))
      val pu = FuzzyDates.maxMs(text(n, "validUntil"))
      val best = segs.flatMap { g =>
        val valid = (for (a <- g.since; b <- g.until; c <- ps; d <- pu)
          yield a - slack <= c && b + slack >= d).getOrElse(false)
        if (!valid) None
        else {
          val d = Geo.roundM(Geo.crosstrackM(px, py, g.x1, g.y1, g.x2, g.y2))
          if (d < SpacetimeEtl.MaxDistanceM) Some((d, g.ord, g.sid)) else None
        }
      }.minOption
      text(n, "id") -> best.map { case (d, _, sid) => (sid, d) }
    }.toMap
    require(expected.size == sampleIds.size, "sample points missing from the input")
  }

  val warmRounds = 16

  def round(r: Int): Seq[Op] = Seq(Op("pipeline", "runPipeline",
    () => SpacetimeEtl.runPipeline(SparkSession.active, streets, houses, out),
    _ => check()))

  /** Reads the sinks' part files directly (no Spark job between runs). */
  private def check(): Option[String] = {
    import Probe.text
    val inf = Probe.partLines(s"$out/inferred").map(Probe.json.readTree)
    val ids = inf.map(n => text(n, "houseNumberId"))
    if (inf.size != nPoints || ids.distinct.size != nPoints)
      return Some(s"inferred has ${inf.size} rows, ${ids.distinct.size} points; input has $nPoints")
    val matched = inf.count(n => text(n, "streetId") != null)
    val wanted = sampleIds.toSet
    val got = inf.map(n => text(n, "houseNumberId").stripPrefix("building-inspector/") -> n)
      .filter { case (id, _) => wanted(id) }
      .map { case (id, n) =>
        id -> Option(text(n, "streetId")).map(s => (s.stripPrefix("nyc-streets/"),
          n.get("lineLength").asLong))
      }.toMap
    val bad = sampleIds.filter(id => got.get(id) != expected.get(id))
    sampled += sampleIds.size
    agreed += sampleIds.size - bad.size
    if (bad.nonEmpty)
      return Some(s"${bad.size} sampled points differ from brute force, e.g. ${bad.head}: " +
        s"graft ${got.get(bad.head)} vs ${expected.get(bad.head)}")
    // records: object + 2 relations + log per matched point, a log per error
    val kinds = Seq("object" -> matched.toLong, "relation" -> 2L * matched, "log" -> nPoints)
    kinds.collectFirst {
      case (k, want) if Probe.partLines(s"$out/records/type=$k").size != want =>
        s"records type=$k has ${Probe.partLines(s"$out/records/type=$k").size} rows, want $want"
    }
  }

  override def stats: Map[String, Double] =
    Map("recall" -> (if (sampled == 0) 0.0 else agreed.toDouble / sampled))

  override def layers(spark: SparkSession, t: Tracer, done: Seq[Done]): Map[String, Double] = {
    val sts = SpacetimeEtl.readStreets(spark, streets)
    val hns = SpacetimeEtl.readHouseNumbers(spark, houses)
    val ((segs, pts), parseS) = Probe.secs(t.span("geo.parse") {
      (SpacetimeEtl.segments(sts).localCheckpoint(), SpacetimeEtl.housePoints(hns).localCheckpoint())
    })
    val nSegs = segs.count()
    val nPts = pts.count()
    val cand = SpacetimeEtl.candidateDistances(spark, segs, pts)
      .agg(count(col("street_id")),
        count(when(col("distance_m") < SpacetimeEtl.MaxDistanceM, 1)))
    val (c, candS) = Probe.secs(t.span("geo.candidates")(cand.collect().head))
    val cellRows = Probe.nodes(cand.queryExecution.executedPlan).collect {
      case g: GenerateExec if g.generatorOutput.exists(_.name == "cell") =>
        g.metrics("numOutputRows").value.toDouble
    }.sum
    val (matched, matchS) = Probe.secs(t.span("geo.match") {
      SpacetimeEtl.matchPoints(spark, segs, pts).agg(count(col("sid"))).first().getLong(0)
    })
    val inferred = SpacetimeEtl.infer(spark, sts, hns).localCheckpoint()
    val sinkDir = s"$work/etl-probe"
    val (_, sinkS) = Probe.secs(t.span("geo.sink") {
      inferred.write.mode(SaveMode.Overwrite).json(s"$sinkDir/inferred")
      SpacetimeEtl.transform(inferred).write.mode(SaveMode.Overwrite).partitionBy("type")
        .json(s"$sinkDir/records")
    })
    val candidates = c.getLong(0).toDouble
    Map(
      "geo.parse_s" -> parseS, "geo.candidates_s" -> candS,
      // matchPoints re-runs the candidate join; its own share is the rest
      "geo.match_s" -> math.max(0.0, matchS - candS), "geo.sink_s" -> sinkS,
      "geo.points" -> nPts.toDouble, "geo.segments" -> nSegs.toDouble,
      "geo.cell_rows" -> cellRows, "geo.candidates" -> candidates,
      "geo.matched" -> matched.toDouble,
      "geo.candidate_yield" -> (if (candidates == 0) 0.0 else c.getLong(1) / candidates),
      "geo.sink_bytes" -> Main.du(Paths.get(sinkDir)).toDouble)
  }
}

/** dedup_corpus: the LLM-data near-duplicate pipeline — tokens →
  * `BitmaskJaccard.bandedPairsFused(toks, 8, 10)` → `DupGroups.components`
  * → the corpus with one representative per duplicate group, written as
  * parquet. */
final class DedupCorpus(inputs: String, work: String, t: Tracer) extends Workload {
  private val corpus = s"$inputs/corpus.parquet"
  private val out = s"$work/dedup-out"
  // reference pair set and the keep-set a union-find over it gives
  private var keepWant: Set[Long] = null

  private def docs(spark: SparkSession) = spark.read.parquet(corpus)
  import DedupCorpus.toks

  override def bookkeep(spark: SparkSession): Unit = if (keepWant == null) {
    val pairs = BitmaskJaccard.bandedPairsFused(toks(docs(spark)), 8, 10).collect()
    OpCaches.releaseAll()
    Files.write(Paths.get(work, "pairs.tsv"), pairs.map { r =>
      s"${r.getLong(0)}\t${r.getLong(1)}\t${r.get(2)}\t${r.get(3)}\t${r.get(4)}\n"
    }.mkString.getBytes("UTF-8"))
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    pairs.foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val ids = docs(spark).select("doc_id").collect().map(_.getLong(0)).toSet
    keepWant = ids.filter(id => find(id) == id)
  }

  private def pipeline(spark: SparkSession, dst: String): Unit = {
    val d = docs(spark)
    val pairs = BitmaskJaccard.bandedPairsFused(toks(d), 8, 10)
    val groups = DupGroups.components(pairs.select("a", "b"))
    val dropped = groups.where(col("node") =!= col("grp")).select(col("node").as("doc_id"))
    d.join(dropped, Seq("doc_id"), "left_anti").write.mode(SaveMode.Overwrite).parquet(dst)
  }

  val warmRounds = 10

  def round(r: Int): Seq[Op] = Seq(Op("pipeline", "dedup",
    () => pipeline(SparkSession.active, out), _ => check(SparkSession.active)))

  private def check(spark: SparkSession): Option[String] = {
    val got = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0))
    if (got.length != got.distinct.length) Some("a document was written twice")
    else if (got.toSet != keepWant)
      Some(s"kept ${got.length} documents, union-find over the pairs keeps ${keepWant.size}")
    else None
  }

  override def layers(spark: SparkSession, t: Tracer, done: Seq[Done]): Map[String, Double] =
    DedupCorpus.probes(spark, t, docs(spark), s"$work/dedup-probe")
}

object DedupCorpus {
  /** DedupExt's token relation: distinct tokens per document. */
  def toks(docs: DataFrame): DataFrame = ScanFan.fan(docs, col("doc_id"))
    .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))

  /** The near-dup pipeline one layer call at a time, each materialized,
    * so each span times one layer. */
  def probes(spark: SparkSession, t: Tracer, d: DataFrame, sink: String): Map[String, Double] = {
    val tk = t.span("dedup.tokens")(toks(d).localCheckpoint())
    val nTok = tk.count()
    val vocab = tk.select("tok").distinct().count()
    val (nCand, bandS) = Probe.secs(t.span("dedup.band") {
      BitmaskJaccard.bandedCandidates(tk, 16, 4).count()
    })
    OpCaches.releaseAll()
    val (pairs, pairS) = Probe.secs(t.span("dedup.verify") {
      BitmaskJaccard.bandedPairsFused(tk, 8, 10).select("a", "b").localCheckpoint()
    })
    OpCaches.releaseAll()
    val nPairs = pairs.count()
    val ((groups, rounds), ccS) = Probe.secs(t.span("dedup.cc") {
      val (g, n) = DupGroups.componentsWithRounds(pairs)
      (g.localCheckpoint(), n)
    })
    OpCaches.releaseAll()
    val (_, sinkS) = Probe.secs(t.span("dedup.sink") {
      val dropped = groups.where(col("node") =!= col("grp")).select(col("node").as("doc_id"))
      d.join(dropped, Seq("doc_id"), "left_anti").write.mode(SaveMode.Overwrite).parquet(sink)
    })
    Map(
      "dedup.tokens" -> nTok.toDouble, "dedup.vocab" -> vocab.toDouble,
      "dedup.band_s" -> bandS, "dedup.candidates" -> nCand.toDouble,
      // the fused call bands again before it verifies; its own share is the rest
      "dedup.verify_s" -> math.max(0.0, pairS - bandS), "dedup.pairs" -> nPairs.toDouble,
      "dedup.verify_yield" -> (if (nCand == 0) 0.0 else nPairs.toDouble / nCand),
      "dedup.cc_s" -> ccS, "dedup.cc_rounds" -> rounds.toDouble, "dedup.sink_s" -> sinkS)
  }
}

/** table_mix: one client in a closed loop over short declared queries
  * (`SparkEntry.queries`), pruned `SnapTable.readWhere` range scans and
  * `SnapTable` appends, updates and deletes on narrow key ranges, against
  * a snapshot table built fresh from lineitem at set-up. */
final class TableMix(inputs: String, work: String, seed: Long, t: Tracer) extends Workload {
  val Queries: Seq[String] =
    Seq("q01_scan", "q05_star", "q11_agg")
  private val ScanWidth = 300
  private val UpdateWidth = 20
  private val DeleteWidth = 10
  private val AppendRows = 200
  private val Files0 = 16
  private val Cols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_shipdate")
  private val snap = s"$work/snap"

  // the benchmark's model of the table: key -> (rows, sum of l_quantity)
  private val model = mutable.TreeMap[Long, (Long, Long)]()
  private var schema: StructType = null
  private var rowBytes = 1.0
  private var keys = 0 // lineitem keys are 1..keys
  private val refDigest = mutable.Map[String, String]()
  private var nextLine = 100

  override def prepare(spark: SparkSession): Unit = {
    SnapTable.destroy(spark, snap)
    val li = graft.Tables(spark, inputs, "lineitem").select(Cols.map(col): _*)
      .repartitionByRange(Files0, col("l_orderkey")).sortWithinPartitions("l_orderkey")
    SnapTable.commit(spark, snap, li, statCols = Seq("l_orderkey"))
  }

  override def bookkeep(spark: SparkSession): Unit = {
    model.clear()
    val li = spark.read.parquet(s"$inputs/lineitem.parquet")
    li.groupBy("l_orderkey").agg(count(lit(1)), sum(col("l_quantity")).cast("long"))
      .collect().foreach(r => model(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
    schema = li.select(Cols.map(col): _*).schema
    keys = model.lastKey.toInt
    rowBytes = Main.du(Paths.get(snap, "data")).toDouble / model.values.map(_._1).sum
    if (refDigest.isEmpty) {
      val sql = Queries.map(q => Main.jstr(q) + ":" + Main.jstr(graft.SparkEntry.oracleSql(q)))
      Files.createDirectories(Paths.get(work, "dumps"))
      Files.write(Paths.get(work, "dumps", "oracle_sql.json"),
        sql.mkString("{", ",", "}").getBytes("UTF-8"))
    }
  }

  /** The first answer a query returns becomes its reference: it is written
    * out for the DuckDB oracle perfbench/run.py runs, and every later run
    * of the query must return exactly it. */
  private def checkAnswer(spark: SparkSession, q: String, rows: Array[Row],
                          schema: StructType): Option[String] = {
    val d = digest(rows)
    refDigest.get(q) match {
      case Some(ref) => if (d != ref) Some("result differs from the oracle-checked answer") else None
      case None =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write
          .mode(SaveMode.Overwrite).parquet(s"$work/dumps/$q")
        refDigest(q) = d
        None
    }
  }

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def modelCount(lo: Long, hi: Long): (Long, Long) = model.range(lo, hi + 1).values
    .foldLeft((0L, 0L)) { case ((n, q), (a, b)) => (n + a, q + b) }

  private def total: Long = model.values.map(_._1).sum

  /** Run a write; when traced, record the bytes it adds to the table
    * directory and to its manifests. */
  private def written[T](logical: T => Long)(body: => T): T =
    if (!t.isRecording) body
    else {
      val d0 = Main.du(Paths.get(snap))
      val m0 = Main.du(Paths.get(snap, "_manifests"))
      val v = body
      t.put("snap.bytes_written", (Main.du(Paths.get(snap)) - d0).toDouble)
      t.put("snap.log_bytes", (Main.du(Paths.get(snap, "_manifests")) - m0).toDouble)
      t.put("snap.logical_bytes", logical(v) * rowBytes)
      v
    }

  private def totalCheck(spark: SparkSession): Option[String] = {
    val n = SnapTable.read(spark, snap).count()
    if (n != total) Some(s"table has $n rows, the model $total") else None
  }

  val warmRounds = 10

  def round(r: Int): Seq[Op] = {
    val rnd = new scala.util.Random(seed * 1000003L + r)
    def spark = SparkSession.active
    val queries = Queries.map { q =>
      val fn = graft.SparkEntry.queries(q)
      Op("query", q, () => {
        val df = t.span("queries.build")(fn(spark, inputs))
        t.span("plan")(df.queryExecution.executedPlan)
        (t.span("exec")(df.collect()), df.schema)
      }, res => {
        val (rows, sc) = res.asInstanceOf[(Array[Row], StructType)]
        checkAnswer(spark, q, rows, sc)
      })
    }
    val scan = {
      val lo = 1L + rnd.nextInt(keys - ScanWidth)
      val hi = lo + ScanWidth - 1
      Op("scan", "readWhere", () => t.span("snap.scan") {
        val sp = SnapTable.readWhere(spark, snap, 0, "l_orderkey", lo, hi)
        t.put("snap.files_scanned", sp.filesScanned)
        t.put("snap.files_total", sp.filesTotal)
        val row = sp.df.agg(count(lit(1)), sum(col("l_quantity"))).first()
        (row.getLong(0), if (row.isNullAt(1)) 0L else row.getDouble(1).toLong)
      }, got => {
        val want = modelCount(lo, hi)
        if (got != want) Some(s"[$lo,$hi] read (rows, qty) $got, the model has $want") else None
      })
    }
    val appendLo = 1L + rnd.nextInt(keys - 100)
    val line = { nextLine += 1; nextLine }
    val append = Op("write", "append", () => t.span("snap.commit") {
      val rows = (0 until AppendRows).map { i =>
        val k = appendLo + i % 100
        Row(k, line + i / 100, 1L + i, (1 + i % 50).toDouble, 1000.0 + i, 0.05,
          java.time.LocalDateTime.of(1996, 1, 1, 0, 0))
      }
      written[Int](_ => AppendRows.toLong) {
        SnapTable.commit(spark, snap, spark.createDataFrame(rows.asJava, schema),
          append = true, statCols = Seq("l_orderkey"))
      }
    }, _ => {
      (0 until AppendRows).foreach { i =>
        val k = appendLo + i % 100
        val (n, q) = model.getOrElse(k, (0L, 0L))
        model(k) = (n + 1, q + 1 + i % 50)
      }
      totalCheck(spark)
    })
    val uLo = 1L + rnd.nextInt(keys - UpdateWidth)
    val uHi = uLo + UpdateWidth - 1
    val update = Op("write", "update", () => t.span("snap.dml") {
      val res = written[SnapTable.DeleteResult](_.rowsDeleted) {
        SnapTable.update(spark, snap, col("l_orderkey").between(uLo, uHi),
          Map("l_quantity" -> (col("l_quantity") + 1)), "l_orderkey", uLo, uHi)
      }
      t.put("snap.files_rewritten", res.filesRewritten)
      res
    }, res => {
      val want = modelCount(uLo, uHi)._1
      val got = res.asInstanceOf[SnapTable.DeleteResult].rowsDeleted
      model.range(uLo, uHi + 1).foreach { case (k, (n, q)) => model(k) = (n, q + n) }
      if (got != want) Some(s"update [$uLo,$uHi] changed $got rows, the model has $want")
      else totalCheck(spark)
    })
    val dLo = 1L + rnd.nextInt(keys - DeleteWidth)
    val dHi = dLo + DeleteWidth - 1
    val delete = Op("write", "delete", () => t.span("snap.dml") {
      val res = written[SnapTable.DeleteResult](_.rowsDeleted) {
        SnapTable.delete(spark, snap, col("l_orderkey").between(dLo, dHi), "l_orderkey", dLo, dHi)
      }
      t.put("snap.files_rewritten", res.filesRewritten)
      res
    }, res => {
      val want = modelCount(dLo, dHi)._1
      val got = res.asInstanceOf[SnapTable.DeleteResult].rowsDeleted
      model.range(dLo, dHi + 1).keys.toSeq.foreach(model.remove)
      if (got != want) Some(s"delete [$dLo,$dHi] removed $got rows, the model has $want")
      else totalCheck(spark)
    })
    // one write per round, the three kinds in turn every two rounds, so the
    // traced (odd) rounds of a traced run see each kind too
    rnd.shuffle(queries :+ scan :+ Seq(append, update, delete)(r / 2 % 3))
  }

  override def layers(spark: SparkSession, t: Tracer, done: Seq[Done]): Map[String, Double] =
    snapLayers(t, done) ++ DedupCorpus.probes(spark, t,
      graft.Tables(spark, inputs, "documents"), s"$work/dedup-probe")

  private def snapLayers(t: Tracer, done: Seq[Done]): Map[String, Double] = {
    def spansOf(name: String) = done.flatMap(d => t.spans.filter(s =>
      s.parent == d.span.get.id && s.name == name))
    def med(name: String) = Main.median(spansOf(name).map(_.secs))
    def sum(name: String, key: String) = spansOf(name).map(_.values.getOrElse(key, 0.0)).sum
    val writes = spansOf("snap.commit") ++ spansOf("snap.dml")
    def wsum(key: String) = writes.map(_.values.getOrElse(key, 0.0)).sum
    val scanned = sum("snap.scan", "snap.files_scanned")
    val totalFiles = sum("snap.scan", "snap.files_total")
    val dml = spansOf("snap.dml")
    Map(
      "snap.commit_s" -> med("snap.commit"), "snap.dml_s" -> med("snap.dml"),
      "snap.scan_s" -> med("snap.scan"),
      "snap.files_total" -> Main.median(spansOf("snap.scan").map(_.values("snap.files_total"))),
      "snap.files_scanned" -> Main.median(spansOf("snap.scan").map(_.values("snap.files_scanned"))),
      "snap.prune_ratio" -> (if (totalFiles == 0) 0.0 else 1 - scanned / totalFiles),
      "snap.files_rewritten" -> Main.median(dml.map(_.values.getOrElse("snap.files_rewritten", 0.0))),
      "snap.bytes_written" -> Main.median(writes.map(_.values.getOrElse("snap.bytes_written", 0.0))),
      "snap.write_amp" -> (if (wsum("snap.logical_bytes") == 0) 0.0
        else wsum("snap.bytes_written") / wsum("snap.logical_bytes")),
      "snap.log_bytes" -> Main.median(writes.map(_.values.getOrElse("snap.log_bytes", 0.0))))
  }
}
