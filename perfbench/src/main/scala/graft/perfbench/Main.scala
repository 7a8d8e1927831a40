package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark operation: `run` is timed, `check` (untimed) turns a
  * wrong answer into an error text. */
final case class Op(kind: String, name: String, run: () => Any,
                    check: Any => Option[String])

/** A measured operation and, when it was traced, its root span. */
final case class Done(op: Op, secs: Double, cpuSecs: Double, stealShare: Double, ok: Boolean,
                      span: Option[Span])

trait Workload {
  /** Program set-up that belongs in setup_s, e.g. building a table. */
  def prepare(spark: SparkSession): Unit = ()
  /** The benchmark's own bookkeeping (models, reference answers): runs
    * after `prepare`, outside every timing. */
  def bookkeep(spark: SparkSession): Unit = ()
  /** Warm-up rounds: as many as it takes, on 4 cores, until the rounds'
    * CPU time stops falling (perfbench/README.md has the curves). */
  def warmRounds: Int
  /** Round `r` of the closed loop; the same seed gives the same rounds. */
  def round(r: Int): Seq[Op]
  /** Traced layer probes, once after the measured loop, and the
    * per-layer metrics the workload derives from its traced operations. */
  def layers(spark: SparkSession, t: Tracer, done: Seq[Done]): Map[String, Double] = Map.empty
  /** Workload figures for the result (recall and the like). */
  def stats: Map[String, Double] = Map.empty
}

/** The harness: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --inputs <dir> --work <dir> --cores <n>`. Writes `<work>/result.json`;
  * perfbench/run.py turns it into metrics. */
object Main {
  /** Every per-layer metric; a workload that does not touch a layer
    * reports 0 for it. */
  val LayerNames: Seq[String] = Seq(
    "tables.load_s", "tables.load_jobs", "queries.build_s", "queries.build_jobs",
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exec.task_deser_s", "exec.gc_s", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.driver_idle_s",
    "exec.slot_busy_ratio",
    "geo.parse_s", "geo.candidates_s", "geo.match_s", "geo.sink_s", "geo.points",
    "geo.segments", "geo.cell_rows", "geo.candidates", "geo.matched",
    "geo.candidate_yield", "geo.sink_bytes",
    "dedup.tokens", "dedup.vocab", "dedup.band_s", "dedup.candidates",
    "dedup.verify_s", "dedup.pairs", "dedup.verify_yield", "dedup.cc_s",
    "dedup.cc_rounds", "dedup.sink_s",
    "snap.commit_s", "snap.dml_s", "snap.scan_s", "snap.files_total",
    "snap.files_scanned", "snap.prune_ratio", "snap.files_rewritten",
    "snap.bytes_written", "snap.write_amp", "snap.log_bytes",
    "trace.run_overhead_s", "trace.query_overhead_s")

  /** Warm-up stops after at most this many seconds of warm-up rounds. */
  val MaxWarmSeconds = 45.0
  /** Number of the first measured round. */
  val MeasuredRound = 1000
  /** A traced run measures at least this many rounds, half of them traced. */
  val TracedMinRounds = 6

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val inputs = a("inputs")
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val cores = a("cores").toInt

    val tracer = new Tracer(trace)
    val wl: Workload = workload match {
      case "etl_addresses" => new EtlAddresses(inputs, work, tracer)
      case "dedup_corpus"  => new DedupCorpus(inputs, work, tracer)
      case "table_mix"     => new TableMix(inputs, work, seed, tracer)
      case other           => sys.error(s"unknown workload $other")
    }

    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer[String]()
    val t0 = System.nanoTime()
    val spark = session(cores, work)

    def runOp(op: Op): Done = {
      // every operation starts from an empty cache, as in graft.Bench
      graft.operators.OpCaches.releaseAll()
      spark.catalog.clearCache()
      attempted += 1
      val st0 = cpuTicks()
      val c0 = processCpuNs()
      val t0 = System.nanoTime()
      val res = try Right(tracer.op(s"${op.kind}:${op.name}")(op.run()))
      catch { case e: Throwable => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs() - c0) / 1e9
      val st1 = cpuTicks()
      val steal = { val tot = st1._1 - st0._1; if (tot > 0) (st1._2 - st0._2).toDouble / tot else 0.0 }
      val span = if (tracer.isRecording) tracer.lastRoot else None
      val err = res match {
        case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(v) =>
          try op.check(v)
          catch { case e: Throwable => Some(s"check ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      err.foreach { m =>
        failed += 1
        errors += s"${op.kind}:${op.name}: ${m.take(400)}"
      }
      Done(op, secs, cpu, steal, err.isEmpty, span)
    }

    // Set-up, timed as setup_s: session creation, the workload's program
    // set-up, then the workload's warm-up rounds, a fixed number that
    // reaches the point where timings stop falling, so that setup_s does
    // not depend on where a noisy stopping rule fires; MaxWarmSeconds ends
    // warm-up early on a slow machine. The benchmark's own bookkeeping is
    // not timed.
    tracer.attach(spark)
    wl.prepare(spark)
    var setup = (System.nanoTime() - t0) / 1e9
    wl.bookkeep(spark)
    val warm = ArrayBuffer[Double]()
    val warmCpu = ArrayBuffer[Double]()
    while (warm.size < wl.warmRounds && warm.sum < MaxWarmSeconds) {
      val ops = wl.round(warm.size).map(runOp)
      warm += ops.map(_.secs).sum
      warmCpu += ops.map(_.cpuSecs).sum
    }
    setup += warm.sum

    // The measured closed loop: whole rounds until `seconds` of operation
    // time. Its rounds are numbered from MeasuredRound whatever the warm-up
    // took, so every run measures the same operation sequence. A traced
    // run alternates untraced and traced rounds, so the tracing overhead
    // is measured inside one run.
    val done = ArrayBuffer[(Done, Int, Boolean)]()
    var busy = 0.0
    var k = 0
    while (busy < seconds || (trace && k < TracedMinRounds)) {
      val traced = trace && k % 2 == 1
      tracer.record(traced)
      wl.round(MeasuredRound + k).foreach { op =>
        val d = runOp(op)
        busy += d.secs
        done += ((d, k, traced))
      }
      tracer.record(false)
      k += 1
    }

    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        tracer.drain()
        val tracedOps = done.collect { case (d, _, true) if d.span.isDefined => d }.toSeq
        val generic = genericLayers(tracer, tracedOps, cores)
        val overhead = {
          def med(kind: Option[String], traced: Boolean) = median(done.collect {
            case (d, _, t) if t == traced && kind.forall(_ == d.op.kind) => d.secs
          }.toSeq)
          val q = if (done.exists(_._1.op.kind == "query"))
            med(Some("query"), true) - med(Some("query"), false) else 0.0
          Map("trace.run_overhead_s" -> (med(None, true) - med(None, false)),
            "trace.query_overhead_s" -> q)
        }
        tracer.record(true)
        val own = wl.layers(spark, tracer, tracedOps)
        tracer.record(false)
        tracer.detach()
        Files.write(Paths.get(work, "spans.jsonl"),
          tracer.spansJson.mkString("", "\n", "\n").getBytes("UTF-8"))
        LayerNames.map(_ -> 0.0).toMap ++ generic ++ overhead ++ own
      }

    val stats = wl.stats
    graft.operators.OpCaches.releaseAll()
    spark.stop()

    def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ops = done.map { case (d, round, t) =>
      s"""{"kind":${jstr(d.op.kind)},"name":${jstr(d.op.name)},"round":$round,"secs":${d.secs},"cpu_s":${d.cpuSecs},"steal":${d.stealShare},"ok":${d.ok},"traced":$t}"""
    }.mkString("[", ",", "]")
    val json =
      s"""{"workload":${jstr(workload)},"seed":$seed,"setup_s":$setup,""" +
        s""""warm_rounds_s":${warm.mkString("[", ",", "]")},"warm_cpu_s":${warmCpu.mkString("[", ",", "]")},"ops":$ops,""" +
        s""""attempted":$attempted,"failed":$failed,""" +
        s""""errors":${errors.map(jstr).mkString("[", ",", "]")},""" +
        s""""heap_max_bytes":${Runtime.getRuntime.maxMemory},""" +
        s""""layers":${layers.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:${num(v)}" }.mkString("{", ",", "}")},""" +
        s""""stats":${stats.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:${num(v)}" }.mkString("{", ",", "}")}}"""
    Files.write(Paths.get(work, "result.json"), (json + "\n").getBytes("UTF-8"))
  }

  /** The session graft.Bench runs under, with every scratch path inside
    * the benchmark's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Listener counters per traced operation, as medians over operations;
    * the query-side metrics over `query` operations when there are any. */
  def genericLayers(t: Tracer, ops: Seq[Done], cores: Int): Map[String, Double] = {
    if (ops.isEmpty) return Map.empty
    val per = ops.map(d => d -> t.counters(d.span.get, cores))
    val queryOps = per.filter(_._1.op.kind == "query")
    val qside = if (queryOps.nonEmpty) queryOps else per
    def med(src: Seq[(Done, Map[String, Double])], k: String) = median(src.map(_._2(k)))
    val execKeys = per.head._2.keys.filter(_.startsWith("exec."))
    val qKeys = per.head._2.keys.filterNot(_.startsWith("exec."))
    val builds = queryOps.flatMap { case (d, _) =>
      t.spans.find(s => s.parent == d.span.get.id && s.name == "queries.build")
    }
    execKeys.map(k => k -> med(per, k)).toMap ++
      qKeys.map(k => k -> med(qside, k)).toMap ++
      (if (builds.isEmpty) Map.empty else Map(
        "queries.build_s" -> median(builds.map(_.secs)),
        "queries.build_jobs" -> median(builds.map(b => t.counters(b, cores)("exec.jobs")))))
  }

  /** `s` as a JSON string literal. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** CPU time of this JVM, all threads. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (all, stolen) CPU ticks of the machine so far, from /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Bytes of every regular file under `p` (0 when it does not exist). */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }
}
