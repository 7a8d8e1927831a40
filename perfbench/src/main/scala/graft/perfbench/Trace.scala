package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a layer call (or a whole operation, when `parent` is -1),
  * with the counts the call reported. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val startNs: Long, val startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = 0L
  val values: mutable.Map[String, Double] = mutable.LinkedHashMap()
  def secs: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into graft's layers, with Spark
  * listener counters attached to the span that submitted the work.
  *
  * A span is a name, a start, an end, a parent and an operation id. Spans
  * live in memory and are written once, at exit. Jobs carry the id of the
  * innermost open span as a local property, so a job, its stages and its
  * tasks are attributed to the span that was open when the job started —
  * also when the listener bus delivers the events later. Query planning
  * phases are attributed to the operation whose interval holds the end of
  * planning.
  *
  * Recording is off by default; `span` then only runs its body, and no
  * listener is registered, so untraced operations pay nothing. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private final class Job(val span: Int, val startMs: Long, val stages: Seq[Int],
                          val tablesLoad: Boolean) {
    @volatile var endMs: Long = -1L
  }

  private final class StageAcc {
    var tasks, runMs, cpuNs, deserMs, gcMs, shuffleW, shuffleR, spill = 0L
  }

  private case class Planned(endMs: Long, analysisMs: Long, optimizationMs: Long,
                             planningMs: Long)

  val spans: ArrayBuffer[Span] = ArrayBuffer()
  private var stack: List[Span] = Nil
  private var nextOp = 0
  private var recording = false
  /** The most recent root span (operation). */
  var lastRoot: Option[Span] = None
  private var session: SparkSession = null
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()
  private val completedStages = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val planned = new ConcurrentLinkedQueue[Planned]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val tablesLoad = e.stageInfos.exists(_.details.contains(TablesFrame))
      jobs.put(e.jobId, new Job(span, e.time, e.stageIds, tablesLoad))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      completedStages.put(e.stageInfo.stageId, true)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.deserMs += m.executorDeserializeTime
          a.gcMs += m.jvmGCTime
          a.shuffleW += m.shuffleWriteMetrics.bytesWritten
          a.shuffleR += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val end = ph.get("planning").map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      planned.add(Planned(end, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Attach to a (new) session; a no-op when tracing is off. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    session = spark
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  /** Turn recording on or off for the operations that follow. */
  def record(on: Boolean): Unit = recording = enabled && on
  def isRecording: Boolean = recording

  /** A root span: one benchmark operation. */
  def op[T](name: String)(body: => T): T =
    if (!recording) body else { nextOp += 1; open(name, nextOp)(body) }

  /** A child span around one layer call inside the current operation (or a
    * root of its own when no operation is open). */
  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else open(name, stack.headOption.map(_.op).getOrElse { nextOp += 1; nextOp })(body)

  /** Record a count the layer call reported (files scanned, rows written). */
  def put(key: String, v: Double): Unit =
    if (recording) stack.headOption.foreach(s => s.values(key) = s.values.getOrElse(key, 0.0) + v)

  private def open[T](name: String, op: Int)(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), op,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    if (parent.isEmpty) lastRoot = Some(s)
    stack = s :: stack
    val sc = session.sparkContext
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
    }
  }

  /** Deliver every queued listener event before counters are read. */
  def drain(): Unit = if (enabled && session != null)
    org.apache.spark.PerfbenchBus.drain(session.sparkContext)

  def detach(): Unit = if (enabled && session != null) {
    drain()
    session.sparkContext.removeSparkListener(listener)
    session.listenerManager.unregister(planListener)
  }

  private def subtree(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(c => go(c.id)).toSeq
    go(root.id).toSet
  }

  /** Self time: the span's wall minus the part its children cover. */
  def selfSecs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    s.secs - union(kids.toSeq) / 1e9
  }

  /** Listener counters for everything submitted under `s` (its subtree). */
  def counters(s: Span, cores: Int): Map[String, Double] = {
    val ids = subtree(s)
    val js = jobs.values.asScala.filter(j => ids(j.span)).toSeq
    val accs = js.flatMap(_.stages).distinct.flatMap(st => Option(stages.get(st)))
    def sum(f: StageAcc => Long): Double = accs.map(a => a.synchronized(f(a))).sum.toDouble
    val covered = union(js.map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs))
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)) / 1e3
    val wall = s.secs
    val loads = js.filter(_.tablesLoad)
    val plans = planned.asScala.filter(p => p.endMs >= s.startMs && p.endMs <= s.endMs)
    Map(
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> js.flatMap(_.stages).distinct.count(st => completedStages.containsKey(st)).toDouble,
      "exec.tasks" -> sum(_.tasks),
      "exec.task_run_s" -> sum(_.runMs) / 1e3,
      "exec.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec.task_deser_s" -> sum(_.deserMs) / 1e3,
      "exec.gc_s" -> sum(_.gcMs) / 1e3,
      "exec.shuffle_write_bytes" -> sum(_.shuffleW),
      "exec.shuffle_read_bytes" -> sum(_.shuffleR),
      "exec.spill_bytes" -> sum(_.spill),
      "exec.driver_idle_s" -> math.max(0.0, wall - covered),
      "exec.slot_busy_ratio" -> sum(_.runMs) / 1e3 / (wall * cores),
      "tables.load_jobs" -> loads.size.toDouble,
      "tables.load_s" -> loads.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3,
      "plan.analysis_s" -> plans.map(_.analysisMs).sum / 1e3,
      "plan.optimization_s" -> plans.map(_.optimizationMs).sum / 1e3,
      "plan.planning_s" -> plans.map(_.planningMs).sum / 1e3)
  }

  /** The spans as JSON lines, written once when the run ends. */
  def spansJson: Seq[String] = spans.toSeq.map { s =>
    val vals = s.values.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSecs(s)},"values":$vals}"""
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  /** Jobs whose call stack passes through here run inside `Tables.apply`. */
  val TablesFrame = "graft.Tables$.apply("

  /** Total length of the union of sorted [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
