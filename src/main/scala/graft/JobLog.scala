package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of code starts, with their times, stages and
  * summed task metrics, read after the listener bus has drained on both
  * sides of the block. One listener records all of it; specs pin a code
  * path's job list with it, and [[Profile]] builds its per-query ledger
  * from it. */
object JobLog {
  /** Task metrics summed over the stages a job ran. `stages` counts the
    * job's stages that ran (a stage whose shuffle output an earlier job
    * left behind is skipped and counts nowhere). */
  final case class Metrics(stages: Int, tasks: Long, runMs: Long, cpuNs: Long,
                           deserMs: Long, gcMs: Long, shuffleReadBytes: Long,
                           shuffleWriteBytes: Long, spillBytes: Long)

  /** `name` is the call site of the job's result stage ("collect at
    * X.scala:12"); `sql` is whether it ran inside a SQL execution;
    * `startMs`/`endMs` are the scheduler's submit and end times (`endMs`
    * is -1 for a job still running when the block returned). */
  final case class Job(id: Int, name: String, sql: Boolean, startMs: Long,
                       endMs: Long, stageIds: Seq[Int], metrics: Metrics) {
    /** The footer job an un-schema'd `spark.read.parquet` runs to infer
      * a schema: named after the reader call, outside any SQL execution
      * (a parquet WRITE shares the name but runs inside one). */
    def schemaInference: Boolean = !sql && name.startsWith("parquet at ")
  }

  private final class Started(val name: String, val sql: Boolean,
                              val startMs: Long, val stageIds: Seq[Int]) {
    @volatile var endMs = -1L
  }

  private final class StageAcc {
    var ran = false
    var tasks, runMs, cpuNs, deserMs, gcMs, shuffleR, shuffleW, spill = 0L
  }

  def apply[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    GraftBridge.drainListenerBus(spark)
    val started = new ConcurrentHashMap[Int, Started]()
    // a stage listed by several jobs (a reused shuffle) belongs to the
    // first, so its tasks are summed once
    val owner = new ConcurrentHashMap[Int, Int]()
    val stages = new ConcurrentHashMap[Int, StageAcc]()
    def acc(stageId: Int) = stages.computeIfAbsent(stageId, _ => new StageAcc)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.put(e.jobId, new Started(
          e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""),
          Option(e.properties)
            .exists(_.getProperty("spark.sql.execution.id") != null),
          e.time, e.stageIds.sorted))
        e.stageIds.foreach(owner.putIfAbsent(_, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.get(e.jobId)).foreach(_.endMs = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val a = acc(e.stageInfo.stageId)
        a.synchronized(a.ran = true)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          val a = acc(e.stageId)
          a.synchronized {
            a.tasks += 1
            a.runMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.deserMs += m.executorDeserializeTime
            a.gcMs += m.jvmGCTime
            a.shuffleR += m.shuffleReadMetrics.totalBytesRead
            a.shuffleW += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      GraftBridge.drainListenerBus(spark)
      val jobs = started.asScala.toSeq.sortBy(_._1).map { case (id, s) =>
        val own = s.stageIds.filter(st => owner.get(st) == id)
          .flatMap(st => Option(stages.get(st)))
        def sum(f: StageAcc => Long): Long = own.map(a => a.synchronized(f(a))).sum
        Job(id, s.name, s.sql, s.startMs, s.endMs, s.stageIds, Metrics(
          own.count(a => a.synchronized(a.ran)), sum(_.tasks), sum(_.runMs),
          sum(_.cpuNs), sum(_.deserMs), sum(_.gcMs), sum(_.shuffleR),
          sum(_.shuffleW), sum(_.spill)))
      }
      (r, jobs)
    } finally GraftBridge.removeListener(spark, l)
  }
}
