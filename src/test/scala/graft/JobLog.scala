package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of code starts, read after the listener bus
  * has drained on both sides of the block. */
object JobLog {
  /** `name` is the call site of the job's result stage ("collect at
    * X.scala:12"); `sql` is whether it ran inside a SQL execution. */
  final case class Job(name: String, sql: Boolean) {
    /** The footer job an un-schema'd `spark.read.parquet` runs to infer
      * a schema: named after the reader call, outside any SQL execution
      * (a parquet WRITE shares the name but runs inside one). */
    def schemaInference: Boolean = !sql && name.startsWith("parquet at ")
  }

  def apply[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    GraftBridge.drainListenerBus(spark)
    val jobs = new ConcurrentLinkedQueue[Job]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Job(
          e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""),
          Option(e.properties)
            .exists(_.getProperty("spark.sql.execution.id") != null)))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      GraftBridge.drainListenerBus(spark)
      (r, jobs.asScala.toSeq)
    } finally GraftBridge.removeListener(spark, l)
  }
}
