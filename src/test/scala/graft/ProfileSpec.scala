package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The per-query profile ledger and the listener scope it reads. */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Metrics = Seq("build_s", "build_jobs", "wall_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.task_deser_s", "exec.gc_s",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.driver_idle_s", "plan.analysis_s", "plan.optimization_s",
    "plan.planning_s", "schema_inference_jobs")

  test("Profile writes one entry per named query, each with every metric") {
    val names = Seq("q05_star", "q01_scan", "qd1_minhash")
    val out = Files.createTempFile("profile", ".json")
    try {
      assert(Profile.write(spark, TestSpark.Sf, names, out) === 0)
      val root = new ObjectMapper().readTree(out.toFile)
      assert(root.get("sf").asText === TestSpark.Sf)
      assert(root.get("cpus").asInt === spark.sparkContext.defaultParallelism)
      assert(root.has("load_start") && root.has("load_end"))
      val qs = root.get("queries")
      assert(qs.fieldNames.asScala.toSeq === names.sorted)
      names.foreach { n =>
        val e = qs.get(n)
        assert(e.fieldNames.asScala.toSeq === Metrics, n)
        assert(Metrics.forall(m => e.get(m).isNumber), n)
        def v(m: String): Double = e.get(m).asDouble
        assert(v("exec.jobs") >= 1, n)
        assert(v("exec.tasks") >= v("exec.stages"), n)
        assert(v("exec.stages") >= 1, n)
        assert(v("exec.driver_idle_s") >= 0 && v("exec.driver_idle_s") <= v("wall_s"), n)
        assert(v("build_s") <= v("wall_s"), n)
        assert(v("build_jobs") <= v("exec.jobs"), n)
      }
      // q05's groupBy shuffles
      assert(qs.get("q05_star").get("exec.shuffle_write_bytes").asLong > 0)
    } finally Files.deleteIfExists(out)
  }

  test("Profile records a failing query's error and counts it") {
    val out = Files.createTempFile("profile", ".json")
    val bad = Files.createTempDirectory("profile-empty")
    try {
      assert(Profile.write(spark, bad.toString, Seq("q01_scan"), out) === 1)
      val e: JsonNode = new ObjectMapper().readTree(out.toFile)
        .get("queries").get("q01_scan")
      assert(e.has("err") && e.get("err").asText.nonEmpty, e.toString)
      assert(Metrics.forall(e.has), e.toString)
    } finally { Files.deleteIfExists(out); Files.deleteIfExists(bad) }
    intercept[IllegalArgumentException](
      Profile.write(spark, TestSpark.Sf, Seq("no_such_query"), out))
  }

  test("JobLog counts each job's tasks as Spark's status tracker does") {
    val sc = spark.sparkContext
    val (_, jobs) = JobLog(spark) {
      sc.parallelize(1 to 100, 5).map(x => (x % 3, 1)).reduceByKey(_ + _, 3).collect()
      spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count().collect()
    }
    assert(jobs.size >= 2, jobs.toString)
    val tracker = sc.statusTracker
    def trackerTasks(stageIds: Seq[Int]): Long =
      stageIds.map(s => tracker.getStageInfo(s).map(_.numCompletedTasks).getOrElse(0).toLong).sum
    // the RDD job runs both of its stages: 5 map tasks and 3 reduce tasks
    val rdd = jobs.head
    assert(rdd.stageIds.size === 2 && rdd.metrics.stages === 2, rdd.toString)
    assert(rdd.metrics.tasks === 8)
    assert(rdd.metrics.tasks === trackerTasks(rdd.stageIds))
    assert(rdd.metrics.shuffleWriteBytes > 0 && rdd.metrics.shuffleReadBytes > 0)
    assert(rdd.startMs > 0 && rdd.endMs >= rdd.startMs)
    // a stage several jobs list (a reused shuffle) is summed once
    assert(jobs.map(_.metrics.tasks).sum === trackerTasks(jobs.flatMap(_.stageIds).distinct))
  }
}
