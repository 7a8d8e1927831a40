package graft

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution

/** The per-query profile ledger: where each declared query's time goes.
  *
  * Usage:
  *   runMain graft.Profile <out.json> [query …]
  *
  * Reads `SPARK_GRAFT_SF_DIR` and `SPARK_GRAFT_CPUS` and builds and warms
  * the session as [[Bench]] does. Runs each named query (every declared
  * query when none is named) once, cold, in sorted order: the operator
  * caches and the cached relations are dropped first, and the query is
  * built and executed (`queryExecution.toRdd.count()`, Bench's action)
  * inside one [[JobLog]] scope. Per query the ledger records
  *   - `build_s`, `build_jobs`: the time of `fn(spark, sf)` and the jobs it
  *     already starts;
  *   - `wall_s`: build plus execution, the time Bench reports;
  *   - perfbench's layer names, so one vocabulary serves both tools:
  *     `exec.jobs/stages/tasks`, summed task run, CPU, deserialize and GC
  *     time, shuffle read/write and spill bytes, `exec.driver_idle_s`
  *     (wall minus the union of the job intervals) and
  *     `plan.{analysis,optimization,planning}_s` from the executed
  *     query's planning tracker;
  *   - `schema_inference_jobs`, and `err` for a query that failed.
  * The file also records the scale-factor dir, the core count and the
  * host's load average at the start and the end. Exits non-zero if any
  * query failed. */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Profile <out.json> [query …]")
    val sfDir = Bench.sfDir
    val spark = Bench.session()
    Bench.warmUp(spark, sfDir)
    val failed = write(spark, sfDir, args.toSeq.tail, Paths.get(args.head))
    spark.stop()
    println(s"[profile] wrote ${args.head}")
    if (failed > 0) {
      System.err.println(s"[profile] $failed quer${if (failed == 1) "y" else "ies"} failed")
      sys.exit(1)
    }
  }

  /** Profile `names` (every declared query when empty) and write the
    * ledger to `out`, one query per line. Returns the number of queries
    * that failed. */
  def write(spark: SparkSession, sfDir: String, names: Seq[String],
            out: Path): Int = {
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected = (if (names.isEmpty) queries.keys.toSeq else names).distinct.sorted
    val loadStart = Bench.loadavg()
    val entries = selected.map(n => n -> query(spark, sfDir, queries(n)))
    val loadEnd = Bench.loadavg()
    val json = new ObjectMapper()
    def str(s: String) = json.writeValueAsString(s)
    val lines = entries.map { case (n, (values, err)) =>
      val m = new java.util.LinkedHashMap[String, Any]()
      values.foreach { case (k, v) => m.put(k, v) }
      err.foreach(m.put("err", _))
      s"${str(n)}:${json.writeValueAsString(m)}"
    }
    val text = s"""{"sf":${str(sfDir)},"cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""load_start":${str(loadStart)},"load_end":${str(loadEnd)},"queries":{""" +
      lines.mkString("\n", ",\n", "\n") + "}}\n"
    Option(out.toAbsolutePath.getParent).foreach(Files.createDirectories(_))
    Files.write(out, text.getBytes("UTF-8"))
    entries.count(_._2._2.isDefined)
  }

  /** One query built and executed cold inside one [[JobLog]] scope: its
    * ledger values, and the error if it failed. */
  private def query(spark: SparkSession, sfDir: String,
                    fn: (SparkSession, String) => DataFrame)
      : (Seq[(String, Any)], Option[String]) = {
    graft.operators.OpCaches.releaseAll()
    spark.catalog.clearCache()
    var buildS, wallS = 0.0
    var buildEndMs = Long.MaxValue
    var t0Ms = 0L
    var qe: Option[QueryExecution] = None
    val (err, jobs) = JobLog(spark) {
      t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err =
        try {
          val df = fn(spark, sfDir)
          buildS = (System.nanoTime() - t0) / 1e9
          buildEndMs = System.currentTimeMillis()
          qe = Some(df.queryExecution)
          df.queryExecution.toRdd.count()
          None
        } catch { case e: Throwable =>
          Some((e.getClass.getSimpleName + ": "
            + Option(e.getMessage).getOrElse("")).take(300))
        }
      wallS = (System.nanoTime() - t0) / 1e9
      err
    }
    val endMs = t0Ms + (wallS * 1e3).toLong
    val covered = union(jobs.map { j =>
      (math.max(j.startMs, t0Ms), math.min(if (j.endMs < 0) endMs else j.endMs, endMs))
    }) / 1e3
    val phases = qe.map(_.tracker.phases).getOrElse(Map.empty)
    def phase(p: String): Double =
      phases.get(p).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
    def sum(f: JobLog.Metrics => Long): Long = jobs.map(j => f(j.metrics)).sum
    def secs(x: Double): Double = math.rint(x * 1e6) / 1e6
    val values = Seq(
      "build_s" -> secs(buildS),
      "build_jobs" -> jobs.count(_.startMs <= buildEndMs),
      "wall_s" -> secs(wallS),
      "exec.jobs" -> jobs.size,
      "exec.stages" -> sum(_.stages),
      "exec.tasks" -> sum(_.tasks),
      "exec.task_run_s" -> secs(sum(_.runMs) / 1e3),
      "exec.task_cpu_s" -> secs(sum(_.cpuNs) / 1e9),
      "exec.task_deser_s" -> secs(sum(_.deserMs) / 1e3),
      "exec.gc_s" -> secs(sum(_.gcMs) / 1e3),
      "exec.shuffle_read_bytes" -> sum(_.shuffleReadBytes),
      "exec.shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
      "exec.spill_bytes" -> sum(_.spillBytes),
      "exec.driver_idle_s" -> secs(math.min(wallS, math.max(0.0, wallS - covered))),
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimization_s" -> phase("optimization"),
      "plan.planning_s" -> phase("planning"),
      "schema_inference_jobs" -> jobs.count(_.schemaInference))
    (values, err)
  }

  /** Total length of the union of [start, end) intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      } else if (b > curE) curE = b
    }
    if (open) total += curE - curS
    total
  }
}
