package graft

import org.apache.spark.sql.SparkSession

/** Round-14 optimization lab (measurement only, not part of the driver
  * contract): times declared queries under the Bench session config and
  * dumps `explain("formatted")` plans for the before/after evidence the
  * optimization round must commit (plans/r14/<q>_{before,after}.txt).
  *
  * Usage:
  *   runMain graft.R14Lab time <reps> q68_pagerank q137_ppr ...
  *   runMain graft.R14Lab plan <suffix> q68_pagerank ...   // writes plans/r14/<q>_<suffix>.txt
  *
  * Same methodology as Bench: queryExecution.toRdd.count() is the timed
  * action (keeps the final sort), OpCaches.releaseAll() + clearCache()
  * between runs so every rep is the query's own cold cost.
  */
object R14Lab {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    // A/B knob: AQE sort-merge → shuffled-hash rewrite threshold
    // (spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold)
    val spark = sys.env.get("SPARK_GRAFT_SHJ")
      .fold(builder)(v => builder.config(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", v))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach { n =>
      try Tables(spark, sfDir, n).count() catch { case _: Throwable => () }
    }
    val mode = args.headOption.getOrElse("time")
    mode match {
      case "time" =>
        val reps = args(1).toInt
        val names = args.drop(2)
        names.foreach { name =>
          val fn = SparkEntry.queries(name)
          val ts = (1 to reps).map { _ =>
            graft.operators.OpCaches.releaseAll()
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(s"r14lab: $name")
            val t0 = System.nanoTime()
            fn(spark, sfDir).queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[r14lab] $name%-24s ${ts.map(t => f"$t%6.2f").mkString(" ")} s  min=${ts.min}%6.2f")
        }
      case "prof" =>
        // per-query decomposition (guide §1: measure before changing):
        // driver-side phase durations from QueryExecutionTracker
        // (parsing/analysis/optimization/planning), plus job/stage/task
        // counts and summed task time from a listener — separates
        // driver-bound (planning) from floor-bound (many tiny jobs) from
        // compute-bound (task time) queries.
        val reps = args(1).toInt
        val names = args.drop(2)
        @volatile var jobs = 0
        @volatile var stages = 0
        val taskNanos = new java.util.concurrent.atomic.AtomicLong
        val tasks = new java.util.concurrent.atomic.AtomicLong
        val profListener =
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              jobs += 1
            override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
              stages += 1
            override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
              tasks.incrementAndGet()
              if (t.taskMetrics != null)
                taskNanos.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
            }
          }
        spark.sparkContext.addSparkListener(profListener)
        names.foreach { name =>
          val fn = SparkEntry.queries(name)
          (1 to reps).foreach { rep =>
            graft.operators.OpCaches.releaseAll()
            spark.catalog.clearCache()
            jobs = 0; stages = 0; taskNanos.set(0); tasks.set(0)
            spark.sparkContext.setJobDescription(s"r14prof: $name")
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            val qe = df.queryExecution
            qe.toRdd.count()
            val wall = (System.nanoTime() - t0) / 1e9
            // real drain, not a fixed sleep: late stage-completed
            // events would under-report the SLOWEST stages (r14
            // advisory)
            org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
            val phases = qe.tracker.phases.map { case (p, s) =>
              f"$p=${(s.endTimeMs - s.startTimeMs) / 1e3}%.2f"
            }.mkString(" ")
            println(f"[r14prof] $name%-22s rep$rep wall=$wall%6.2f " +
              f"taskSum=${taskNanos.get / 1e9}%6.2f jobs=$jobs%3d stages=$stages%3d " +
              f"tasks=${tasks.get}%4d $phases")
          }
        }
        org.apache.spark.sql.GraftBridge.removeListener(spark, profListener)
      case "stages" =>
        // per-STAGE task-time ranking for one query (guide §1/§7.1 —
        // the Spark-UI stage view, reduced to what a headless session
        // can print): stage id, summed executor task time, task count,
        // and the first line of the stage's name/callsite
        val name = args(1)
        val rows = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Int)]
        val stageListener =
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val info = s.stageInfo
              val t = Option(info.taskMetrics).map(_.executorRunTime).getOrElse(0L)
              rows.put(info.stageId,
                (info.name.linesIterator.next(), t, info.numTasks))
            }
          }
        spark.sparkContext.addSparkListener(stageListener)
        val fn = SparkEntry.queries(name)
        graft.operators.OpCaches.releaseAll()
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(s"r14stages: $name")
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        // real drain + deregister (r14 advisory): a fixed sleep could
        // drop the slowest stages' late completion events
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        org.apache.spark.sql.GraftBridge.removeListener(spark, stageListener)
        import scala.jdk.CollectionConverters._
        val sorted = rows.asScala.toSeq.sortBy(-_._2._2)
        println(f"[r14stages] $name wall=$wall%.2f nStages=${sorted.size}")
        sorted.take(25).foreach { case (id, (nm, t, nt)) =>
          println(f"[r14stages]   stage=$id%4d taskSum=${t / 1e3}%8.2f s tasks=$nt%4d  $nm")
        }
      case "qd24phase" =>
        // component timings for qd24: the exact prefix-pair set, the
        // minhash banding candidates, the OPH candidates — each as its
        // own cold action (caches dropped between), so the expensive
        // component is a measurement, not a guess
        import org.apache.spark.sql.functions._
        def toksRel = {
          val t = Tables(spark, sfDir, "documents")
          graft.operators.ScanFan.fan(t, col("doc_id"))
            .select(col("doc_id"),
              explode(array_distinct(split(col("text"), " "))).as("tok"))
        }
        for (rep <- 1 to 2) {
          def cold[T](label: String)(body: => Long): Unit = {
            graft.operators.OpCaches.releaseAll()
            spark.catalog.clearCache()
            val t0 = System.nanoTime()
            val n = body
            println(f"[r14lab] qd24phase rep$rep $label%-14s ${(System.nanoTime() - t0) / 1e9}%6.2f s  rows=$n")
          }
          cold("exact") {
            graft.operators.BitmaskJaccard.prefixPairsFused(toksRel, 8, 10)
              .select("a", "b").queryExecution.toRdd.count()
          }
          cold("mhcand") {
            graft.operators.BitmaskJaccard.bandedCandidates(toksRel, 16, 4)
              .queryExecution.toRdd.count()
          }
        }
      case "plan" =>
        val suffix = args(1)
        val names = args.drop(2)
        // round-15 reuse: plan dumps land in $GRAFT_PLANS_DIR (default
        // the round-14 directory) so each optimization round commits its
        // own before/after evidence set
        val dir = java.nio.file.Paths.get(
          sys.env.getOrElse("GRAFT_PLANS_DIR", "plans/r14"))
        java.nio.file.Files.createDirectories(dir)
        names.foreach { name =>
          val fn = SparkEntry.queries(name)
          graft.operators.OpCaches.releaseAll()
          spark.catalog.clearCache()
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
            txt.getBytes("UTF-8"))
          println(s"[r14lab] wrote ${dir.resolve(s"${name}_$suffix.txt")}")
        }
      case "q68prof" =>
        // stage decomposition of q68_pagerank at the given SF dir:
        // build-only vs +1/+3 iterations, so the expensive stage is a
        // measurement, not a guess (guide §1)
        import org.apache.spark.sql.functions._
        def run(iters: Int): Double = {
          graft.operators.OpCaches.releaseAll()
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val e0 = Tables(spark, sfDir, "lineitem")
            .select(col("l_orderkey").as("src"),
              (col("l_partkey") + 10000000L).as("dst"))
            .distinct().transform(graft.operators.OpCaches.track)
          val edges = e0.unionByName(e0.select(col("dst").as("src"),
            col("src").as("dst")))
          val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          val edgesD = edges.join(deg, "src")
            .select(col("src"), col("dst"), col("deg"))
            .repartition(col("src")).sortWithinPartitions("src")
            .transform(graft.operators.OpCaches.track)
          var r = edgesD.groupBy(col("src").as("node"))
            .agg(first(lit(1)).as("_one"))
            .select(col("node"), lit(1000000L).as("rank"))
          for (_ <- 1 to iters) {
            r = edgesD.join(r, col("src") === col("node"))
              .select(col("dst"), expr("rank div deg").as("c"))
              .groupBy(col("dst"))
              .agg(sum(col("c")).as("sc"))
              .select(col("dst").as("node"),
                (lit(150000L) + expr("(85 * sc) div 100")).as("rank"))
          }
          r.orderBy(col("rank").desc, col("node")).limit(20)
            .queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }
        for (it <- Seq(0, 1, 3, 3)) println(f"[r14lab] q68 iters=$it ${run(it)}%6.2f s")
      case "q68phase" =>
        import org.apache.spark.sql.functions._
        for (rep <- 1 to 3) {
          graft.operators.OpCaches.releaseAll()
          spark.catalog.clearCache()
          var t0 = System.nanoTime()
          def lap(): Double = {
            val d = (System.nanoTime() - t0) / 1e9; t0 = System.nanoTime(); d
          }
          val e0 = Tables(spark, sfDir, "lineitem")
            .select(col("l_orderkey").as("src"),
              (col("l_partkey") + 10000000L).as("dst"))
            .distinct().transform(graft.operators.OpCaches.track)
          e0.queryExecution.toRdd.count()
          val tDistinct = lap()
          val edges = e0.unionByName(e0.select(col("dst").as("src"),
            col("src").as("dst")))
          val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          val edgesD = edges.join(deg, "src")
            .select(col("src"), col("dst"), col("deg"))
            .repartition(col("src")).sortWithinPartitions("src")
            .transform(graft.operators.OpCaches.track)
          edgesD.queryExecution.toRdd.count()
          val tEdges = lap()
          var r = edgesD.groupBy(col("src").as("node"))
            .agg(first(lit(1)).as("_one"))
            .select(col("node"), lit(1000000L).as("rank"))
          r.queryExecution.toRdd.count()
          val tR0 = lap()
          val its = (1 to 3).map { _ =>
            r = edgesD.join(r, col("src") === col("node"))
              .select(col("dst"), expr("rank div deg").as("c"))
              .groupBy(col("dst"))
              .agg(sum(col("c")).as("sc"))
              .select(col("dst").as("node"),
                (lit(150000L) + expr("(85 * sc) div 100")).as("rank"))
              .localCheckpoint(true)
            lap()
          }
          val fin = r.orderBy(col("rank").desc, col("node")).limit(20)
          fin.queryExecution.toRdd.count()
          val tFin = lap()
          println(f"[r14lab] q68phase rep$rep distinct=$tDistinct%5.2f edges=$tEdges%5.2f r0=$tR0%5.2f iters=${its.map(t => f"$t%5.2f").mkString(",")} fin=$tFin%5.2f")
        }
      case other =>
        System.err.println(s"unknown mode $other"); sys.exit(2)
    }
    spark.stop()
  }
}
