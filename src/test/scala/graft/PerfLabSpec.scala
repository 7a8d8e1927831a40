package graft

import org.scalatest.funsuite.AnyFunSuite

/** Throwaway A/B timing lab (run manually; not part of the shipped
  * contract — ignored unless GRAFT_PERFLAB=1). Back-to-back runs on
  * one JVM per the measurement convention: absolute numbers are
  * machine-state noise, only same-state deltas count. */
class PerfLabSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.1"

  private def time[T](label: String, reps: Int = 3)(f: => T): Seq[Double] = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    info(f"$label%-32s ${ts.map(t => f"$t%5.2f").mkString(" ")} s")
    ts
  }

  test("q68 pagerank: AQE on vs off") {
    assume(sys.env.get("GRAFT_PERFLAB").contains("1"))
    def run(): Unit = {
      SparkEntry.queries("q68_pagerank")(spark, sf).collect()
      graft.operators.OpCaches.releaseAll()
    }
    time("q68 AQE on")(run())
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try time("q68 AQE off")(run())
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    time("q68 AQE on again")(run())
  }

  test("qe6: stage decomposition") {
    assume(sys.env.get("GRAFT_PERFLAB").contains("1"))
    import org.apache.spark.sql.functions._
    def pass() = graft.Tables(spark, sf, "embeddings")
      .filter(size(col("embedding")) === 64)
      .select(expr(
        "cov_accum64(transform(embedding, " +
          "x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT)))")
        .as("acc"))
      .head()
    time("qe6 corpus pass only")(pass())
    def full(): Unit = {
      SparkEntry.queries("qe6_pca")(spark, sf).collect()
      graft.operators.OpCaches.releaseAll()
    }
    time("qe6 full")(full())
  }

  test("qd15: stage decomposition") {
    assume(sys.env.get("GRAFT_PERFLAB").contains("1"))
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    def per = graft.Tables(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), expr(
        "array_sort(array_distinct(IF(size(tk) >= 3, " +
          "transform(sequence(1, size(tk) - 2), " +
          "k -> roll_hash31(array_join(slice(tk, k, 3), ' '))), " +
          "array())))").as("fs"))
      .filter(size(col("fs")) > 0)
      .select(col("doc_id"), col("fs"),
        size(col("fs")).cast(LongType).as("na"))
    time("qd15 per-doc shingles only")(per.count())
    def candCount(): Long = {
      val pc = graft.operators.OpCaches.track(per)
      val th = pc.select(col("doc_id"), col("na"), explode(col("fs")).as("h"))
      val df = th.groupBy("h").agg(count(lit(1)).as("hdf"))
      val wD = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("hdf", "h")
      val prefix = th.join(df, Seq("h"))
        .withColumn("rk", row_number().over(wD))
        .filter(col("rk") <= col("na") - expr("(4 * na + 4) div 5") + 1L)
        .select(col("doc_id").as("a"), col("h"))
      val n = prefix
        .join(th.select(col("doc_id").as("b"), col("h")), Seq("h"))
        .filter(col("a") =!= col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("npfx"))
        .count()
      graft.operators.OpCaches.releaseAll()
      n
    }
    time("qd15 through cand")(info(s"cand=${candCount()}"))
    def full(): Unit = {
      SparkEntry.queries("qd15_containment")(spark, sf).collect()
      graft.operators.OpCaches.releaseAll()
    }
    time("qd15 full")(full())
  }

  test("qt9/qt14: duplicated tokenize pass") {
    assume(sys.env.get("GRAFT_PERFLAB").contains("1"))
    def run(q: String): Unit = {
      SparkEntry.queries(q)(spark, sf).collect()
      graft.operators.OpCaches.releaseAll()
    }
    time("qt9_tfidf")(run("qt9_tfidf"))
    time("qt14_bm25")(run("qt14_bm25"))
    // variant: cache the shared tf relation (round-6 measured this
    // NEGATIVE for qt9; the BM25 form carries dl too — re-measure)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Column
    def bm25cached(): Unit = {
      val tk = Tables(spark, sf, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), size(col("tk")).cast(LongType).as("dl"),
          explode(col("tk")).as("term"))
      val tf = tk.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
        .transform(graft.operators.OpCaches.track)
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val g = Tables(spark, sf, "documents")
        .select(size(split(col("text"), " ")).cast(LongType).as("dl"))
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      def dbl(c: String): Column = col(c).cast(DoubleType)
      val idf = (dbl("n") - dbl("df") + lit(0.5)) / (dbl("df") + lit(0.5))
      val tfn = dbl("tf") * lit(2.2) /
        (dbl("tf") + lit(1.2) *
          (lit(0.25) + lit(0.75) * (dbl("dl") * dbl("n") / dbl("sdl"))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(dfreq, Seq("term")).crossJoin(broadcast(g))
        .withColumn("score",
          round((idf * tfn).cast(DecimalType(18, 8)), 6).cast(DoubleType))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .where(col("rk") <= 3)
        .select("doc_id", "rk", "term", "tf", "score")
        .orderBy("doc_id", "rk").collect()
      graft.operators.OpCaches.releaseAll()
    }
    time("qt14 tf cached")(bm25cached())
    time("qt14_bm25 again")(run("qt14_bm25"))
  }

  test("r10 weak-set warm floors (waiver record measurement)") {
    assume(sys.env.get("GRAFT_PERFLAB").contains("1"))
    // same materialization protocol as Bench (toRdd keeps the final sort)
    def run(q: String): Unit = {
      SparkEntry.queries(q)(spark, sf).queryExecution.toRdd.count()
      graft.operators.OpCaches.releaseAll()
      spark.catalog.clearCache()
    }
    val weak = Seq("q50_recursive", "qt25_bpe", "qc8_tokenbudget",
      "q137_ppr", "q123_kcore", "q133_bfshop", "q131_assort",
      "q68_pagerank", "q127_lpa", "qx15_bootstrap")
    weak.foreach(q => run(q)) // one warm lap so no query pays JVM warmup
    weak.foreach(q => time(q)(run(q)))
  }

  test("t6/t7 stage decomposition: sketch-only path vs exact-audit columns") {
    assume(sys.env.get("GRAFT_PERFLAB").contains("1"))
    import org.apache.spark.sql.functions._
    def el = graft.queries.Llm.thetaElements(
      graft.Tables(spark, sf, "lineitem"))
    // the path a 100 TB deployment actually runs: ONE partial-agg pass
    def sketchOnly(): Unit = {
      el.groupBy("src").agg(expr("bottom_k(h, 256)").as("bk")).collect()
      spark.catalog.clearCache()
    }
    // the shipped query = sketch + exact-audit distinct + self-join
    def full(): Unit = {
      SparkEntry.queries("t6_theta")(spark, sf)
        .queryExecution.toRdd.count()
      graft.operators.OpCaches.releaseAll()
      spark.catalog.clearCache()
    }
    time("t6 sketch-only pass")(sketchOnly())
    time("t6 full (with audit)")(full())
    time("t6 sketch-only again")(sketchOnly())
  }

  test("graph family: capped-basket edge build — window+self-join vs collect_set+HOF pairs") {
    assume(sys.env.get("GRAFT_PERFLAB").contains("1"))
    import org.apache.spark.sql.functions._
    // variant A: the shipped shape (distinct -> window cap -> self-join
    // on o -> groupBy(u,v))
    def viaJoin(): Long = {
      val b = graft.operators.BasketCap.capParts(
        graft.Tables(spark, sf, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct(), "o", "p")
      val e = b.as("a")
        .join(b.as("bb"), col("a.o") === col("bb.o")
          && col("a.p") < col("bb.p"))
        .groupBy(col("a.p").as("u"), col("bb.p").as("v"))
        .agg(count(lit(1)).as("w12"))
        .filter(col("w12") >= 2L)
        .select("u", "v")
      e.count()
    }
    // variant B: one partial-aggregatable collect_set shuffle + in-row
    // HOF pair generation (no window, no self-join)
    def viaHof(): Long = {
      val baskets = graft.Tables(spark, sf, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .groupBy("o")
        .agg(expr("slice(array_sort(collect_set(p)), 1, 64)").as("ps"))
      val e = baskets
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> " +
            "transform(slice(ps, i + 2, size(ps) - i - 1), " +
            "y -> named_struct('u', x, 'v', y))))")).as("pr"))
        .groupBy(col("pr.u").as("u"), col("pr.v").as("v"))
        .agg(count(lit(1)).as("w12"))
        .filter(col("w12") >= 2L)
        .select("u", "v")
      e.count()
    }
    val a = time("edges via window+join")(viaJoin())
    val b = time("edges via collect_set+HOF")(viaHof())
    val a2 = time("edges via window+join again")(viaJoin())
    info(s"A=$a B=$b A2=$a2")
  }

  test("q76 morton: HOF vs codegen expression") {
    assume(sys.env.get("GRAFT_PERFLAB").contains("1"))
    import org.apache.spark.sql.functions._
    val (x1, x2, y1, y2) = (262144L, 524287L, 131072L, 393215L)
    val zmin = graft.operators.Scale.mortonKey(x1, y1)
    val zmax = graft.operators.Scale.mortonKey(x2, y2)
    def boxAgg(zcol: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val pts = Tables(spark, sf, "events").select(
          ((col("event_id") * 2654435761L) % 1048576L).as("x"),
          ((col("event_id") * 69069L + 12345L) % 1048576L).as("y"))
      val z = zcol(pts)
      val inZ = col("z").between(zmin, zmax)
      val inBox = inZ && col("x").between(x1, x2) && col("y").between(y1, y2)
      z.agg(sum(when(inZ, 1L).otherwise(0L)), sum(when(inBox, 1L))).collect()
    }
    time("q76 HOF zorder2")(boxAgg(_.withColumn("z", graft.operators.Scale.zorder2("x", "y"))))
    time("q76 codegen morton2")(boxAgg(_.withColumn("z", expr("morton2(x, y)"))))
    time("q76 HOF again")(boxAgg(_.withColumn("z", graft.operators.Scale.zorder2("x", "y"))))
  }

  test("iterative family at 10x scale: per-round floors amortize") {
    // The r10-r12 waiver ledger says the iterative family's >2x-oracle
    // ratios are per-round job floors x iteration counts that amortize
    // at scale; no sf1 fixture has landed, so this derives one: 10
    // key-offset copies of the sf0.1 tables (disjoint keys = 10
    // disconnected copies of every graph; deterministic, driver data
    // only). Single-file outputs so tools/time_oracle.py can replay
    // the DuckDB oracle on the same scaled relations.
    assume(sys.env.get("GRAFT_PERFLAB").contains("1"))
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = sf
    val out = "target/sf1x"
    val done = Paths.get(s"$out/_done")
    if (!Files.exists(done)) {
      Files.createDirectories(Paths.get(out))
      def scaled(name: String, keyOffsets: Map[String, Long]): Unit = {
        val base = spark.read.parquet(s"$src/$name.parquet")
        val copies = (0 until 10).map { i =>
          keyOffsets.foldLeft(base) { case (df, (c, off)) =>
            df.withColumn(c, col(c) + lit(i * off))
          }
        }.reduce(_ unionByName _)
        val tmp = s"$out/_tmp_$name"
        copies.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = Files.list(Paths.get(tmp)).iterator()
        var moved = false
        while (part.hasNext && !moved) {
          val p = part.next()
          if (p.toString.endsWith(".parquet")) {
            Files.move(p, Paths.get(s"$out/$name.parquet"),
              StandardCopyOption.REPLACE_EXISTING)
            moved = true
          }
        }
        graft.operators.SnapTable.destroy(spark, tmp)
      }
      val OFF = 100000000L
      scaled("lineitem", Map("l_orderkey" -> OFF, "l_partkey" -> OFF,
        "l_suppkey" -> OFF))
      scaled("documents", Map("doc_id" -> OFF))
      scaled("events", Map("event_id" -> OFF, "user_id" -> OFF))
      scaled("customer", Map("c_custkey" -> OFF))
      Seq("region", "nation", "supplier", "part", "orders", "embeddings")
        .foreach { t =>
          Files.copy(Paths.get(s"$src/$t.parquet"),
            Paths.get(s"$out/$t.parquet"),
            StandardCopyOption.REPLACE_EXISTING)
        }
      Files.writeString(done, "ok")
    }
    val family = Seq("q68_pagerank", "q127_lpa", "q123_kcore",
      "q133_bfshop", "q137_ppr", "q131_assort", "q50_recursive",
      "qt25_bpe", "qc8_tokenbudget", "qx15_bootstrap")
    family.foreach { q =>
      def run(dir: String): Double = {
        val t0 = System.nanoTime()
        try { SparkEntry.queries(q)(spark, dir).collect(); () }
        catch {
          case e: Throwable =>
            info(s"  $q at $dir FAILED: ${String.valueOf(e.getMessage).take(100)}")
        }
        graft.operators.OpCaches.releaseAll()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      val a1 = run(src); val b1 = run(out)
      val a2 = run(src); val b2 = run(out)
      info(f"$q%-18s sf0.1 ${math.min(a1, a2)}%6.2f s   10x ${math.min(b1, b2)}%6.2f s   growth ${math.min(b1, b2) / math.min(a1, a2)}%5.2f x")
    }
  }

  test("q163 zorder: rewrite cost at sf0.1") {
    assume(sys.env.get("GRAFT_PERFLAB").contains("1"))
    time("q163 zorder", 3) {
      SparkEntry.queries("q163_zorder")(spark, sf).collect()
      graft.operators.OpCaches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("graft-snap scan: columnar connector vs spark.read.parquet") {
    // Round-13 A/B for the verdict's "within ~1.2x of spark.read.parquet
    // on the same surviving files" goal: same files, same aggregate, the
    // connector's columnar decode vs Spark's own vectorized reader.
    assume(sys.env.get("GRAFT_PERFLAB").contains("1"))
    import org.apache.spark.sql.functions._
    import graft.operators.SnapTable
    val dir = "target/perflab-snap-scan"
    SnapTable.destroy(spark, dir)
    val li = Tables(spark, sf, "lineitem")
    SnapTable.commit(spark, dir, li.repartition(16))
    val files = SnapTable.files(spark, dir)
      .map(SnapTable.resolvePath(dir, _))
    def agg(df: org.apache.spark.sql.DataFrame): Unit = {
      df.agg(sum("l_quantity"), sum("l_extendedprice"),
        count("l_returnflag"), min("l_shipdate"), max("l_linestatus"))
        .collect(); ()
    }
    def viaConnector(): Unit =
      agg(spark.read.format("graft-snap").load(dir))
    def viaParquet(): Unit = agg(spark.read.parquet(files: _*))
    time("connector (columnar)", 5)(viaConnector())
    time("spark.read.parquet", 5)(viaParquet())
    time("connector again", 5)(viaConnector())
    SnapTable.destroy(spark, dir)
  }
}
