package graft

import graft.operators.Scale
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("salted count/sum equal plain groupBy on skewed data") {
    import spark.implicits._
    // one hot key with 10k rows, a long tail of singletons
    val df = (Seq.fill(10000)("hot") ++ (1 to 500).map(i => s"k$i"))
      .zipWithIndex.toDF("k", "v")
    val plainC = df.groupBy("k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val saltedC = Scale.saltedCount(df, "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(saltedC === plainC)
    val plainS = df.groupBy("k").sum("v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val saltedS = Scale.saltedSum(df, "k", "v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(saltedS === plainS)
  }

  test("same-bucketed tables join without a shuffle") {
    val orders = Tables(spark, TestSpark.Sf, "orders")
    val lineitem = Tables(spark, TestSpark.Sf, "lineitem")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Scale.writeBucketed(orders, "b_orders", "o_orderkey", 8)
    Scale.writeBucketed(lineitem, "b_lineitem", "o_orderkey", 8)
    val joined = Scale.bucketedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    // and it still computes the right thing
    val li = Tables(spark, TestSpark.Sf, "lineitem")
    val m = li.join(orders, li("l_orderkey") === orders("o_orderkey")).count()
    assert(joined.count() === m)
    // clean the default warehouse (tables live under ./spark-warehouse)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
  }

  test("writeBucketed is idempotent: stale managed location from a dead JVM") {
    // the failure mode: a PREVIOUS JVM left the managed-table directory
    // in the warehouse, this session's in-memory catalog has never heard
    // of the table — a bare overwrite saveAsTable then throws
    // LOCATION_ALREADY_EXISTS. Simulate by dropping the catalog entry
    // and re-creating the bare directory, then write again.
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Scale.writeBucketed(df, "b_idem", "k", 2)
    spark.sql("DROP TABLE b_idem") // managed drop deletes the location
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(wh, "b_idem")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc) // the stale-location corpse
    fs.create(new org.apache.hadoop.fs.Path(loc, "stale.parquet")).close()
    Scale.writeBucketed(df, "b_idem", "k", 2) // must not throw
    assert(spark.table("b_idem").count() === 2)
    // and a plain same-session rerun also works
    Scale.writeBucketed(df, "b_idem", "k", 2)
    assert(spark.table("b_idem").count() === 2)
    spark.sql("DROP TABLE IF EXISTS b_idem")
  }

  test("saltedJoin equals the plain join: skew, null keys, empty small side") {
    import spark.implicits._
    // one hot key, a tail, and null-key rows on BOTH sides (equi-join
    // semantics: nulls never match — the salt must not change that)
    val large = (Seq.fill(5000)(Option(0L)) ++ (1L to 300L).map(Option(_))
      ++ Seq.fill(7)(Option.empty[Long]))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val small = ((0L to 150L).map(Option(_)) ++ Seq(Option.empty[Long]))
      .map(k => (k, k.map(_ * 10).getOrElse(-1L))).toDF("k", "w")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "w").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val plain = canon(large.join(small, Seq("k")))
    val salted = canon(Scale.saltedJoin(large, small, "k"))
    assert(salted === plain)
    assert(plain.count(_._1 == 0L) === 5000) // the hot key really joined
    // empty small side → empty result, not an error
    assert(Scale.saltedJoin(large, small.filter(lit(false)), "k").count() === 0)
  }

  test("mortonKey (driver), zorder2 (HOF), morton2 (codegen) agree bit for bit") {
    import spark.implicits._
    // LCG-spread coordinates across the full 21-bit domain + the corners
    val pts = ((0L until 500L).map(i =>
        ((i * 2654435761L) % 2097152L, (i * 69069L + 12345L) % 2097152L))
      ++ Seq((0L, 0L), (2097151L, 2097151L), (2097151L, 0L), (0L, 2097151L)))
    val got = pts.toDF("x", "y")
      .withColumn("z", Scale.zorder2("x", "y"))
      .withColumn("zn", org.apache.spark.sql.functions.expr("morton2(x, y)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got.foreach { case (x, y, z, zn) =>
      assert(z === Scale.mortonKey(x, y), s"HOF mismatch at ($x,$y)")
      assert(zn === z, s"codegen mismatch at ($x,$y)")
    }
    // out-of-domain inputs mask to 21 bits identically in all three
    val odd = Seq((-1L, 5L), (1L << 40, 123L), (2097152L, 2097153L))
    val got2 = odd.toDF("x", "y")
      .withColumn("z", Scale.zorder2("x", "y"))
      .withColumn("zn", org.apache.spark.sql.functions.expr("morton2(x, y)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got2.foreach { case (x, y, z, zn) =>
      assert(z === Scale.mortonKey(x, y) && zn === z, s"domain-mask mismatch at ($x,$y)")
    }
  }

  test("q77: the bucketed join itself has no exchange on the join key") {
    // makes the q77 comment's zero-shuffle claim a tested fact: the only
    // hashpartitioning exchange in the plan is the final groupBy's
    // (l_returnflag) — neither join side re-partitions on k
    val df = graft.queries.Relational.queries("q77_smbjoin")(spark, TestSpark.Sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning(k"),
      s"bucketed q77 join still shuffles on the join key:\n$p")
    spark.sql("SHOW TABLES").collect().map(_.getString(1))
      .filter(_.startsWith("g77_")).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("partitioned write prunes directories at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Scale.writePartitioned(
      Tables(spark, TestSpark.Sf, "documents"), dir, Seq("lang"))
    val scan = spark.read.parquet(dir).filter(org.apache.spark.sql.functions.col("lang") === "en")
    val n = scan.count()
    val expected = Tables(spark, TestSpark.Sf, "documents")
      .filter("lang = 'en'").count()
    assert(n === expected)
    val plan = scan.queryExecution.executedPlan.toString
    // the lang predicate must sit INSIDE the PartitionFilters list
    // (directory-level pruning) and NOT in the pushed data filters —
    // a bare substring check on the whole plan would pass vacuously
    // (the schema string always contains 'lang')
    def bracketed(tag: String): String =
      s"$tag: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(bracketed("PartitionFilters").contains("lang"),
      s"lang not in PartitionFilters:\n$plan")
    assert(!bracketed("PushedFilters").toLowerCase.contains("lang"),
      s"partition column leaked into pushed data filters:\n$plan")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("AQE splits a skewed sort-merge join at runtime (no salting needed)") {
    // the runtime half of the skew story: saltedCount/saltedSum handle
    // skewed AGGREGATIONS; skewed JOINS are AQE's job — one hot key
    // whose partition dwarfs the advisory size must be split into
    // parallel sub-partitions at runtime, visible as skew=true /
    // AQEShuffleRead(skewed) in the final plan. Thresholds are lowered
    // so the property shows at test scale; production keeps defaults.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      val pay = "x" * 200
      val left = spark.range(0, 120000)
        .selectExpr("CAST(0 AS BIGINT) AS k", s"'$pay' AS pay")
        .union(spark.range(1, 2001).selectExpr("id AS k", s"'$pay' AS pay"))
      val right = spark.range(0, 2001).selectExpr("id AS k", "id AS v")
      val j = left.join(right, "k")
      // execute j's OWN queryExecution (count() would plan a separate
      // aggregate and leave this one isFinalPlan=false)
      assert(j.collect().length === 120000 + 2000) // split must not change results
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true") || p.contains("skewed"),
        s"AQE did not split the skewed join:\n$p")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // the third leg of the join-pruning story (static partition pruning,
    // AQE skew, THIS): when a shuffle join's build side carries a
    // selective filter, Catalyst injects a bloom filter of the build
    // keys into the probe side's scan stage, discarding non-joining
    // fact rows BEFORE the shuffle — at 100 TB that's the difference
    // between shuffling the whole fact table and shuffling the ~1% that
    // can join. Thresholds are lowered to make the property visible at
    // test scale (the application-side default is 10 GB); production
    // keeps defaults.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold", // force a shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val saved = keys.map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      val li = Tables(spark, TestSpark.Sf, "lineitem")
      val o = Tables(spark, TestSpark.Sf, "orders")
        .filter(org.apache.spark.sql.functions.col("o_totalprice") > 300000)
      val j = li.join(o,
        org.apache.spark.sql.functions.col("l_orderkey")
          === org.apache.spark.sql.functions.col("o_orderkey"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$p")
      // and the filter is semantics-preserving
      val expected = Tables(spark, TestSpark.Sf, "lineitem")
        .join(Tables(spark, TestSpark.Sf, "orders")
          .filter(org.apache.spark.sql.functions.col("o_totalprice") > 300000),
          org.apache.spark.sql.functions.col("l_orderkey")
            === org.apache.spark.sql.functions.col("o_orderkey"))
      assert(j.count() === { conf.set(keys.head, saved.head._2); expected.count() })
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    // static pruning (test above) needs the literal predicate ON the
    // partition column; DPP covers the star-join shape — the filter sits
    // on the DIMENSION, and the fact side's partition list is computed
    // at runtime from the dim's join keys (reusing the broadcast). The
    // fact scan's PartitionFilters then carries a dynamicpruning#
    // subquery instead of reading every lang directory.
    // NB the dim's filter must sit on a NON-join column: a literal
    // predicate on the join key itself propagates to the fact scan as a
    // STATIC PartitionFilter through constraint inference (no runtime
    // subquery needed — Catalyst's even-cheaper path, worth knowing).
    import org.apache.spark.sql.functions._
    val dir = "target/scale-dpp"
    Scale.writePartitioned(
      Tables(spark, TestSpark.Sf, "documents").select("doc_id", "lang", "n_chars"),
      dir, Seq("lang"))
    val fact = spark.read.parquet(dir)
    val dim = Tables(spark, TestSpark.Sf, "documents")
      .select(col("lang"), col("source")).distinct()
      .filter(col("source") === "src7")
    val j = fact.join(dim, Seq("lang"))
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"no DPP subquery in the fact scan:\n$p")
    val langs = Tables(spark, TestSpark.Sf, "documents")
      .filter(col("source") === "src7").select("lang").distinct().count()
    val exact = Tables(spark, TestSpark.Sf, "documents")
      .join(dim, Seq("lang")).count()
    assert(langs > 0 && j.count() === exact)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("sharded write: one file per shard, exact within-shard order, no global sort") {
    val docs = Tables(spark, TestSpark.Sf, "documents")
      .select(col("doc_id"),
        ((lit(1103515245L) * (col("doc_id") % 2147483648L) + 12345L)
          % 2147483648L).as("h"))
      .withColumn("shard", col("h") % 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    Scale.writeSharded(docs, dir, "shard", 8, Seq("h", "doc_id"))

    val shardDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    for (sd <- shardDirs) {
      val files = sd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"${sd.getName}: expected one file per shard, got ${files.length}")
      // parquet preserves row order within a file: read THIS file alone
      // and require exactly the (h, doc_id) order the contract declares
      val rows = spark.read.parquet(files.head.getPath)
        .select("h", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.nonEmpty)
      assert(rows.sameElements(rows.sortBy(identity)),
        s"${sd.getName}: rows not in (h, doc_id) order")
    }
    // completeness: the shards reassemble the exact input relation
    val n = spark.read.parquet(dir).count()
    assert(n === docs.count())
  }

  test("z-order layout prunes a box predicate on BOTH coordinates") {
    import spark.implicits._
    // 64k points on a 256x256 grid, one row per cell — any box query
    // touches a contiguous 2-D region. 32 output files per layout.
    val pts = (0 until 256).flatMap(x => (0 until 256).map(y => (x.toLong, y.toLong)))
      .toDF("cx", "cy")
    val zdir = java.nio.file.Files.createTempDirectory("graft-z").toString
    val xdir = java.nio.file.Files.createTempDirectory("graft-x").toString
    Scale.writeZOrdered(pts, zdir, "cx", "cy", files = 32)
    pts.repartitionByRange(32, $"cx").sortWithinPartitions("cx")
      .write.mode("overwrite").parquet(xdir)
    def scannedRows(dir: String): (Long, Long) = {
      // a full-width band in cy: the x-sorted layout's every file spans
      // all cy values, so its stats prune NOTHING; z-ordered files have
      // tight envelopes in both coordinates and drop out of the scan
      val q = spark.read.parquet(dir).filter("cy BETWEEN 100 AND 107")
      val res = q.collect().length.toLong // materialize → final metrics
      val leaf = q.queryExecution.executedPlan.collectLeaves().head
      (res, leaf.metrics("numOutputRows").value)
    }
    val (zRes, zRows) = scannedRows(zdir)
    val (xRes, xRows) = scannedRows(xdir)
    assert(zRes === 256L * 8 && xRes === 256L * 8) // identical results
    assert(zRows < xRows,
      s"z-order did not prune: z-layout scanned $zRows rows, x-layout $xRows")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(zdir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(xdir))
  }
}
