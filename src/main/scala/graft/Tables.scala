package graft

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loaders for the driver-generated star schema
  * (see TESTDATA.md / FIXTURES.md §1). One parquet file per table;
  * schemas are declared by the files themselves (parquet footer), and
  * full filter/column pushdown applies. Every load goes through
  * `parquet`, which infers a table's schema once and caches it under the
  * table's qualified path, valid while its files' modification times and
  * lengths and the Parquet type-mapping confs stay the same.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  /** Session confs that change how Parquet types map to Spark types —
    * part of the cache key, so a conf flip re-infers. */
  private val TypeConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** (path, modification time, length) of every file under a table path
    * — one entry for a single-file table — plus the `TypeConfs` values. */
  private type Identity = (Seq[(String, Long, Long)], Seq[Option[String]])

  /** qualified table path -> (identity, inferred schema) */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Identity, StructType)]()

  /** Read a parquet table, inferring its schema only the first time its
    * files are seen. An un-schema'd `spark.read.parquet` runs a one-task
    * footer job on every call; a cached schema is declared instead, which
    * runs none. The cache holds ONE entry per qualified path, keyed by the
    * modification time and length of its files plus the `TypeConfs`
    * values: a file rewritten in place or a changed conf re-infers and
    * replaces the entry, so the cache is bounded by the number of tables
    * read. */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(GraftBridge.sessionHadoopConf(spark))
    val listing = fs.listFiles(p, true)
    val files = Iterator.continually(listing).takeWhile(_.hasNext)
      .map(_.next()).map(st =>
        (st.getPath.toString, st.getModificationTime, st.getLen))
      .toList.sorted
    val identity: Identity = (files, TypeConfs.map(spark.conf.getOption))
    val key = fs.makeQualified(p).toString
    Option(schemas.get(key)) match {
      case Some((id, schema)) if id == identity =>
        spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemas.put(key, (identity, df.schema))
        df
    }
  }

  /** events.ts has shipped as INT64 TIMESTAMP(NANOS) parquet (which Spark's
    * vectorized reader rejects — read as raw nanos via the legacy conf and
    * narrow with lossless integer division; the generator emits
    * micro-precision values), and as TIMESTAMP(MICROS) without timezone
    * (→ TIMESTAMP_NTZ). Normalize every generation of the fixture to
    * session-tz TIMESTAMP — sessions pin UTC, so the NTZ cast is an
    * identity on the stored micros, matching DuckDB's naive read.
    */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquet(spark, s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  /** Register temp views for SQL-form queries, then run the SQL. */
  def sql(spark: SparkSession, dir: String, q: String, tables: String*): DataFrame = {
    tables.foreach(t => apply(spark, dir, t).createOrReplaceTempView(t))
    spark.sql(q)
  }
}

/** Determinism conventions shared by every query (SURVEY §5.3).
  *
  * D1: no floating aggregation — sums go through DECIMAL(18,6) casts of
  *     row-level (IEEE-deterministic) double expressions; decimal addition
  *     is exact and order-independent, so shuffle/partial-agg order cannot
  *     change results.
  * D3/D4: final numeric display = ROUND(..., n) then CAST AS DOUBLE in
  *     BOTH engines — a decimal with <= n fractional digits converts to
  *     the nearest double identically everywhere, and it sidesteps
  *     Spark-vs-DuckDB decimal precision/scale widening differences.
  */
object Conv {
  val D186: DecimalType = DecimalType(18, 6)

  def dec6(c: Column): Column = c.cast(D186)

  /** Exact, order-independent SUM of a row-level double expression. */
  def sumDec6(c: Column): Column = sum(dec6(c))

  /** Final display rounding: ROUND(x, 4) AS DOUBLE (both engines). */
  def r4(c: Column): Column = round(c, 4).cast(DoubleType)

  def r6(c: Column): Column = round(c, 6).cast(DoubleType)

  /** Exact integer FLOOR division (Math.floorDiv semantics) in pure
    * long arithmetic: Spark's `div` AND DuckDB's integer `//` BOTH
    * truncate toward zero (measured: -7 // 2 = -3 in DuckDB), while the
    * streaming folds' Math.floorDiv floors — so on negative numerators
    * (pre-1970 epoch micros) a bare `div`/`//` pair agrees with itself
    * but diverges from the stateful folds; an oracle replaying a
    * negative-numerator floor must use this same pmod identity inline
    * (q132 does). pmod(n, d) is always
    * in [0, d) for d > 0, so (n - pmod(n, d)) is the largest multiple
    * of d <= n; integer `div` of that exact multiple is then the floor
    * quotient with no IEEE rounding anywhere (valid for ALL longs). */
  def floorDiv(n: Column, d: Long): Column = {
    require(d > 0, s"floorDiv divisor must be positive, got $d")
    call_function("div", n - pmod(n, lit(d)), lit(d))
  }
}
