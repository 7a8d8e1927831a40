package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame => CDataFrame, Dataset => CDataset, SparkSession => CSparkSession}

/** Package-private bridge: building a DataFrame from a custom LogicalPlan
  * (`Dataset.ofRows`) is `private[sql]`, so third-party operators that add
  * logical nodes need this one-liner inside the sql package — the standard
  * pattern for Spark extension libraries. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** A Catalyst expression as a `Column` (the wrapper is `private[sql]`),
    * for an expression no SQL function names. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Block until the async listener bus has delivered every queued
    * event (the bus is `private[spark]`) — measurement tooling reads
    * listener-accumulated metrics through this instead of a fixed
    * sleep that can under-report the slowest stages. */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long = 10000L): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Deregister a listener added by measurement tooling. */
  def removeListener(spark: SparkSession,
                     l: org.apache.spark.scheduler.SparkListenerInterface): Unit =
    spark.sparkContext.listenerBus.removeListener(l)

  /** The SESSION's Hadoop configuration as a broadcast, for
    * executor-side FileSystem access (cloud-FS credentials and scheme
    * mappings live in spark.hadoop.*, NOT in executor defaults).
    * `sessionState.newHadoopConf()` — not `sc.hadoopConfiguration` —
    * so runtime per-session overrides (`spark.conf.set` of
    * spark.hadoop.* credentials) reach executors too.
    * `SerializableConfiguration` is private[spark], so the broadcast is
    * surfaced untyped and unwrapped here.
    *
    * CACHED per session (round 13): every Scan instantiation calling
    * this used to mint a fresh broadcast, and a long-lived session
    * planning many scans accumulated them without bound. The cache key
    * is a fingerprint of the runtime conf entries that feed
    * `newHadoopConf()` (spark.hadoop.* and fs.*), so a credential
    * rotated mid-session still reaches executors via a new broadcast;
    * superseded broadcasts are simply dropped — Spark's ContextCleaner
    * reclaims them once unreferenced. */
  def hadoopConfBroadcast(spark: SparkSession)
      : org.apache.spark.broadcast.Broadcast[_] = confCacheLock.synchronized {
    val fp = hadoopConfFingerprint(spark)
    Option(confCache.get(spark)) match {
      case Some((`fp`, b)) => b
      case _ =>
        val b = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            sessionHadoopConf(spark)))
        confCache.put(spark, (fp, b))
        b
    }
  }

  private val confCacheLock = new Object
  // weak keys: a discarded session must not be pinned by its cache row
  private val confCache =
    new java.util.WeakHashMap[SparkSession,
      (Seq[(String, String)], org.apache.spark.broadcast.Broadcast[_])]

  // the relevant entries THEMSELVES are the cache key (round-14 advisory
  // fix: a 32-bit hash collision after a credential rotation would have
  // silently reused the stale broadcast; the filtered seq is small, so
  // structural comparison is cheap and collision-free)
  private def hadoopConfFingerprint(spark: SparkSession)
      : Seq[(String, String)] =
    spark.conf.getAll.iterator.filter { case (k, _) =>
      k.startsWith("spark.hadoop.") || k.startsWith("fs.")
    }.toSeq.sorted

  def hadoopConf(b: org.apache.spark.broadcast.Broadcast[_])
      : org.apache.hadoop.conf.Configuration =
    b.value.asInstanceOf[org.apache.spark.util.SerializableConfiguration]
      .value

  /** Driver-side session Hadoop conf (sc defaults + spark.hadoop.* +
    * session runtime overrides) — `sessionState` is private[sql]. */
  def sessionHadoopConf(spark: SparkSession)
      : org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[CSparkSession].sessionState.newHadoopConf()

  /** V2 Predicate → V1 source Filter (runtime-filter predicates arrive
    * as V2 `Predicate`s) — `PredicateUtils` is private[sql]. */
  def predicateToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)
}
