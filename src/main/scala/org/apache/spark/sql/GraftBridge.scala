package org.apache.spark.sql

import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame => CDataFrame, Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

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

  /** Spark's own parquet reader for one scan, built the way
    * `ParquetScan.createReaderFactory` builds it: one Hadoop conf per
    * scan carrying the read-support entries, broadcast once. Columns of
    * `partitionSchema` come from each `PartitionedFile`'s partition
    * values and follow the `readDataSchema` columns in every row and
    * batch. Data columns read nullable, as Spark's file sources read
    * them: a file that predates a column null-fills it. No filter is
    * pushed, so no row group is skipped. */
  def parquetReaderFactory(spark: SparkSession, dataSchema: StructType,
      readDataSchema: StructType, partitionSchema: StructType)
      : FilePartitionReaderFactory = {
    val conf = spark.asInstanceOf[CSparkSession].sessionState.conf
    val hadoopConf = sessionHadoopConf(spark)
    val readData = readDataSchema.asNullable
    val json = readData.json
    hadoopConf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, json)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, json)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, conf.sessionLocalTimeZone)
    Seq(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED -> conf.nestedSchemaPruningEnabled,
      SQLConf.CASE_SENSITIVE -> conf.caseSensitiveAnalysis,
      SQLConf.PARQUET_BINARY_AS_STRING -> conf.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP -> conf.isParquetINT96AsTimestamp,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED ->
        conf.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> conf.legacyParquetNanosAsLong,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION ->
        conf.parquetReaderRespectUnknownTypeAnnotation)
      .foreach { case (e, v) => hadoopConf.setBoolean(e.key, v) }
    ParquetPartitionReaderFactory(conf,
      SerializableConfiguration.broadcast(spark.sparkContext, hadoopConf),
      dataSchema.asNullable, readData, partitionSchema, Array.empty, None,
      new ParquetOptions(Map.empty[String, String], conf))
  }

  /** Spark's own parquet writer for one write job, prepared once on the
    * driver as the v2 `FileWriterFactory` is: `prepareWrite` fills the
    * job's conf (write support, codec, the session's timestamp type) and
    * returns the factory each task opens its file with. Columns are
    * written nullable, as every Spark file write does. */
  def parquetWriteJob(spark: SparkSession, schema: StructType): ParquetWriteJob = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(sessionHadoopConf(spark))
    val nullable = schema.asNullable
    new ParquetWriteJob(
      new ParquetFileFormat().prepareWrite(spark, job, Map.empty, nullable),
      nullable, new SerializableConfiguration(job.getConfiguration))
  }

  final class ParquetWriteJob private[sql] (factory: OutputWriterFactory,
      schema: StructType, conf: SerializableConfiguration) extends Serializable {
    def hadoopConf: org.apache.hadoop.conf.Configuration = conf.value

    /** A writer of one new file at `path`. */
    def open(path: String): OutputWriter =
      factory.newInstance(path, schema,
        new TaskAttemptContextImpl(conf.value, new TaskAttemptID()))
  }

  /** Runs `task` over each partition of `df`'s rows as ONE Spark job,
    * inside a SQL execution of `df`'s plan, as a file write runs. A plan
    * with no partitions runs one empty task, as Spark's file writer does,
    * so an empty input still reaches a writer. */
  def runPartitions[U: scala.reflect.ClassTag](df: DataFrame)(
      task: (TaskContext, Iterator[InternalRow]) => U): Array[U] = {
    val qe = df.asInstanceOf[CDataFrame].queryExecution
    val sc = df.sparkSession.sparkContext
    SQLExecution.withNewExecutionId(qe, Some("graft-snap write")) {
      val rdd = qe.toRdd
      sc.runJob(
        if (rdd.getNumPartitions > 0) rdd
        else sc.parallelize(Seq.empty[InternalRow], 1),
        task)
    }
  }

  /** V2 Predicate → V1 source Filter (runtime-filter predicates arrive
    * as V2 `Predicate`s) — `PredicateUtils` is private[sql]. */
  def predicateToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)
}
