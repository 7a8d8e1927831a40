package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.types._

import graft.operators.SnapTable

/** NATIVE STREAMING SINK for snap tables (round 13):
  *
  *   df.writeStream.format("graft-snap")
  *     .option("path", dir).option("checkpointLocation", ckpt).start()
  *
  * Each micro-batch lands as ONE snapshot commit: per-task writers
  * stream rows into immutable parquet files under
  * `dir/data/stream-<queryId>-e<epoch>/`, and the epoch's driver-side
  * commit appends exactly the files the tasks reported — the manifest
  * protocol's orphan isolation makes files from failed/speculative
  * task attempts invisible (only NAMED files exist to readers).
  *
  * EXACTLY-ONCE: the epoch id rides the commit's own `#meta:` header
  * (`streamQuery`/`streamEpoch`), so the marker and the data are ONE
  * atomic manifest rename — a crash between commit and checkpoint
  * write cannot double-land the batch: the recovered epoch's commit
  * sees its id already at/below the table's last committed epoch and
  * skips whole (the Delta txn idiom, previously only available through
  * the foreachBatch + batchId pattern — s16). Pruning declarations
  * (stat/bloom/string-stat) inherit from the extended manifest's
  * header on every epoch, so a streamed table keeps zone-map/bloom
  * pruning without per-query options.
  *
  * Files are written by Spark's own parquet writer
  * (`ParquetFileFormat.prepareWrite`, see [[SnapStreamDataWriter]]) —
  * the codec `SnapTable.commit` writes with — so every type a commit
  * accepts streams too, and timestamps follow the session's
  * `spark.sql.parquet.outputTimestampType`.
  *
  * Scale: each epoch is O(task files) executor writes + one O(files)
  * manifest job; the idempotence walk is header-only and O(1) in
  * steady state (the query's previous batch is the latest version). */
final case class SnapStreamFileMessage(name: Option[String])
    extends WriterCommitMessage

final class SnapStreamingWrite(dir: String, schema: StructType,
                               queryId: String)
    extends StreamingWrite {

  private def commitIdOf(epochId: Long) = s"stream-$queryId-e$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    new SnapStreamWriterFactory(dir, queryId,
      GraftBridge.parquetWriteJob(SparkSession.active, schema))

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    // replayed epoch (recovery re-runs the batch whose commit may or
    // may not have landed): the marker is IN the committed manifest,
    // so the check and the data are consistent by construction
    if (SnapTable.lastStreamEpoch(spark, dir, queryId) >= epochId) return
    val names = messages.toSeq
      .collect { case SnapStreamFileMessage(Some(n)) => n }.sorted
    // an empty epoch commits nothing: no version churn, and its replay
    // is vacuously exactly-once
    if (names.isEmpty) return
    // the epoch marker is re-verified INSIDE the commit's re-validation
    // (round-14 advisory fix): the check above is check-then-act, and a
    // lost-race append retry re-bases on a winner that may BE this very
    // epoch committed by a zombie driver of the same query — the
    // re-check inside carriedFor makes such a retry abort idempotently
    try SnapTable.commitExisting(spark, dir, commitIdOf(epochId), names,
      schema, Map("streamQuery" -> queryId,
        "streamEpoch" -> epochId.toString),
      revalidate = prevV =>
        if (SnapTable.lastStreamEpochFrom(spark, dir, prevV, queryId)
            >= epochId)
          throw new SnapTable.EpochCommittedException(epochId))
    catch { case _: SnapTable.EpochCommittedException => return }
    ()
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    // best-effort: uncommitted task files are invisible orphans either
    // way (readers see only manifest-named files; vacuum reclaims)
    val conf = org.apache.spark.sql.GraftBridge.sessionHadoopConf(
      SparkSession.active)
    messages.foreach {
      case SnapStreamFileMessage(Some(n)) =>
        val p = new Path(s"$dir/data/${commitIdOf(epochId)}/$n")
        try { p.getFileSystem(conf).delete(p, false); () }
        catch { case scala.util.control.NonFatal(_) => () }
      case _ => ()
    }
  }
}

final class SnapStreamWriterFactory(dir: String, queryId: String,
    job: GraftBridge.ParquetWriteJob)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new SnapStreamDataWriter(
      s"$dir/data/stream-$queryId-e$epochId",
      // taskId in the name keeps retried/speculative attempts disjoint;
      // the commit coordinator picks exactly one winner per partition
      f"part-p$partitionId%05d-t$taskId.parquet", job)
}

/** Per-task writer of one parquet file through Spark's own parquet
  * writer, whose job the driver prepared once. The file is created
  * LAZILY on the first row, so an empty partition emits no file at all
  * (mirroring Spark's own writer rule the manifest cross-check pins). */
final class SnapStreamDataWriter(genDir: String, name: String,
                                 job: GraftBridge.ParquetWriteJob)
    extends DataWriter[InternalRow] {
  private val path = new Path(s"$genDir/$name")
  private var writer: OutputWriter = _

  override def write(row: InternalRow): Unit = {
    if (writer == null) {
      // a replayed epoch after a restart reuses task ids, so its file
      // may already hold an uncommitted attempt's partial output
      path.getFileSystem(job.hadoopConf).delete(path, false)
      writer = job.open(path.toString)
    }
    writer.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    SnapStreamFileMessage(Option(writer).map(_ => name))
  }

  override def abort(): Unit = {
    if (writer != null) {
      try writer.close() catch { case scala.util.control.NonFatal(_) => () }
      try { path.getFileSystem(job.hadoopConf).delete(path, false); () }
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  override def close(): Unit = ()
}
