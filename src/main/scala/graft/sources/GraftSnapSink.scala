package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference,
  Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

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
  * Files are written by [[SnapFileWriter]], the one writer of every
  * snapshot data file (`SnapTable.commit` and SQL UPDATE/MERGE use it
  * too), over Spark's own parquet writer — so every type a commit
  * accepts streams too, and timestamps follow the session's
  * `spark.sql.parquet.outputTimestampType`.
  *
  * Scale: each epoch is O(task files) executor writes, each task also
  * leaving its file's finished manifest line; the driver's commit
  * streams those lines into the manifest and runs no Spark job. The
  * idempotence walk is header-only and O(1) in steady state (the
  * query's previous batch is the latest version). */
final case class SnapStreamFileMessage(name: Option[String])
    extends WriterCommitMessage

final class SnapStreamingWrite(dir: String, schema: StructType,
                               queryId: String)
    extends StreamingWrite {

  private def commitIdOf(epochId: Long) = s"stream-$queryId-e$epochId"

  // the pruning declarations this epoch's tasks computed their lines
  // under; the commit re-checks them against the version it extends
  @volatile private var decl: SnapTable.Declared = _

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    val spark = SparkSession.active
    decl = SnapTable.declared(spark, dir)
    new SnapStreamWriterFactory(queryId, SnapFileSpec(spark, dir, schema, decl))
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val names = messages.toSeq
      .collect { case SnapStreamFileMessage(Some(n)) => n }.sorted
    // replayed epoch (recovery re-runs the batch whose commit may or
    // may not have landed): the marker is IN the committed manifest,
    // so the check and the data are consistent by construction. An
    // empty epoch commits nothing: no version churn, and its replay is
    // vacuously exactly-once
    if (SnapTable.lastStreamEpoch(spark, dir, queryId) >= epochId ||
        names.isEmpty) {
      SnapTable.dropLines(spark, dir, commitIdOf(epochId))
      return
    }
    // the epoch marker is re-verified INSIDE the commit's re-validation
    // (round-14 advisory fix): the check above is check-then-act, and a
    // lost-race append retry re-bases on a winner that may BE this very
    // epoch committed by a zombie driver of the same query — the
    // re-check inside carriedFor makes such a retry abort idempotently
    try SnapTable.commitExisting(spark, dir, commitIdOf(epochId), names,
      schema, decl, Map("streamQuery" -> queryId,
        "streamEpoch" -> epochId.toString),
      revalidate = prevV =>
        if (SnapTable.lastStreamEpochFrom(spark, dir, prevV, queryId)
            >= epochId)
          throw new SnapTable.EpochCommittedException(epochId))
    catch { case _: SnapTable.EpochCommittedException => return }
    ()
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    SnapFileWriter.dropAll(dir, commitIdOf(epochId), messages)
}

final class SnapStreamWriterFactory(queryId: String, spec: SnapFileSpec)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    // taskId in the name keeps retried/speculative attempts disjoint;
    // the commit coordinator picks exactly one winner per partition
    new SnapFileWriter(spec, s"stream-$queryId-e$epochId", partitionId, taskId)
}

/** What a task needs to write the data files of one table: Spark's
  * parquet writer prepared once on the driver, and the table's pruning
  * declarations as data-row ordinals plus the stat inputs as Catalyst
  * expressions bound to the data row — `cast(c AS long)` per stat
  * column and the two `pmod(xxhash64(…), m)` bloom positions, analyzed
  * once under the session's ANSI and time-zone settings, so a task
  * evaluates exactly what a declarative aggregate over the file would. */
final class SnapFileSpec private (val job: GraftBridge.ParquetWriteJob,
    val dir: String, val statOrd: Array[Int], val bloom: Option[(Int, Int)],
    val strOrd: Array[Int], val exprs: Seq[Expression]) extends Serializable

object SnapFileSpec {
  def apply(spark: SparkSession, dir: String, schema: StructType,
            decl: SnapTable.Declared): SnapFileSpec = {
    decl.bloom.foreach { case (_, m) =>
      require(m % 64 == 0 && m > 0, s"bloom bits must be a multiple of 64, got $m")
    }
    val input = LocalRelation(DataTypeUtils.toAttributes(schema))
    def bound(cs: Seq[org.apache.spark.sql.Column]): Seq[Expression] =
      GraftBridge.ofRows(spark, input).select(cs: _*).queryExecution.analyzed match {
        case Project(list, _) => BindReferences.bindReferences(list, input.output)
      }
    def ordinals(cs: Seq[String]): Array[Int] =
      bound(cs.map(col)).map { case b: BoundReference => b.ordinal }.toArray
    val stats = decl.statCols.map(c => col(c).cast("long")) ++
      decl.bloom.toSeq.flatMap { case (c, m) =>
        val v = col(c).cast("long")
        Seq(pmod(xxhash64(v), lit(m.toLong)),
          pmod(xxhash64(v, lit(SnapTable.BloomSeed)), lit(m.toLong)))
      }
    new SnapFileSpec(GraftBridge.parquetWriteJob(spark, schema), dir,
      ordinals(decl.statCols),
      decl.bloom.map { case (c, m) => (ordinals(Seq(c)).head, m) },
      ordinals(decl.strStatCols), if (stats.isEmpty) Nil else bound(stats))
  }
}

/** The one per-task writer of snapshot data files: one parquet file
  * under `dir/data/<commitId>/` through Spark's own parquet writer, and
  * beside it the file's finished manifest line — row count, zone cells,
  * non-null counts, truncated string bounds and bloom words, folded
  * row by row while the file is written. On commit the line lands in a
  * sidecar under `_manifests/tmp-<commitId>/`, and only the file name
  * returns to the driver, which streams the sidecars into the manifest.
  * The file is created on the first row, so an empty partition writes
  * nothing; `eager` (partition 0 of a DataFrame write) writes a zero-row
  * file even then, as Spark's own file writer does for an empty job. */
final class SnapFileWriter(spec: SnapFileSpec, commitId: String,
                           partitionId: Int, taskId: Long,
                           eager: Boolean = false)
    extends DataWriter[InternalRow] {
  private val name = f"part-$partitionId%05d-t$taskId.parquet"
  private val path = new Path(s"${spec.dir}/data/$commitId/$name")
  private var writer: OutputWriter = _

  private val nStat = spec.statOrd.length
  private val proj = if (spec.exprs.isEmpty) null else UnsafeProjection.create(spec.exprs)
  private var rows = 0L
  private val lo = Array.fill(nStat)(Long.MaxValue)
  private val hi = Array.fill(nStat)(Long.MinValue)
  private val nonNull = new Array[Long](nStat)
  private val sLo = new Array[UTF8String](spec.strOrd.length)
  private val sHi = new Array[UTF8String](spec.strOrd.length)
  private val bloomOrd = spec.bloom.fold(-1)(_._1)
  private val words = spec.bloom.map { case (_, m) => new Array[Long](m / 64) }.orNull
  private var bloomed = false
  private def setBit(p: Long): Unit = words((p / 64).toInt) |= 1L << (p % 64)

  private def open(): Unit = {
    // a replayed epoch after a restart reuses task ids, so its file
    // may already hold an uncommitted attempt's partial output
    path.getFileSystem(spec.job.hadoopConf).delete(path, false)
    writer = spec.job.open(path.toString)
  }

  override def write(row: InternalRow): Unit = {
    if (writer == null) open()
    writer.write(row)
    rows += 1
    if (proj != null) {
      val s = proj(row)
      var i = 0
      while (i < nStat) {
        if (!s.isNullAt(i)) {
          val v = s.getLong(i)
          if (v < lo(i)) lo(i) = v
          if (v > hi(i)) hi(i) = v
        }
        i += 1
      }
      if (words != null && !row.isNullAt(bloomOrd)) {
        bloomed = true
        setBit(s.getLong(nStat))
        setBit(s.getLong(nStat + 1))
      }
    }
    // non-null counts read the RAW column, so a stat value whose cast
    // nulls out still counts
    var i = 0
    while (i < nStat) {
      if (!row.isNullAt(spec.statOrd(i))) nonNull(i) += 1
      i += 1
    }
    // string bounds compare as UTF8String binary order
    i = 0
    while (i < sLo.length) {
      val o = spec.strOrd(i)
      if (!row.isNullAt(o)) {
        val u = row.getUTF8String(o)
        if (sLo(i) == null || u.compareTo(sLo(i)) < 0) sLo(i) = u.clone()
        if (sHi(i) == null || u.compareTo(sHi(i)) > 0) sHi(i) = u.clone()
      }
      i += 1
    }
  }

  /** The manifest line of the written file (format in `SnapTable`). A
    * zero-row file records empty zone and bloom cells and zero counts;
    * an all-null stat column the unprunable `-,-`. String bounds are
    * hex of UTF-8, truncated to 16 characters the Iceberg way: the
    * upper bound of a longer maximum increments its 16th character,
    * and only an ASCII 1..125 one, else it records the unprunable `-`. */
  private def line: String = {
    def hex(b: Array[Byte]) = b.map(x => f"$x%02X").mkString
    val zone =
      if (nStat == 0 || rows == 0) ""
      else (0 until nStat).map(i =>
        if (lo(i) > hi(i)) "-,-" else s"${lo(i)},${hi(i)}").mkString(",")
    val bloomCell =
      if (!bloomed) ""
      else words.map { w =>
        val h = java.lang.Long.toHexString(w)
        "0" * (16 - h.length) + h
      }.mkString("B", "", "")
    def upper(u: UTF8String): String =
      if (u.numChars <= 16) hex(u.getBytes)
      else {
        val c = u.substring(15, 16).toString.codePointAt(0)
        if (c < 1 || c > 125) "-"
        else hex((u.substring(0, 15).toString + (c + 1).toChar).getBytes("UTF-8"))
      }
    val strCells = sLo.indices.map { i =>
      (if (sLo(i) == null) "-" else hex(sLo(i).substring(0, 16).getBytes)) + "," +
        (if (sHi(i) == null) "-" else upper(sHi(i)))
    }
    (Seq(s"data/$commitId/$name", zone, bloomCell, rows.toString) ++
      (if (nStat + sLo.length == 0) Nil else Seq(nonNull.mkString(","))) ++
      (if (sLo.isEmpty) Nil else Seq(strCells.mkString(",")))).mkString("\t")
  }

  override def commit(): WriterCommitMessage = {
    if (writer == null && eager) open()
    if (writer == null) return SnapStreamFileMessage(None)
    writer.close()
    val side = new Path(SnapTable.linePath(spec.dir, commitId, name))
    val out = side.getFileSystem(spec.job.hadoopConf).create(side, true)
    try out.write(line.getBytes("UTF-8")) finally out.close()
    SnapStreamFileMessage(Some(name))
  }

  override def abort(): Unit = {
    if (writer != null) {
      try writer.close() catch { case scala.util.control.NonFatal(_) => () }
      try { path.getFileSystem(spec.job.hadoopConf).delete(path, false); () }
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  override def close(): Unit = ()
}

object SnapFileWriter {
  /** Best-effort cleanup of an aborted write: its reported files and
    * every line sidecar. Uncommitted files are invisible orphans either
    * way (readers see only manifest-named files; vacuum reclaims). */
  def dropAll(dir: String, commitId: String,
              messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val conf = GraftBridge.sessionHadoopConf(spark)
    messages.foreach {
      case SnapStreamFileMessage(Some(n)) =>
        val p = new Path(s"$dir/data/$commitId/$n")
        try { p.getFileSystem(conf).delete(p, false); () }
        catch { case scala.util.control.NonFatal(_) => () }
      case _ => ()
    }
    SnapTable.dropLines(spark, dir, commitId)
  }
}
