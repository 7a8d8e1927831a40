package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.SnapTable

/** SQL UPDATE / MERGE / complex DELETE for snap tables — Spark's
  * group-based row-level operation API (`SupportsRowLevelOperations`,
  * the Iceberg copy-on-write shape):
  *
  *   UPDATE snap.db.t SET v = v * 2 WHERE k = 7
  *   MERGE INTO snap.db.t USING src ON t.id = src.id
  *     WHEN MATCHED THEN UPDATE SET ...
  *     WHEN NOT MATCHED THEN INSERT ...
  *   DELETE FROM snap.db.t WHERE <predicate SupportsDelete cannot express>
  *
  * How Spark drives it: the analyzer rewrites the statement over this
  * operation's OWN scan (which exposes the `_file` metadata column and
  * runtime filtering), the optimizer's group-filtering rule plants a
  * dynamic-pruning subquery that narrows the scan to exactly the files
  * holding matched rows, and `ReplaceData` hands this operation's
  * write the FULL new content of those files. The commit then swaps
  * the matched files for their replacements in one atomic manifest
  * version (SnapTable.commitReplace) — untouched files carry verbatim,
  * history stays readable. Simple translatable DELETEs never come
  * here: Spark's metadata-delete optimization routes them to
  * `SupportsDelete` (file-granular, no rewrite of survivors' rows).
  *
  * Scale: matched-group discovery is the runtime-filter path (zone/
  * bloom pruning THEN the _file IN subquery), the rewrite touches
  * matched files only (its tasks also build the new files' manifest
  * lines), and the driver streams the manifest, skipping the replaced
  * lines — a keyed UPDATE at 100 TB is O(files holding the key). */
final class SnapRowLevelOperation(cmd: RowLevelOperation.Command,
                                  declared: StructType,
                                  props: Map[String, String])
    extends RowLevelOperation {

  private val dir = props.getOrElse("path",
    throw new IllegalArgumentException("graft-snap: no path"))

  /** The scan this operation's statement read — its post-runtime-
    * filter survivors ARE the replaced groups the write commits
    * against (Spark plans scan and write from this one instance). */
  @volatile private var cowScan: SnapScan = _

  override def command(): RowLevelOperation.Command = cmd

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(SnapScan.FileColumn))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val opts = options.asScala.toMap ++ props +
      (SnapScan.RowLevelOpt -> "true")
    new SnapScanBuilder(declared, opts) {
      override def build(): Scan = {
        val s = super.build()
        cowScan = s.asInstanceOf[SnapScan]
        s
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new SnapCowWrite(dir, info.schema(), cmd.toString, () => {
          val scan = cowScan
          require(scan != null,
            "graft-snap row-level write committed without its scan — " +
              "the replaced group set is unknown")
          // (survivors, plannedVersion): the commit CAS bases on the
          // version the scan actually read, so a commit landing between
          // scan and write conflicts loudly (round-14 advisory fix)
          (scan.survivors, scan.plannedVersion)
        })
    }
}

/** The replace-data write: per-task writers land the groups'
  * replacement content through [[SnapFileWriter]] (the writer of every
  * snapshot data file, prepared once per statement under the pruning
  * declarations of the version the scan planned against), so every
  * type `SnapTable.commit` accepts rewrites too, and each task leaves
  * its file's manifest line; commit swaps replaced-for-new in one
  * snapshot version and runs no Spark job. */
final class SnapCowWrite(dir: String, schema: StructType,
                         commandName: String,
                         replaced: () => (Seq[String], Int))
    extends Write with BatchWrite {
  private val commitId =
    "cow-" + java.util.UUID.randomUUID().toString.take(12)

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    val spark = SparkSession.active
    val (_, scanVersion) = replaced()
    new SnapBatchWriterFactory(commitId, SnapFileSpec(spark, dir, schema,
      SnapTable.declared(spark, dir, scanVersion)))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val names = messages.toSeq
      .collect { case SnapStreamFileMessage(Some(n)) => n }.sorted
    val (repl, scanVersion) = replaced()
    // nothing matched and nothing written: the statement was a no-op —
    // no version churn
    if (names.isEmpty && repl.isEmpty) return
    SnapTable.commitReplace(spark, dir, commitId, names, schema, repl,
      Map("rowLevelOp" -> commandName,
        "filesReplaced" -> repl.size.toString),
      basedOn = scanVersion)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SnapFileWriter.dropAll(dir, commitId, messages)
}

final class SnapBatchWriterFactory(commitId: String, spec: SnapFileSpec)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new SnapFileWriter(spec, commitId, partitionId, taskId)
}
