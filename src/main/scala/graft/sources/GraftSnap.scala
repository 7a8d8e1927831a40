package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.SnapTable

/** DataSource V2 reader for the SnapTable snapshot-manifest format —
  * the lakehouse tables as a FIRST-CLASS Spark source instead of a
  * library API:
  *
  *   spark.read.format("graft-snap").load(dir)                 // latest
  *   spark.read.format("graft-snap").option("version", 2).load(dir)
  *
  * What the connector adds over `SnapTable.read` (which remains the
  * library verb):
  *   - MANIFEST-STAT PUSHDOWN through Spark's own filter protocol:
  *     range/equality/IN predicates on recorded stat columns prune
  *     files at PLANNING time from the zone cells, and equality on the
  *     bloom column consults the per-file bitmaps — the pruned/total
  *     file counts print in `explain()` (`PrunedTo: k/n files`), so the
  *     skip behavior q60/q65 pin as query data is visible in every
  *     user's plan. Pruning is file-level, so every pushed filter is
  *     ALSO returned as residual for exact row-level evaluation — the
  *     same claim-and-recheck protocol Spark's parquet source uses for
  *     row-group stats.
  *   - COLUMN PRUNING to the parquet projection: only required columns
  *     decode (the projected MessageType drops the rest before record
  *     assembly).
  *   - TIME TRAVEL as a reader option, composing with plain SQL
  *     (`CREATE TABLE t USING graft-snap OPTIONS (path ..., version 2)`).
  *
  * The partition reader decodes parquet through the public
  * parquet-hadoop Group API (no Spark-internal vectorized classes):
  * supported physical types are the engine's own writer output —
  * INT32/INT64 (plain, DATE, TIMESTAMP micros), FLOAT/DOUBLE, BOOLEAN,
  * BINARY (UTF8 → string, else binary). INT96 timestamps are REJECTED
  * with a pointer at `spark.sql.parquet.outputTimestampType=
  * TIMESTAMP_MICROS` — a declared codec boundary, not a silent wrong
  * answer. Surviving files larger than `splitBytes` (128 MiB default)
  * tile into byte-range partitions; parquet's midpoint rule assigns
  * each row group to exactly one range, so multi-gigabyte files read
  * in parallel with no coordination — the same split protocol as
  * Spark's own parquet source.
  *
  * Scale: planning reads O(files) manifest lines on the driver — the
  * same planning class as Spark's own file index — and ships only the
  * surviving file paths; readers touch pruned files never.
  */
class GraftSnap extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-snap"
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-snap: no path"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val dir = pathOf(options)
    val version = Option(options.get("version")).map(_.toInt).getOrElse(0)
    SnapTable.readSchema(spark, dir, version)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SnapScanTable(schema, properties.asScala.toMap)
}

final class SnapScanTable(declared: StructType, props: Map[String, String])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"graft-snap(${props.getOrElse("path", "?")})"
  override def schema(): StructType = declared

  /** `_file` — the source data file per row (the Iceberg/Delta
    * metadata column), and the GROUP handle Spark's row-level
    * operations match copy-on-write rewrites on. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = SnapScan.FileColumn
      override def dataType(): org.apache.spark.sql.types.DataType =
        StringType
      override def isNullable: Boolean = false
      override def comment(): String = "source data file of the row"
    })

  /** SQL UPDATE / MERGE / untranslatable DELETE — group-based
    * copy-on-write (GraftSnapRowLevel). Translatable DELETEs never
    * reach this path: Spark's metadata-delete optimization routes them
    * to [[deleteWhere]]. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new SnapRowLevelOperation(info.command(), declared, props)

  /** SQL row-level DELETE (round 13): `DELETE FROM snap.db.t WHERE ...`
    * executes as the library's file-granular copy-on-write delete —
    * files whose zone range cannot hold a matching row carry verbatim,
    * candidates rewrite to survivor rows, the new version commits
    * atomically, history stays readable. The GDPR verb, now reachable
    * from plain SQL. `canDeleteWhere` accepts exactly the predicates
    * that translate losslessly to the library's Column condition —
    * anything else makes Spark fail the statement loudly rather than
    * delete the wrong rows. Files prune through the scan's evaluator
    * (SnapTable.canMatch) over every conjunct it understands — ranges,
    * equality with the bloom bits, IN, OR, NOT and NULL tests alike;
    * the condition implies each of its conjuncts, so a file no conjunct
    * can match holds no row to delete. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => SnapScanTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val dir = props.getOrElse("path",
      throw new IllegalArgumentException("graft-snap: no path"))
    require(!props.contains("version"),
      "graft-snap: cannot DELETE through a time-travel (version-pinned) " +
        "relation — historical snapshots are immutable")
    val cond = filters.toSeq.flatMap(SnapScanTable.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val prunable = filters.toSeq.filter(SnapTable.usableFilter(declared, _))
    SnapTable.deleteMatching(spark, dir, cond, _ => prunable)
    ()
  }
  // BATCH_WRITE routes DataFrameWriter.save onto the V2 write plans;
  // V1_BATCH_WRITE makes those plans pick the V1-fallback exec that
  // understands the V1Write below — both are required
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapScanBuilder(declared, options.asScala.toMap ++ props)

  /** WRITE = a SnapTable COMMIT through the V1 write bridge: the
    * incoming relation lands as a new snapshot version — append mode
    * carries the previous file list forward, overwrite makes the
    * relation the whole new table state (history stays readable; this
    * is the commit protocol, not a directory truncate). Stat/bloom
    * declarations come from reader options (`statCols`, comma-split;
    * `bloomCol`/`bloomBits`) or, on append, default to the extended
    * manifest's own header so an un-optioned append cannot silently
    * drop the table's pruning metadata. The V1 bridge hands over the
    * whole DataFrame, which is exactly the commit verb's input — the
    * per-task DSv2 writer protocol would only re-implement the parquet
    * writer the commit already drives. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val opts = info.options.asScala.toMap ++ props
    val dir = opts.getOrElse("path",
      throw new IllegalArgumentException("graft-snap: no path"))
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          /** STREAMING path (round 13): writeStream.format("graft-snap")
            * — per-epoch atomic snapshot commits with the exactly-once
            * epoch marker riding the manifest itself (GraftSnapSink).
            * Append output mode only: a truncating (complete-mode)
            * streaming write would rewrite table state every trigger. */
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            require(!overwrite,
              "graft-snap sink: only Append output mode is supported")
            new SnapStreamingWrite(dir, info.schema(), info.queryId())
          }
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwriteFlag: Boolean) => {
              val spark = data.sparkSession
              val append = !(overwrite || overwriteFlag)
              // header-only read: plan() would pull the whole file
              // list (the O(files) driver cliff) just for two header
              // fields
              val fromHeader =
                if (append && SnapTable.latestVersion(spark, dir) > 0)
                  Some(SnapTable.headerConfig(spark, dir))
                else None
              val statCols = opts.get("statcols")
                .map(_.split(",").toSeq.filter(_.nonEmpty))
                .orElse(fromHeader.map(_._1)).getOrElse(Nil)
              val bloom = opts.get("bloomcol").map(c =>
                  (c, opts.get("bloombits").map(_.toInt).getOrElse(65536)))
                .orElse(fromHeader.flatMap(_._2))
              // string-stat declaration: explicit option, else (append)
              // inherited from the extended manifest's own header
              val strStats = opts.get("strstatcols")
                .map(_.split(",").toSeq.filter(_.nonEmpty))
                .getOrElse(
                  if (append && SnapTable.latestVersion(spark, dir) > 0)
                    SnapTable.headerStrStats(spark, dir)
                  else Nil)
              SnapTable.commit(spark, dir, data, append = append,
                statCols = statCols,
                bloomCol = bloom.map(_._1).orNull,
                bloomBits = bloom.map(_._2).getOrElse(65536),
                strStatCols = strStats)
              ()
            }
        }
    }
  }
}

object SnapScanTable {
  /** Lossless V1 Filter → Column translation for the SQL DELETE path:
    * None marks a predicate the condition language cannot express —
    * the statement must then FAIL, never delete a superset/subset. */
  private[sources] def filterToColumn(f: Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case In(a, vs)                => Some(col(a).isin(vs.toSeq: _*))
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case StringStartsWith(a, p)   => Some(col(a).startsWith(p))
      case StringEndsWith(a, p)     => Some(col(a).endsWith(p))
      case StringContains(a, p)     => Some(col(a).contains(p))
      case And(l, r) =>
        for { lc <- filterToColumn(l); rc <- filterToColumn(r) }
          yield lc && rc
      case Or(l, r) =>
        for { lc <- filterToColumn(l); rc <- filterToColumn(r) }
          yield lc || rc
      case Not(c)        => filterToColumn(c).map(!_)
      case AlwaysTrue()  => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _             => None
    }
  }
}

/** A metadata-answerable pushed aggregate over a snapshot. */
sealed trait SnapAgg extends Serializable
case object SnapCountStar extends SnapAgg
final case class SnapCountCol(c: String) extends SnapAgg
final case class SnapAggMin(c: String) extends SnapAgg
final case class SnapAggMax(c: String) extends SnapAgg

object SnapScan {
  /** The `_file` metadata column's name — also the row-level
    * operations' group handle. */
  val FileColumn = "_file"

  /** Internal option marking a scan as a row-level operation's read:
    * disables aggregate pushdown (the rewrite needs rows, not
    * metadata answers) and reports `_file` as a runtime-filterable
    * attribute so group filtering can narrow the rewrite. */
  val RowLevelOpt = "__rowlevel"
}

// not final: a row-level operation subclasses it to capture the built
// scan (whose post-runtime-filter survivors are the replaced groups)
class SnapScanBuilder(full: StructType, opts: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var prunable: Array[Filter] = Array.empty
  private var required: StructType = full
  private var pushedFiltersAny: Boolean = false
  private var metaAgg: Seq[SnapAgg] = Nil

  private def usable(f: Filter): Boolean = SnapTable.usableFilter(full, f)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushedFiltersAny = filters.nonEmpty
    prunable = filters.filter(usable)
    // file-level pruning is not row-exact: EVERY filter stays residual
    // (the parquet row-group-stats protocol — claim for skipping,
    // recheck on rows)
    filters
  }
  override def pushedFilters(): Array[Filter] = prunable

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** METADATA-ONLY AGGREGATES — ungrouped MIN/MAX/COUNT answer from the
    * manifest without opening a single data file (the Iceberg
    * metadata-agg shape): MIN = min of per-file mins over recorded zone
    * cells (a file's unprunable "-" cell contributed only NULL values,
    * which SQL MIN/MAX ignore, so it adds nothing), MAX symmetric;
    * COUNT(*) = sum of the per-file row counts and COUNT(statCol) = sum
    * of the per-file non-null counts (round-12 manifest fields) —
    * claimed ONLY when the manifest's `#counts:full` header (round 13)
    * asserts every line records them, so a table carrying pre-count
    * legacy lines falls back to a real scan rather than undercounting.
    * The availability check is HEADER-ONLY: deciding the claim must not
    * parse O(files) manifest lines (each potentially a 16 KiB bloom hex
    * cell) on the driver for every ungrouped aggregate — the one full
    * parse happens inside the scan that actually answers, once.
    * Complete pushdown (one global row). Safe by the engine's own
    * ordering: Spark only pushes aggregates when the source consumed
    * EVERY filter, and this source always returns all filters as
    * residual — so a filtered query can never take the metadata path.
    * MIN/MAX restricted to LongType columns: the cells are recorded as
    * LONG. */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    if (pushedFiltersAny || aggregation.groupByExpressions.nonEmpty)
      return false
    // a row-level operation's scan feeds a rewrite: it needs rows
    if (opts.contains(SnapScan.RowLevelOpt)) return false
    // an EMPTY aggregate list arises when an outer aggregate prunes a
    // nested one to nothing (e.g. count() over this source's own
    // pushed-agg result): claiming it would make build() return the
    // ordinary scan while Spark expects a zero-column agg row —
    // "data source returns unexpected number of columns"
    if (aggregation.aggregateExpressions.isEmpty) return false
    val h =
      try SnapTable.header(SparkSession.active,
        opts.getOrElse("path", return false),
        opts.get("version").map(_.toInt).getOrElse(0))
      catch { case scala.util.control.NonFatal(_) => return false }
    val statCols = h.statCols.toSet
    def statLongCol(
        e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames.head).filter(c => statCols.contains(c) &&
          full.fields.exists(f => f.name == c && f.dataType == LongType))
      case _ => None
    }
    val specs = aggregation.aggregateExpressions.toSeq.map {
      case m: org.apache.spark.sql.connector.expressions.aggregate.Min =>
        statLongCol(m.column).map(SnapAggMin)
      case m: org.apache.spark.sql.connector.expressions.aggregate.Max =>
        statLongCol(m.column).map(SnapAggMax)
      case _: org.apache.spark.sql.connector.expressions.aggregate.CountStar
          if h.counts =>
        Some(SnapCountStar)
      case cnt: org.apache.spark.sql.connector.expressions.aggregate.Count
          if !cnt.isDistinct && h.counts =>
        (cnt.column match {
          case nr: org.apache.spark.sql.connector.expressions.NamedReference
              if nr.fieldNames.length == 1 =>
            Some(nr.fieldNames.head).filter(statCols.contains)
          case _ => None
        }).map(SnapCountCol)
      case _ => None
    }
    if (specs.exists(_.isEmpty)) false
    else { metaAgg = specs.flatten; true }
  }

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = true

  override def build(): Scan =
    if (metaAgg.nonEmpty) new SnapMetaAggScan(metaAgg, opts)
    else new SnapScan(full, required, prunable, opts)
}

/** The metadata-aggregate scan: the answer row is computed at PLANNING
  * from the manifest and shipped inside the single InputPartition — no
  * data file opens, no executor I/O. */
final class SnapMetaAggScan(aggs: Seq[SnapAgg],
                            opts: Map[String, String])
    extends Scan with Batch {
  private val dir = opts.getOrElse("path",
    throw new IllegalArgumentException("graft-snap: no path"))
  private val version = opts.get("version").map(_.toInt).getOrElse(0)

  override def readSchema(): StructType = StructType(
    aggs.zipWithIndex.map {
      case (SnapAggMin(c), i) => StructField(s"min_${i}_$c", LongType)
      case (SnapAggMax(c), i) => StructField(s"max_${i}_$c", LongType)
      case (SnapCountStar, i) =>
        StructField(s"count_$i", LongType, nullable = false)
      case (SnapCountCol(c), i) =>
        StructField(s"count_${i}_$c", LongType, nullable = false)
    })
  override def toBatch: Batch = this

  private lazy val answer: Array[Any] = {
    val plan = SnapTable.plan(SparkSession.active, dir, version)
    def minMax(c: String, isMin: Boolean): Any = {
      val vals = plan.files.flatMap(_.ranges.get(c))
        .map(r => if (isMin) r._1 else r._2)
      if (vals.isEmpty) null
      else java.lang.Long.valueOf(if (isMin) vals.min else vals.max)
    }
    // the builder claimed count pushes off the `#counts:full` header —
    // a manifest carrying the header over count-less lines is corrupt
    // metadata and must fail LOUDLY, not undercount
    val countCols = aggs.collect { case SnapCountCol(c) => c }
    if (countCols.nonEmpty || aggs.contains(SnapCountStar))
      require(plan.files.forall(e => e.nRows.isDefined &&
          countCols.forall(e.nonNull.contains)),
        s"graft-snap: $dir v${plan.version} declares #counts:full but " +
          "carries count-less file lines — corrupt manifest metadata")
    aggs.map {
      case SnapAggMin(c) => minMax(c, isMin = true)
      case SnapAggMax(c) => minMax(c, isMin = false)
      case SnapCountStar =>
        java.lang.Long.valueOf(plan.files.map(_.nRows.get).sum)
      case SnapCountCol(c) =>
        java.lang.Long.valueOf(plan.files.map(_.nonNull(c)).sum)
    }.toArray
  }

  override def description(): String =
    s"GraftSnap $dir MetadataAgg: [${aggs.map {
      case SnapAggMin(c) => s"MIN($c)"
      case SnapAggMax(c) => s"MAX($c)"
      case SnapCountStar => "COUNT(*)"
      case SnapCountCol(c) => s"COUNT($c)"
    }.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    Array(SnapMetaAggPartition(answer.map {
      case null => Long.MinValue -> false
      case l: java.lang.Long => l.longValue() -> true
    }))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition)
          : PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val cells = p.asInstanceOf[SnapMetaAggPartition].cells
          private var emitted = false
          override def next(): Boolean =
            if (emitted) false else { emitted = true; true }
          override def get(): InternalRow = {
            val row = new GenericInternalRow(cells.length)
            cells.zipWithIndex.foreach { case ((v, defined), i) =>
              if (defined) row.setLong(i, v) else row.setNullAt(i)
            }
            row
          }
          override def close(): Unit = ()
        }
    }
}

final case class SnapMetaAggPartition(cells: Array[(Long, Boolean)])
    extends InputPartition

/** One byte range of one data file. Row groups are assigned to the
  * range containing their MIDPOINT (parquet-hadoop's withRange rule),
  * so ranges that tile a file read every group exactly once with no
  * coordination — the same split protocol Spark's own parquet source
  * and the graft-ndjson line splits use. */
final case class SnapFilePartition(path: String, start: Long, length: Long)
    extends InputPartition

final class SnapScan(full: StructType, required: StructType,
                     prunable: Array[Filter], opts: Map[String, String])
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {
  private val dir = opts.getOrElse("path",
    throw new IllegalArgumentException("graft-snap: no path"))
  private val version = opts.get("version").map(_.toInt).getOrElse(0)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private val splitBytes = opts.get("splitbytes").map { v =>
    val n = try v.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft-snap: splitBytes must be a byte count, got '$v'")
    }
    // a non-positive step would make the range-tiling loop EMPTY for
    // every file above the threshold — silent row loss, not an error
    require(n > 0, s"graft-snap: splitBytes must be positive, got $n")
    n
  }.getOrElse(128L * 1024 * 1024)

  // RUNTIME FILE PRUNING (round 13, the Iceberg
  // SupportsRuntimeV2Filtering shape): a selective broadcast join
  // probing this snapshot hands its join-key values to the scan at
  // EXECUTION time (Spark's dynamic pruning subquery), and the scan
  // re-prunes its file set through the same zone/bloom/string-bound
  // evaluator before any reader opens — at 100 TB a dim-filtered fact
  // join opens the files that can hold the probed keys, not the
  // snapshot. Filters only ever narrow survivors, and every runtime
  // predicate also re-applies row-level in the join itself, so results
  // cannot change.
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val h =
      try SnapTable.header(SparkSession.active, dir, version)
      catch { case scala.util.control.NonFatal(_) => return Array.empty }
    // restricted to the scan's OUTPUT columns: Spark resolves these
    // references against the pruned read schema, and a stat column the
    // projection dropped would crash resolution (caught by the
    // point-lookup-broadcast spec, which projects the stat column away).
    // A row-level scan adds `_file` — the group handle Spark's rewrite
    // filtering narrows the copy-on-write to matched files with.
    ((h.statCols ++ h.sStatCols ++ h.bloom.map(_._1).toSeq).distinct
      .filter(c => required.fieldNames.contains(c)) ++
      (if (opts.contains(SnapScan.RowLevelOpt) &&
           required.fieldNames.contains(SnapScan.FileColumn))
         Seq(SnapScan.FileColumn) else Nil))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray
  }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter
        .Predicate]): Unit = {
    val v1 = predicates.toSeq.flatMap(p =>
        org.apache.spark.sql.GraftBridge.predicateToV1(p))
      .filter(f => f.references.nonEmpty &&
        (f.references.forall(_ == SnapScan.FileColumn) ||
          SnapTable.usableFilter(full, f)))
    if (v1.nonEmpty) runtimeFilters = runtimeFilters ++ v1
  }

  // the manifest parse happens once per scan; every (re-)pruning pass,
  // the explain description, and the statistics reuse it
  private lazy val tablePlan: SnapTable.TablePlan =
    SnapTable.plan(SparkSession.active, dir, version)

  def total: Int = tablePlan.files.size

  // pruning memo keyed by the runtime-filter array REFERENCE (the
  // array is replaced wholesale on each filter() call, never mutated)
  @volatile private var prunedCache
      : (Array[Filter], Seq[SnapTable.PlanEntry]) = null

  def survivorEntries: Seq[SnapTable.PlanEntry] = {
    val rf = runtimeFilters
    val c = prunedCache
    if (c != null && (c._1 eq rf)) c._2
    else {
      val s = pruneEntries(prunable.toSeq ++ rf.toSeq)
      prunedCache = (rf, s)
      s
    }
  }

  // a file whose recorded row count is 0 can contribute nothing to ANY
  // scan — dropped unconditionally (results can never change)
  private def pruneEntries(filters: Seq[Filter])
      : Seq[SnapTable.PlanEntry] =
    tablePlan.files.filter(e =>
      !e.nRows.contains(0L) && SnapTable.canMatchAll(tablePlan, e, filters))

  def survivors: Seq[String] = survivorEntries.map(_.path)

  /** The snapshot version this scan RESOLVED (latest at plan time when
    * unpinned) — the row-level COW commit bases its CAS on this so an
    * intervening commit conflicts instead of being silently absorbed. */
  def plannedVersion: Int = tablePlan.version

  override def description(): String =
    s"GraftSnap $dir v${if (version > 0) version.toString else "latest"} " +
      s"ReadSchema: ${required.fieldNames.mkString(",")} " +
      s"PushedFilters: [${prunable.mkString(", ")}] " +
      (if (runtimeFilters.nonEmpty)
         s"RuntimeFilters: [${runtimeFilters.mkString(", ")}] " else "") +
      s"PrunedTo: ${survivors.size}/$total files"

  // one batched listStatus per commit directory recovers the surviving
  // files' lengths for range splitting AND the size statistics below;
  // matching goes through FileSystem-QUALIFIED paths on both sides —
  // survivors can be relative or scheme-less while listStatus always
  // returns qualified URIs, and a raw string compare silently misses
  // (leaving every length unknown and every file unsplit). The WHOLE
  // listing is best-effort: lengths only improve splitting and stats,
  // and readers open files directly without listing — so a denied or
  // failing listStatus (list-bucket-denied object stores, transient
  // errors) degrades to unsplit files and unknown size instead of
  // crashing planning (the memo must not cache a throw:
  // planInputPartitions would re-raise it). Memoized per survivor set
  // — runtime filtering re-plans partitions after shrinking survivors,
  // and stale lengths for a different file set must not leak in.
  @volatile private var lensCache
      : (Seq[SnapTable.PlanEntry], Seq[(String, Long)]) = null

  private def survivorLens: Seq[(String, Long)] = {
    val se = survivorEntries
    val c = lensCache
    if (c != null && (c._1 eq se)) return c._2
    val paths = se.map(_.path)
    val computed =
      try {
        val conf = org.apache.spark.sql.GraftBridge.sessionHadoopConf(SparkSession.active)
        val qualified = paths.map { p =>
          val hp = new Path(p)
          p -> hp.getFileSystem(conf).makeQualified(hp).toString
        }.toMap
        val lens = qualified.values.map(q => new Path(q).getParent)
          .toSeq.distinct
          .flatMap { d =>
            d.getFileSystem(conf).listStatus(d)
              .map(st => st.getPath.toString -> st.getLen)
          }.toMap
        paths.map(p => p -> lens.getOrElse(qualified(p), Long.MaxValue))
      } catch {
        case scala.util.control.NonFatal(_) =>
          paths.map(_ -> Long.MaxValue)
      }
    lensCache = (se, computed)
    computed
  }

  override def planInputPartitions(): Array[InputPartition] =
    survivorLens.flatMap { case (p, len) =>
      if (len == Long.MaxValue || len <= splitBytes)
        Seq(SnapFilePartition(p, 0L, Long.MaxValue))
      else (0L until len by splitBytes).map(start =>
        SnapFilePartition(p, start, math.min(splitBytes, len - start)))
    }.toArray

  /** POST-PRUNING size statistics (metadata only): the surviving
    * files' byte lengths. Without this a DSv2 relation defaults to
    * "unknown = huge" and joins over it degrade to sort-merge; with it
    * a pruned snapshot side broadcasts exactly like a small parquet
    * dim — and because the estimate is post-pruning, a point lookup
    * on the bloom column broadcasts even over a huge table. */
  override def estimateStatistics(): Statistics = {
    // survivorLens is best-effort (see its note); any unknown length
    // makes the whole estimate unknown rather than an undercount
    val bytes = {
      val ls = survivorLens
      if (ls.exists(_._2 == Long.MaxValue)) Long.MaxValue
      else ls.map(_._2).sum
    }
    // EXACT post-pruning row count from the manifest's per-file counts
    // (round 12) — known only when every surviving file records one
    // (legacy carried lines degrade to unknown, never an undercount);
    // numRows feeds Catalyst's join sizing far more precisely than the
    // byte estimate alone
    val rows =
      if (survivorEntries.nonEmpty && survivorEntries.forall(_.nRows.isDefined))
        java.util.OptionalLong.of(survivorEntries.map(_.nRows.get).sum)
      else java.util.OptionalLong.empty()
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapReaderFactory(required,
      org.apache.spark.sql.GraftBridge.hadoopConfBroadcast(
        SparkSession.active))

  /** STREAMING READ — snapshot versions as micro-batches (the
    * Delta-table-as-stream-source shape): the offset IS the committed
    * version number, a batch is every data file ADDED by the versions
    * in (start, end], and the commit protocol's manifest immutability
    * makes replay exact (carried lines are verbatim, so set-difference
    * of file lists recovers each version's additions precisely). The
    * declared contract is APPEND-ONLY streaming: a version that DROPS
    * a previously-seen file (DML rewrite, compaction) throws by
    * default — silently re-reading rewritten files would double-count;
    * `option("skipChangeVersions", true)` instead skips such versions
    * whole, the Delta `skipChangeCommits` semantics. (Recovery note,
    * true of every MicroBatchStream source: an AvailableNow run that
    * recovers a previously-FAILED batch drains only that batch; data
    * committed after the failure arrives on the next trigger.) */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SnapMicroBatchStream(dir, required,
      opts.get("skipchangeversions").exists(_.toBoolean))
}

final case class SnapVersionOffset(version: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"version":$version}"""
}

final class SnapMicroBatchStream(dir: String, required: StructType,
                                 skipChange: Boolean)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset
  private def spark = SparkSession.active
  override def initialOffset(): Offset = SnapVersionOffset(0)
  override def latestOffset(): Offset =
    SnapVersionOffset(SnapTable.latestVersion(spark, dir))
  override def deserializeOffset(json: String): Offset =
    SnapVersionOffset("""\d+""".r.findFirstIn(json).getOrElse(
      throw new IllegalArgumentException(s"bad graft-snap offset: $json"))
      .toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val a = start.asInstanceOf[SnapVersionOffset].version
    val b = end.asInstanceOf[SnapVersionOffset].version
    if (b <= a) return Array.empty
    def files(v: Int): Set[String] =
      if (v == 0) Set.empty[String]
      else SnapTable.plan(spark, dir, v).files.map(_.path).toSet
    val out = Array.newBuilder[InputPartition]
    var prev = files(a)
    ((a + 1) to b).foreach { v =>
      val cur = files(v)
      val dropped = prev -- cur
      if (dropped.nonEmpty) {
        if (!skipChange) throw new IllegalStateException(
          s"graft-snap stream: version $v of $dir rewrites " +
            s"${dropped.size} previously-streamed file(s) — the stream " +
            "contract is append-only; set skipChangeVersions=true to " +
            "skip rewrite versions (the Delta skipChangeCommits " +
            "semantics)")
        // change version skipped whole: its additions are rewrites of
        // already-streamed rows, not new data
      } else out ++= (cur -- prev).toSeq.sorted
        .map(SnapFilePartition(_, 0L, Long.MaxValue))
      prev = cur
    }
    out.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapReaderFactory(required,
      org.apache.spark.sql.GraftBridge.hadoopConfBroadcast(
        SparkSession.active))
}

/** Readers open files with the SESSION's Hadoop configuration (riding a
  * broadcast): executor defaults would drop spark.hadoop.* settings —
  * cloud-FS credentials, scheme mappings — and fail or misroute opens.
  *
  * Reads are COLUMNAR by default (round 13): the per-row Group decoder
  * materialized one heap object per row plus one boxed value per field —
  * at 100 TB, scan CPU dominates and that allocation tax is the
  * difference between a decode-bound and an IO-bound scan. The columnar
  * reader decodes each projected column in a tight per-column loop into
  * Spark `OnHeapColumnVector`s and hands whole `ColumnarBatch`es to the
  * engine, which keeps downstream operators in whole-stage codegen's
  * columnar-to-row fast path — the same shape as Spark's own vectorized
  * parquet reader, built on the public parquet-column API. */
final class SnapReaderFactory(required: StructType,
    hconf: org.apache.spark.broadcast.Broadcast[_])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[SnapFilePartition]
    new SnapFileReader(fp.path, fp.start, fp.length, required,
      org.apache.spark.sql.GraftBridge.hadoopConf(hconf))
  }
  override def supportColumnarReads(p: InputPartition): Boolean = true
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val fp = p.asInstanceOf[SnapFilePartition]
    new SnapColumnarFileReader(fp.path, fp.start, fp.length, required,
      org.apache.spark.sql.GraftBridge.hadoopConf(hconf))
  }
}

/** Shared projection logic of both readers: the projected MessageType
  * keeps exactly the required columns physically present in the file
  * (in required-field order) and maps each required field to its index
  * in the projection, -1 for a column the file predates (add-column
  * evolution — the reader null-fills it, exactly what Spark's own
  * parquet reader does under a declared schema). */
private[sources] object SnapParquet {
  def project(fileSchema: MessageType, required: StructType)
      : (MessageType, Array[Int]) = {
    val groupIdx = new Array[Int](required.length)
    var next = 0
    val fields = required.fields.zipWithIndex.flatMap { case (f, i) =>
      if (!fileSchema.containsField(f.name)) { groupIdx(i) = -1; Nil }
      else {
        val t = fileSchema.getType(fileSchema.getFieldIndex(f.name))
        require(t.isPrimitive, s"graft-snap: nested column ${f.name} unsupported")
        val prim = t.asPrimitiveType()
        require(prim.getPrimitiveTypeName !=
          PrimitiveType.PrimitiveTypeName.INT96,
          "graft-snap: INT96 timestamps unsupported — write with " +
            "spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS")
        groupIdx(i) = next; next += 1
        Seq(t)
      }
    }
    (new MessageType(fileSchema.getName, fields: _*), groupIdx)
  }
}

/** Columnar parquet decode through the public parquet-column API:
  * per row group, a `ColumnReadStoreImpl` hands one `ColumnReader` per
  * projected column, and each batch fills the column's vector in a
  * tight monomorphic loop (definition level < max → null, else the
  * typed getter) — no per-row record assembly, no Group allocation.
  * Flat schemas only (the engine's own writer output), so repetition
  * levels are always 0 and a row group's value count equals its row
  * count, which makes the batch boundary exact. */
final class SnapColumnarFileReader(path: String, start: Long, length: Long,
    required: StructType, conf: Configuration, batchSize: Int = 4096)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val reader = ParquetFileReader.open(
    HadoopInputFile.fromPath(new Path(path), conf),
    org.apache.parquet.HadoopReadOptions.builder(conf)
      .withRange(start,
        if (length == Long.MaxValue) Long.MaxValue else start + length)
      .build())
  private val fileMeta = reader.getFooter.getFileMetaData
  private val (projected, groupIdx) =
    SnapParquet.project(fileMeta.getSchema, required)
  // ColumnReadStoreImpl needs a root converter only to probe dictionary
  // support; the example GroupRecordConverter's primitive converters
  // serve (no records are ever materialized through it)
  private val converterRoot = new GroupRecordConverter(projected).getRootConverter
  private val descriptors = projected.getColumns
  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, required)
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
  private val colReaders = new Array[ColumnReader](required.length)
  // `_file` metadata column: constant per partition — the file path
  private val pathBytes =
    path.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val isFileCol = required.fields.zipWithIndex.map { case (f, i) =>
    groupIdx(i) < 0 && f.name == SnapScan.FileColumn
  }
  private var leftInGroup = 0L

  override def next(): Boolean = {
    while (leftInGroup == 0L) {
      val pages = reader.readNextRowGroup()
      if (pages == null) return false
      // a projection can be EMPTY when every required column postdates
      // this file (evolution): rows still exist — their count comes
      // from the row-group metadata and the batch is all-null vectors
      if (projected.getFieldCount > 0) {
        val store = new ColumnReadStoreImpl(pages, converterRoot,
          projected, fileMeta.getCreatedBy)
        var i = 0
        while (i < required.length) {
          colReaders(i) =
            if (groupIdx(i) < 0) null
            else store.getColumnReader(descriptors.get(groupIdx(i)))
          i += 1
        }
      }
      leftInGroup = pages.getRowCount
    }
    val n = math.min(batchSize.toLong, leftInGroup).toInt
    var i = 0
    while (i < required.length) {
      val v = vectors(i)
      v.reset()
      val r = colReaders(i)
      if (r == null) {
        if (isFileCol(i)) {
          var j = 0
          while (j < n) { v.putByteArray(j, pathBytes); j += 1 }
        } else v.putNulls(0, n)
      } else fill(r, v, n, required.fields(i).dataType,
        descriptors.get(groupIdx(i)).getMaxDefinitionLevel)
      i += 1
    }
    leftInGroup -= n
    batch.setNumRows(n)
    true
  }

  private def fill(r: ColumnReader, v: WritableColumnVector, n: Int,
                   dt: DataType, maxDef: Int): Unit = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      var i = 0
      while (i < n) {
        if (r.getCurrentDefinitionLevel < maxDef) v.putNull(i)
        else v.putLong(i, r.getLong)
        r.consume(); i += 1
      }
    case IntegerType | DateType =>
      var i = 0
      while (i < n) {
        if (r.getCurrentDefinitionLevel < maxDef) v.putNull(i)
        else v.putInt(i, r.getInteger)
        r.consume(); i += 1
      }
    case DoubleType =>
      var i = 0
      while (i < n) {
        if (r.getCurrentDefinitionLevel < maxDef) v.putNull(i)
        else v.putDouble(i, r.getDouble)
        r.consume(); i += 1
      }
    case FloatType =>
      var i = 0
      while (i < n) {
        if (r.getCurrentDefinitionLevel < maxDef) v.putNull(i)
        else v.putFloat(i, r.getFloat)
        r.consume(); i += 1
      }
    case BooleanType =>
      var i = 0
      while (i < n) {
        if (r.getCurrentDefinitionLevel < maxDef) v.putNull(i)
        else v.putBoolean(i, r.getBoolean)
        r.consume(); i += 1
      }
    case StringType | BinaryType =>
      var i = 0
      while (i < n) {
        if (r.getCurrentDefinitionLevel < maxDef) v.putNull(i)
        else { v.putByteArray(i, r.getBinary.getBytes); () }
        r.consume(); i += 1
      }
    case other => throw new UnsupportedOperationException(
      s"graft-snap: unsupported read type $other")
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = { batch.close(); reader.close() }
}

/** Parquet → InternalRow through the public Group API, decoding only
  * the projected columns. */
final class SnapFileReader(path: String, start: Long, length: Long,
                           required: StructType, conf: Configuration)
    extends PartitionReader[InternalRow] {
  // withRange keeps exactly the row groups whose midpoint falls in
  // [start, start+length) — tiling ranges read each group once
  private val reader = ParquetFileReader.open(
    HadoopInputFile.fromPath(new Path(path), conf),
    org.apache.parquet.HadoopReadOptions.builder(conf)
      .withRange(start,
        if (length == Long.MaxValue) Long.MaxValue else start + length)
      .build())
  private val (projected, groupIdx) =
    SnapParquet.project(reader.getFooter.getFileMetaData.getSchema, required)
  private val colIO = new ColumnIOFactory().getColumnIO(projected)

  private var group: Group = _
  private var recordReader: org.apache.parquet.io.RecordReader[Group] = _
  private var leftInGroup = 0L

  override def next(): Boolean = {
    while (leftInGroup == 0L) {
      val pages = reader.readNextRowGroup()
      if (pages == null) return false
      // a projection can be EMPTY when every required column postdates
      // this file (evolution): rows still exist — count them from the
      // row-group metadata and emit all-null rows with no record reader
      recordReader =
        if (projected.getFieldCount == 0) null
        else colIO.getRecordReader(pages, new GroupRecordConverter(projected))
      leftInGroup = pages.getRowCount
    }
    group = if (recordReader == null) null else recordReader.read()
    leftInGroup -= 1
    true
  }

  // `_file` metadata column: constant per partition — the file path
  private val pathUtf8 = UTF8String.fromString(path)
  private val isFileCol = required.fields.zipWithIndex.map { case (f, i) =>
    groupIdx(i) < 0 && f.name == SnapScan.FileColumn
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      val g = groupIdx(i)
      if (g < 0 && isFileCol(i)) row.update(i, pathUtf8)
      else if (g < 0 || group.getFieldRepetitionCount(g) == 0)
        row.setNullAt(i)
      else required.fields(i).dataType match {
        case LongType | TimestampType | TimestampNTZType =>
          row.setLong(i, group.getLong(g, 0))
        case IntegerType | DateType => row.setInt(i, group.getInteger(g, 0))
        case DoubleType  => row.setDouble(i, group.getDouble(g, 0))
        case FloatType   => row.setFloat(i, group.getFloat(g, 0))
        case BooleanType => row.setBoolean(i, group.getBoolean(g, 0))
        case StringType  =>
          row.update(i, UTF8String.fromBytes(group.getBinary(g, 0).getBytes))
        case BinaryType  => row.update(i, group.getBinary(g, 0).getBytes)
        case dt => throw new UnsupportedOperationException(
          s"graft-snap: unsupported read type $dt for ${required.fields(i).name}")
      }
      i += 1
    }
    row
  }

  override def close(): Unit = reader.close()
}
