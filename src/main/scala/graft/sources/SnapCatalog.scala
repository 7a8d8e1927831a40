package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.SnapTable

/** A DataSource V2 `TableCatalog` over SnapTable snapshot directories —
  * the piece that turns the lakehouse format into CATALOG tables, so
  * plain SQL reaches every connector verb without OPTIONS plumbing:
  *
  *   spark.sql.catalog.snap           = graft.sources.SnapCatalog
  *   spark.sql.catalog.snap.warehouse = /data/warehouse
  *
  *   CREATE TABLE snap.db.t (id BIGINT, v DOUBLE) USING graft-snap
  *   INSERT INTO snap.db.t SELECT ...      -- append commit
  *   SELECT * FROM snap.db.t VERSION AS OF 2   (reader option remains)
  *   DELETE FROM snap.db.t WHERE id = 7    -- file-granular COW delete
  *   DROP TABLE snap.db.t
  *
  * Identifier → directory mapping is the classic path catalog:
  * `warehouse/<namespace...>/<name>`; a table EXISTS iff the directory
  * holds a committed version (`_latest`). Creation commits version 1
  * with the declared schema and zero rows — the commit protocol's
  * empty-DataFrame commit writes exactly one zero-row part file, so
  * the schema pin and pruning-config headers exist from the start.
  * Stat/bloom declarations ride table properties (`statCols`,
  * `bloomCol`, `bloomBits`, `strStatCols`), mirroring the writer
  * options of the path-based source.
  *
  * Scale: every catalog operation is O(1) metadata (header reads /
  * pointer checks) except listTables, which lists one directory level.
  */
class SnapCatalog extends TableCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  private def spark = SparkSession.active

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"snap catalog '$name': set spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    (warehouse +: ident.namespace.toSeq :+ ident.name).mkString("/")

  override def tableExists(ident: Identifier): Boolean =
    try SnapTable.latestVersion(spark, pathOf(ident)) > 0
    catch { case scala.util.control.NonFatal(_) => false }

  override def loadTable(ident: Identifier): Table = loadAt(ident, 0)

  /** SQL time travel — `SELECT ... FROM snap.db.t VERSION AS OF 2`
    * (Spark routes the version through this overload). Timestamp-based
    * travel is unsupported: the manifest records version numbers, not
    * wall-clock commit times — versions are the reproducible handle. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident,
      try version.toInt
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"snap catalog: VERSION AS OF takes a version number, got '$version'")
      })

  private def loadAt(ident: Identifier, version: Int): Table = {
    val dir = pathOf(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new SnapScanTable(SnapTable.readSchema(spark, dir, version),
      Map("path" -> dir) ++
      (if (version > 0) Map("version" -> version.toString) else Map.empty))
  }

  /** CREATE TABLE = an empty version-1 commit carrying the declared
    * schema and any stat/bloom property declarations. Partitioning
    * transforms are rejected: file layout is the commit's own concern
    * (`compact` range-lays on the first stat column). */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "snap catalog: PARTITIONED BY is unsupported — declare statCols " +
        "for zone-map layout and use compact() for clustering")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val dir = pathOf(ident)
    val props = properties.asScala
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    SnapTable.commit(spark, dir, empty,
      statCols = props.get("statCols").toSeq
        .flatMap(_.split(",").toSeq).filter(_.nonEmpty),
      bloomCol = props.get("bloomCol").orNull,
      bloomBits = props.get("bloomBits").map(_.toInt).getOrElse(65536),
      strStatCols = props.get("strStatCols").toSeq
        .flatMap(_.split(",").toSeq).filter(_.nonEmpty))
    loadTable(ident)
  }

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "snap catalog: ALTER TABLE is unsupported — schema evolves through " +
        "append commits with evolveSchema = true")

  /** DROP TABLE deletes the directory — manifests, claims, and data.
    * Shallow clones referencing this table's storage break, the same
    * caveat the clone documents. */
  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    SnapTable.destroy(spark, pathOf(ident))
    true
  }

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException(
      "snap catalog: RENAME is unsupported — clone-in-place instead " +
        "(manifest lines are table-relative, but claims/history move " +
        "atomically only on same-fs rename stores)")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val root = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val fs = root.getFileSystem(
      org.apache.spark.sql.GraftBridge.sessionHadoopConf(spark))
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        fs.exists(new Path(st.getPath, "_latest")))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }
}
