package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Abs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And, EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not,
  Or, StringStartsWith}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
  ShortType, StringType, StructType}

/** Snapshot-manifest table format over plain parquet — the minimal
  * lakehouse commit protocol (the Iceberg/Delta core, derived from the
  * public designs, with none of the dependencies):
  *
  *   dir/data/<commit-id>/part-*.parquet   immutable data files
  *   dir/_manifests/v<N>.txt               immutable file list, one/commit
  *   dir/_latest                           current-version pointer
  *
  * Invariants the spec pins:
  *   - a snapshot is the EXACT file list in its manifest — readers never
  *     list the data directory, so files from in-flight, failed, or
  *     foreign writes (orphans) are invisible until a manifest names
  *     them;
  *   - manifests are immutable once written: committing version N+1
  *     never touches version N's manifest or files, so every historical
  *     version stays readable (time travel) and long-running readers of
  *     version N are isolated from concurrent commits;
  *   - the pointer swap is a write-temp + atomic-rename, so a reader
  *     sees the old version or the new one, never a torn state: commit
  *     order is data files → manifest → pointer, and a crash before the
  *     pointer swap leaves only invisible orphans.
  *
  * MANIFEST STATS (zone maps): a commit may declare LONG stat columns;
  * each new file's min/max per column is computed in one aggregate over
  * the just-written files and recorded on its manifest line. `readWhere`
  * then prunes files whose [min,max] cannot intersect a range predicate
  * AT PLANNING TIME — metadata-only work, before any data file opens.
  * At 100 TB this is the difference between "scan the corpus" and "open
  * the 3 files that can match": the same mechanism as Iceberg manifest
  * pruning / parquet row-group skipping, one level up, with O(files)
  * metadata. The residual predicate still applies to survivors, so
  * pruning is a pure optimization and can never change results.
  *
  * PER-FILE BLOOM FILTERS: zone maps prune RANGE predicates on sorted
  * layouts, but a point lookup on a high-cardinality key in a hash/
  * unsorted layout sees every file's [min,max] span the whole domain —
  * nothing prunes. A commit may therefore also declare ONE bloom column:
  * each file's values fold into an m-bit, 2-hash bloom bitmap recorded
  * (hex) on its manifest line, and `readWhereEq` skips files whose bloom
  * proves the probe value absent. False positives only cost an extra
  * file scan (the residual predicate still applies), never wrong rows;
  * with fixed hash functions the scan set is deterministic, so queries
  * can pin `pruned` as hash-checked data. This is Iceberg/Delta's
  * file-level bloom story with O(files · m/8) metadata.
  *
  * ONE FILE-PRUNING EVALUATOR: which files of a snapshot can hold a
  * matching row is decided in one place, [[canMatch]] over the parsed
  * manifest ([[TablePlan]]) and a Spark `Filter` — integer and string
  * zone maps, bloom bits, NULL counts and negations. `readWhere`,
  * `readWhereEq`, `delete`, `update`, SQL DELETE and the graft-snap
  * connector's scan all state their predicates as filters and prune
  * through it (the Iceberg inclusive-metrics-evaluator shape: one
  * evaluator for scan planning and row-filter deletes). A new prunable
  * shape is one case there plus one in [[usableFilter]].
  *
  * ROW-LEVEL DELETE (`delete`): copy-on-write at FILE granularity — the
  * predicate's hint bounds the candidate file set, only
  * candidates are rewritten (survivor rows land as new files), untouched
  * files carry into the new manifest VERBATIM (bytes, stats, and bloom
  * cells untouched), and the new version commits atomically while every
  * old version stays readable. At 100 TB a keyed delete is O(files that
  * can contain the key), not a table rewrite — the GDPR/right-to-be-
  * forgotten shape.
  *
  * Manifest line format (tab-separated, later fields optional so every
  * historical manifest stays parseable):
  *
  *   relPath \t zoneCells \t bloomCell \t nRows \t nonNullCells
  *
  * zoneCells = `min,max[,min,max...]` per `#stats:` column ("" when no
  * stats; all-null values record the unprunable `-,-` cell); bloomCell =
  * `B<hexwords>` or ""; nRows (round 12) = the file's exact row count;
  * nonNullCells = comma-separated NON-null counts per stat column.
  * Row/non-null counts make COUNT(*) and COUNT(statCol) metadata-only
  * answers (the graft-snap connector's aggregate pushdown) and feed
  * row-count statistics into join sizing. Headers: `#stats:` names the
  * stat columns, `#bloom:` the bloom column and bitmap size, `#schema:`
  * pins the commit's column names/types (appends with a drifted schema
  * are rejected loudly instead of silently corrupting readers that
  * infer the schema from one file), `#meta:` free-form commit metadata.
  */
object SnapTable {

  final case class ScanPlan(df: DataFrame, filesScanned: Int, filesTotal: Int)

  final case class DeleteResult(version: Int, rowsDeleted: Long,
                                filesRewritten: Int, filesTotal: Int)

  /** Second bloom hash = xxhash64 over (value, BloomSeed); first is
    * xxhash64(value) with Spark's default seed. Fixed forever — bloom
    * bitmaps are persistent metadata. */
  private val BloomSeed = 7L

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(org.apache.spark.sql.GraftBridge.sessionHadoopConf(spark))

  /** Manifest entries are table-relative, EXCEPT cloned-in references,
    * which are absolute paths into the source table (shallowClone). */
  def resolvePath(dir: String, rel: String): String =
    if (rel.startsWith("/") || rel.contains(":/")) rel else s"$dir/$rel"

  private def isForeign(rel: String): Boolean =
    rel.startsWith("/") || rel.contains(":/")

  private def manifestPath(dir: String, v: Int) = new Path(s"$dir/_manifests/v$v.txt")
  private def latestPath(dir: String) = new Path(s"$dir/_latest")

  private def readSmall(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** A concurrent commit raced this one to the version slot. */
  final class CommitConflictException(v: Int)
    extends RuntimeException(s"version $v was committed concurrently; " +
      "re-read the table and retry")

  /** The streaming epoch this commit carries already landed (a zombie
    * driver of the same query won the race) — the sink treats this as
    * an idempotent replay, not a failure. */
  private[graft] final class EpochCommittedException(epoch: Long)
    extends RuntimeException(s"stream epoch $epoch already committed")

  private def writeAtomic(f: FileSystem, p: Path, content: String,
                          overwrite: Boolean = true): Unit = {
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (overwrite && f.exists(p)) f.delete(p, false)
    // with overwrite=false this is the commit CAS: HDFS/posix rename onto
    // an existing path fails, so exactly one of two racing committers
    // claims the version slot — optimistic concurrency with no lock
    // service (losers throw CommitConflictException and retry on a
    // re-read table)
    if (!f.rename(tmp, p)) {
      f.delete(tmp, false)
      throw new java.io.IOException(s"rename $tmp -> $p failed")
    }
  }

  // ---- manifest model and file pruning ---------------------------------

  /** One manifest line, parsed: the manifest-relative `rel` and its
    * resolved `path`, recorded [min,max] per stat column (absent =
    * unprunable), exact row count and per-stat-col non-null counts
    * (absent on legacy manifests — consumers must degrade, never guess),
    * string bounds per `#sstats:` column, and the verbatim `raw` line a
    * later commit carries untouched. `bloomAt` is the offset of the
    * bloom hex in `raw` (-1 when the line records no bitmap): the bits
    * are read in place, so a parsed manifest holds each 16 KiB bitmap
    * once. */
  private[graft] final case class PlanEntry(rel: String, path: String,
      ranges: Map[String, (Long, Long)], bloomAt: Int, nRows: Option[Long],
      nonNull: Map[String, Long],
      sRanges: Map[String, (Array[Byte], Array[Byte])], raw: String)

  /** A parsed manifest: its header fields and every file line. */
  private[graft] final case class TablePlan(version: Int,
      statCols: Seq[String], bloom: Option[(String, Int)],
      schema: Option[String], sStatCols: Seq[String],
      files: Seq[PlanEntry]) {
    // probe value -> its two bloom bit positions, computed once per plan
    // (an IN list or a runtime join-key filter probes every file)
    private val probes =
      scala.collection.concurrent.TrieMap.empty[Long, (Long, Long)]
    private[graft] def bloomBits(value: Long, m: Int): (Long, Long) =
      probes.getOrElseUpdate(value, bloomPositions(value, m))
  }

  private[graft] def hexBytes(h: String): Array[Byte] = {
    val out = new Array[Byte](h.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(h.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }

  /** The manifest of `version` (default: latest) — what a scanner or a
    * copy-on-write verb needs to prune files before opening any. The
    * USER-facing relation is [[filesMeta]]. */
  private[graft] def plan(spark: SparkSession, dir: String,
                          version: Int = 0): TablePlan = {
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0, s"no committed version at $dir")
    parseManifest(fs(spark, dir), dir, v)
  }

  /** The two bloom bit positions for a probe value — computed through
    * the SAME Catalyst expression the writer's bitmaps were built with
    * (`XxHash64`, evaluated directly), so scanner pruning can never
    * diverge from the writer's hashing. Direct eval (round 13): the
    * old shape planned a one-row local relation PER DISTINCT VALUE —
    * harmless for a user's small IN list, a real planning tax once
    * runtime filters hand the scan thousands of join keys. 42 is
    * the `xxhash64` function's documented default seed. */
  private def bloomPositions(value: Long, m: Int): (Long, Long) = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    // the writer's second hash is xxhash64(value, BloomSeed) — the
    // seed constant hashed as a SECOND COLUMN under the function's
    // default seed 42, exactly as the bitmap-building expression wrote
    // it (not XxHash64 seeded with BloomSeed)
    def pos(cols: Seq[Long]): Long = {
      val h = XxHash64(cols.map(Literal(_)), 42L).eval(null)
        .asInstanceOf[Long]
      ((h % m) + m) % m // pmod
    }
    (pos(Seq(value)), pos(Seq(value, BloomSeed)))
  }

  /** Bit `p` of the entry's bloom bitmap, read in place from its line. */
  private def bloomBit(e: PlanEntry, p: Long): Boolean = {
    val at = e.bloomAt + (p / 64).toInt * 16
    val word = java.lang.Long.parseUnsignedLong(e.raw, at, at + 16, 16)
    (word & (1L << (p % 64))) != 0L
  }

  /** THE FILE-PRUNING EVALUATOR. A filter participates in file pruning
    * when every referenced column is integer-typed (the manifest's zone
    * cells are LONG) or string-typed (round-12 `#sstats:` truncated
    * string bounds) — [[canMatch]] itself decides per file what it can
    * conclude. Shared by the connector's planning-time pushdown and
    * round-13 runtime filtering, and by SQL DELETE (the evaluator's
    * value coercions only understand these shapes). */
  private[graft] def usableFilter(full: StructType, f: Filter): Boolean = {
    def integerCol(name: String): Boolean =
      full.fields.exists(fd => fd.name == name && (fd.dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }))
    def stringCol(name: String): Boolean =
      full.fields.exists(fd => fd.name == name && fd.dataType == StringType)
    def str(v: Any): Boolean = v.isInstanceOf[String]
    def integral(v: Any): Boolean = v match {
      case _: Long | _: Int | _: Short | _: Byte => true
      case _ => false
    }
    def compared(a: String, v: Any): Boolean =
      (integerCol(a) && integral(v)) || (stringCol(a) && str(v))
    def usable(f: Filter): Boolean = f match {
      case EqualTo(a, v)            => compared(a, v)
      case GreaterThan(a, v)        => compared(a, v)
      case GreaterThanOrEqual(a, v) => compared(a, v)
      case LessThan(a, v)           => compared(a, v)
      case LessThanOrEqual(a, v)    => compared(a, v)
      case In(a, vs) =>
        (integerCol(a) && vs.forall(integral)) ||
          (stringCol(a) && vs.forall(str))
      case StringStartsWith(a, _)   => stringCol(a)
      // NULL-membership prunes off the round-12 per-file counts (any
      // column type — the evaluator needs only the counts, not values)
      case IsNull(_) | IsNotNull(_) => true
      case And(l, r)                => usable(l) && usable(r)
      case Or(l, r)                 => usable(l) && usable(r)
      // negations prune through De Morgan + complement rewrites over
      // the SAME shape set (round 13): NOT k=v prunes a file whose zone
      // is [v,v], NOT k>v prunes like k<=v, NOT startsWith prunes a
      // file whose whole range shares the prefix
      case Not(inner)               => usable(inner)
      case _                        => false
    }
    usable(f)
  }

  private def long(v: Any): Long = v match {
    case l: Long => l; case i: Int => i.toLong
    case s: Short => s.toLong; case b: Byte => b.toLong
  }
  // STRING bounds compare as unsigned UTF-8 bytes — exactly
  // UTF8String's binary ordering, which is what the truncated
  // manifest cells were derived under (Java String.compareTo orders
  // UTF-16 units and DIVERGES for supplementary characters)
  private def sBytes(v: Any): Array[Byte] =
    v.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private def cmpB(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }
  // smallest byte string strictly greater than every string with
  // prefix p: increment the last non-0xFF byte and truncate; all-0xFF
  // has no successor (None = no upper constraint)
  private def succB(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xff.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  /** Can file `e` of `p` hold a row matching every filter? */
  private[graft] def canMatchAll(p: TablePlan, e: PlanEntry,
                                 filters: Seq[Filter]): Boolean =
    filters.forall(canMatch(p, e, _))

  /** The files of `p` that can hold a row matching every filter. */
  private[graft] def candidates(p: TablePlan,
                                filters: Seq[Filter]): Seq[PlanEntry] =
    p.files.filter(canMatchAll(p, _, filters))

  /** Tri-state "file `e` CAN contain a row matching `f`": unknown → true,
    * never prune. */
  private[graft] def canMatch(p: TablePlan, e: PlanEntry,
                              f: Filter): Boolean = f match {
    // `_file` is exact membership, not a zone: the runtime group
    // filter hands back the very paths the scan emitted
    case EqualTo(graft.sources.SnapScan.FileColumn, v: String) => e.path == v
    case In(graft.sources.SnapScan.FileColumn, vs) => vs.exists(v => e.path == v)
    case EqualTo(a, v: String) =>
      e.sRanges.get(a).forall { case (lo, hi) =>
        val b = sBytes(v); cmpB(lo, b) <= 0 && cmpB(b, hi) <= 0
      }
    case EqualTo(a, v) =>
      val value = long(v)
      val zoneOk = e.ranges.get(a) match {
        case Some((mn, mx)) => mn <= value && value <= mx
        case None           => true
      }
      val bloomOk = p.bloom match {
        case Some((bc, m)) if bc == a && e.bloomAt >= 0 =>
          val (p1, p2) = p.bloomBits(value, m)
          bloomBit(e, p1) && bloomBit(e, p2)
        case _ => true // no bitmap for this column or file: never prune
      }
      zoneOk && bloomOk
    case GreaterThan(a, v: String) =>
      e.sRanges.get(a).forall { case (_, hi) => cmpB(hi, sBytes(v)) > 0 }
    case GreaterThan(a, v) =>
      e.ranges.get(a).forall { case (_, mx) => mx > long(v) }
    case GreaterThanOrEqual(a, v: String) =>
      e.sRanges.get(a).forall { case (_, hi) => cmpB(hi, sBytes(v)) >= 0 }
    case GreaterThanOrEqual(a, v) =>
      e.ranges.get(a).forall { case (_, mx) => mx >= long(v) }
    case LessThan(a, v: String) =>
      e.sRanges.get(a).forall { case (lo, _) => cmpB(lo, sBytes(v)) < 0 }
    case LessThan(a, v) =>
      e.ranges.get(a).forall { case (mn, _) => mn < long(v) }
    case LessThanOrEqual(a, v: String) =>
      e.sRanges.get(a).forall { case (lo, _) => cmpB(lo, sBytes(v)) <= 0 }
    case LessThanOrEqual(a, v) =>
      e.ranges.get(a).forall { case (mn, _) => mn <= long(v) }
    // a string with prefix p lies in [p, succ(p)): the file can hold
    // one iff its [lo, hi] intersects that range (conservative under
    // the cells' own truncation — lo <= trueMin, hi >= trueMax)
    case StringStartsWith(a, pfx) =>
      e.sRanges.get(a).forall { case (lo, hi) =>
        val b = sBytes(pfx)
        cmpB(hi, b) >= 0 && succB(b).forall(sp => cmpB(lo, sp) < 0)
      }
    case In(a, vs)  => vs.exists(v => canMatch(p, e, EqualTo(a, v)))
    // NULL-membership from the per-file counts (round 12): a file
    // whose non-null count for a STAT column equals its row count
    // holds no NULLs there; one whose non-null count is 0 holds
    // nothing BUT NULLs. Absent counts (legacy lines, non-stat
    // columns) → unknown → never prune.
    case IsNull(a) =>
      (e.nRows, e.nonNull.get(a)) match {
        case (Some(n), Some(nn)) => nn < n
        case _                   => true
      }
    case IsNotNull(a) =>
      e.nonNull.get(a) match {
        case Some(nn) => nn > 0
        // a zero-row file can't match ANY predicate; recorded row
        // count 0 prunes even without a per-column non-null count
        case None     => !e.nRows.contains(0L)
      }
    case And(l, r)  => canMatch(p, e, l) && canMatch(p, e, r)
    case Or(l, r)   => canMatch(p, e, l) || canMatch(p, e, r)
    case Not(inner) => canMatchNeg(p, e, inner)
    case _          => true
  }

  /** Tri-state "file `e` CAN contain a row where `f` is FALSE" (a row
    * where f is NULL does not match NOT f under SQL semantics, and the
    * zone cells describe only non-null values — so the complement
    * rewrites below are exact): unknown → true, never prune. */
  private def canMatchNeg(p: TablePlan, e: PlanEntry,
                          f: Filter): Boolean = f match {
    // NOT k=v: prunable only when the zone PROVES every non-null
    // value equals v. For strings the bounds are truncated (Iceberg
    // rule) — lo==hi only proves min==max when the cell is shorter
    // than the 16-byte truncation width (an untruncated bound IS the
    // value)
    case EqualTo(a, v: String) =>
      !e.sRanges.get(a).exists { case (lo, hi) =>
        val b = sBytes(v)
        b.length < 16 && java.util.Arrays.equals(lo, b) &&
          java.util.Arrays.equals(hi, b)
      }
    case EqualTo(a, v) =>
      !e.ranges.get(a).contains((long(v), long(v)))
    // complements of the range shapes are ranges themselves; the
    // zone checks already quantify over non-null values only
    case GreaterThan(a, v)        => canMatch(p, e, LessThanOrEqual(a, v))
    case GreaterThanOrEqual(a, v) => canMatch(p, e, LessThan(a, v))
    case LessThan(a, v)           => canMatch(p, e, GreaterThanOrEqual(a, v))
    case LessThanOrEqual(a, v)    => canMatch(p, e, GreaterThan(a, v))
    case IsNull(a)                => canMatch(p, e, IsNotNull(a))
    case IsNotNull(a)             => canMatch(p, e, IsNull(a))
    // NOT IN prunes when the zone proves all values equal some
    // member — exactly when some member's NOT= pruned
    case In(a, vs) => vs.forall(v => canMatchNeg(p, e, EqualTo(a, v)))
    // NOT startsWith(p): if BOTH recorded bounds start with p, every
    // string in [lo, hi] must too (binary order: a string below the
    // prefix sorts before lo, above it sorts after hi) — even under
    // truncation, [trueMin, trueMax] ⊆ [lo, hi]
    case StringStartsWith(a, pfx) =>
      !e.sRanges.get(a).exists { case (lo, hi) =>
        val b = sBytes(pfx)
        lo.length >= b.length && hi.length >= b.length &&
          java.util.Arrays.equals(java.util.Arrays.copyOf(lo, b.length), b) &&
          java.util.Arrays.equals(java.util.Arrays.copyOf(hi, b.length), b)
      }
    case And(l, r)  => canMatchNeg(p, e, l) || canMatchNeg(p, e, r) // De Morgan
    case Or(l, r)   => canMatchNeg(p, e, l) && canMatchNeg(p, e, r)
    case Not(inner) => canMatch(p, e, inner)
    case _          => true
  }

  /** A stat column's [lo, hi] hint as evaluator filters — the form
    * `readWhere`, `delete` and `update` state their public range hints
    * in. */
  private def rangeFilters(p: TablePlan, c: String, lo: Long,
                           hi: Long): Seq[Filter] =
    if (c == null) Nil
    else {
      require(p.statCols.contains(c),
        s"no recorded stats for $c (have ${p.statCols})")
      Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))
    }

  /** Latest committed version, 0 if the table has none. */
  def latestVersion(spark: SparkSession, dir: String): Int = {
    val f = fs(spark, dir)
    if (f.exists(latestPath(dir))) readSmall(f, latestPath(dir)).trim.toInt else 0
  }

  /** Header fields of one manifest. `counts = true` (the round-13
    * `#counts:full` line) asserts EVERY file line of this manifest
    * records its row count and per-stat-col non-null counts — the
    * header-only availability check that lets the connector claim
    * metadata-only COUNT pushdown without parsing O(files) lines
    * (each potentially carrying a 16 KiB bloom hex cell). */
  private[graft] final case class HeaderInfo(statCols: Seq[String],
                                             bloom: Option[(String, Int)],
                                             schema: Option[String],
                                             sStatCols: Seq[String],
                                             counts: Boolean,
                                             metaKv: Map[String, String] =
                                               Map.empty)

  /** Header-only manifest read: streams lines until the first non-`#`
    * line (headers lead by construction — writeCommit emits header ++
    * carried ++ new), so config checks never pull O(files) lines. */
  private def readHeader(f: FileSystem, dir: String, v: Int): HeaderInfo = {
    val br = new java.io.BufferedReader(
      new java.io.InputStreamReader(f.open(manifestPath(dir, v)), "UTF-8"))
    try {
      var statCols: Seq[String] = Nil
      var bloom: Option[(String, Int)] = None
      var schema: Option[String] = None
      var sStatCols: Seq[String] = Nil
      var counts = false
      var metaKv = Map.empty[String, String]
      var line = br.readLine()
      while (line != null && line.startsWith("#")) {
        if (line.startsWith("#stats:"))
          statCols = line.stripPrefix("#stats:").split(",").toSeq
        if (line.startsWith("#bloom:")) {
          val Array(c, m) = line.stripPrefix("#bloom:").split(":")
          bloom = Some((c, m.toInt))
        }
        if (line.startsWith("#schema:"))
          schema = Some(line.stripPrefix("#schema:"))
        if (line.startsWith("#sstats:"))
          sStatCols = line.stripPrefix("#sstats:").split(",").toSeq
        if (line == "#counts:full") counts = true
        if (line.startsWith("#meta:"))
          line.stripPrefix("#meta:").split("=", 2) match {
            case Array(k, vl) => metaKv += (k -> vl)
            case _            => ()
          }
        line = br.readLine()
      }
      HeaderInfo(statCols, bloom, schema, sStatCols, counts, metaKv)
    } finally br.close()
  }

  /** The full header of a committed version — the connector's O(1)
    * planning surface (stat columns, bloom config, string-stat columns,
    * schema pin, count availability) with zero file-line parsing. */
  private[graft] def header(spark: SparkSession, dir: String,
                            version: Int = 0): HeaderInfo = {
    val f = fs(spark, dir)
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0, s"no committed version at $dir")
    readHeader(f, dir, v)
  }

  /** Canonical schema fingerprint recorded in the `#schema:` header:
    * name:type per column, order-sensitive, nullability-insensitive
    * (relaxing/tightening nullability never corrupts readers; a changed
    * name, type, or column order does). Column names containing the
    * fingerprint's own separators are REJECTED at commit time (round-13
    * advice): ':' or ';' anywhere in a field (including nested struct
    * field names, which catalogString prints unquoted) would write a
    * `#schema:` header that misparses on every later read/append —
    * loud now beats corrupt forever. */
  private def schemaFingerprint(schema: org.apache.spark.sql.types.StructType)
      : String =
    schema.fields.map { f =>
      require(!f.name.contains(':') && !f.name.contains(';'),
        s"column name '${f.name}' contains ':' or ';' — the #schema " +
          "fingerprint separators; rename the column to commit it")
      val typ = f.dataType.catalogString
      require(!typ.contains(';'),
        s"column '${f.name}' type $typ contains ';' (a nested field " +
          "name?) — the #schema fingerprint separator; rename it")
      s"${f.name}:$typ"
    }.mkString(";")

  /** (name, catalogString-type) pairs of a recorded fingerprint. The
    * split is on the FIRST ':' per field — catalogString types
    * (struct<a:int>) contain colons of their own. */
  private def fingerprintFields(s: String): Seq[(String, String)] =
    s.split(";").toSeq.filter(_.nonEmpty).map { fld =>
      val i = fld.indexOf(':')
      (fld.take(i), fld.drop(i + 1))
    }

  /** The recorded schema as a StructType (all-nullable: the fingerprint
    * is deliberately nullability-insensitive). */
  private def schemaOf(s: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(fingerprintFields(s).map {
      case (n, t) => org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.DataType.fromDDL(t))
    })

  /** The READ schema of a committed version: the manifest's recorded
    * `#schema:` header (round 12+; authoritative under add-column
    * evolution, where files older than an added column null-fill it, and
    * read without opening any data file), else, for a legacy manifest
    * whose files share one schema, one footer read of its first data
    * file. A legacy version with no data files has no schema to read:
    * the caller must declare one. */
  private[graft] def readSchema(spark: SparkSession, dir: String,
                                version: Int = 0)
      : org.apache.spark.sql.types.StructType = {
    val f = fs(spark, dir)
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0, s"no committed version at $dir")
    readHeader(f, dir, v).schema.map(schemaOf).getOrElse {
      val files = parseManifest(f, dir, v).files
      require(files.nonEmpty,
        s"snapshot table $dir version $v records no schema and has no data " +
          "files; declare a schema to read it as an empty relation")
      spark.read.parquet(files.head.path).schema
    }
  }

  /** Header-only config of a committed version: (statCols, bloom) —
    * the O(1) read external writers use to inherit a table's pruning
    * declarations without touching its file list. */
  private[graft] def headerConfig(spark: SparkSession, dir: String,
                                  version: Int = 0)
      : (Seq[String], Option[(String, Int)]) = {
    val f = fs(spark, dir)
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0, s"no committed version at $dir")
    val h = readHeader(f, dir, v)
    (h.statCols, h.bloom)
  }

  /** Header-only `#sstats:` column list of a committed version. */
  private[graft] def headerStrStats(spark: SparkSession, dir: String,
                                    version: Int = 0): Seq[String] = {
    val f = fs(spark, dir)
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0, s"no committed version at $dir")
    readHeader(f, dir, v).sStatCols
  }

  /** METADATA TABLE — the manifest as a relation (the Iceberg `.files`
    * / Delta detail surface): one row per data file of `version`, with
    * the file's zone cells (`min_<col>`/`max_<col>`, NULL for the
    * unprunable "-" cells) and whether it carries a bloom bitmap.
    * Parsed EXECUTOR-side from the manifest text — only the (tiny)
    * header is read on the driver, so the relation scales to any file
    * count; the planning paths that genuinely need driver-side entries
    * (readWhere/delete candidate analysis) are unchanged. Lets users
    * run layout audits ("how many files can contain key K?", "which
    * files have no stats?") as ordinary queries. */
  def filesMeta(spark: SparkSession, dir: String, version: Int = 0)
      : DataFrame = {
    val f = fs(spark, dir)
    val v = if (version > 0) version else latestVersion(spark, dir)
    require(v > 0, s"no committed version at $dir")
    val h = readHeader(f, dir, v)
    // EVERY field access is try_-guarded: manifest lines are variable
    // arity (stats-only, no-stats, cell-less zero-row, pre-round-12
    // lines without counts), and under ANSI mode a bare element_at /
    // cast would crash the metadata table for any shape but the
    // newest — a "-" or "" zone cell and a missing field must both
    // read as NULL, never as an error
    def field(i: Int) = s"try_element_at(_p, $i)"
    def longCell(s: String) =
      expr(s"try_cast(nullif(nullif($s, '-'), '') as long)")
    val lines = fileLineScan(spark, dir, v)
      .select(split(col("value"), "\t").as("_p"))
    val base = lines.select(
      element_at(col("_p"), 1).as("file"), // index 1 always exists
      split(expr(field(2)), ",").as("_z"),
      expr(field(3)).as("_b"),
      longCell(field(4)).as("n_rows"),
      split(expr(field(5)), ",").as("_nn"),
      split(expr(field(6)), ",").as("_sz"))
    val withStats = h.statCols.zipWithIndex.foldLeft(base) {
      case (df, (c, k)) =>
        df.withColumn(s"min_$c", longCell(s"try_element_at(_z, ${2 * k + 1})"))
          .withColumn(s"max_$c", longCell(s"try_element_at(_z, ${2 * k + 2})"))
          .withColumn(s"nonnull_$c", longCell(s"try_element_at(_nn, ${k + 1})"))
    }
    // string zone BOUNDS (not values): smax may be the truncated
    // successor of the file's true maximum (the Iceberg rule)
    def strCell(cell: String) = expr(
      s"try_cast(decode(unhex(nullif($cell, '-')), 'UTF-8') as string)")
    val withSStats = h.sStatCols.zipWithIndex.foldLeft(withStats) {
      case (df, (c, k)) =>
        df.withColumn(s"smin_$c", strCell(s"try_element_at(_sz, ${2 * k + 1})"))
          .withColumn(s"smax_$c", strCell(s"try_element_at(_sz, ${2 * k + 2})"))
    }
    withSStats
      .withColumn("has_bloom",
        lit(h.bloom.nonEmpty) && col("_b").isNotNull
          && col("_b").startsWith("B"))
      .drop("_z", "_b", "_nn", "_sz")
  }

  private def manifestLines(f: FileSystem, dir: String, v: Int): Seq[String] =
    readSmall(f, manifestPath(dir, v)).split("\n").toSeq.filter(_.nonEmpty)

  /** Do these (already-parsed) lines all record row + non-null counts?
    * Drives `#counts:full` propagation through DML rewrites and clones
    * — exact, since the caller holds the parsed entries anyway. */
  private def linesCounted(p: TablePlan, files: Seq[PlanEntry]): Boolean =
    files.forall(e => e.nRows.isDefined && p.statCols.forall(e.nonNull.contains))

  private def parseManifest(f: FileSystem, dir: String, v: Int): TablePlan = {
    val lines = manifestLines(f, dir, v)
    val statCols = lines.find(_.startsWith("#stats:"))
      .map(_.stripPrefix("#stats:").split(",").toSeq).getOrElse(Nil)
    val bloom = lines.find(_.startsWith("#bloom:")).map { h =>
      val Array(c, m) = h.stripPrefix("#bloom:").split(":")
      (c, m.toInt)
    }
    val schema = lines.find(_.startsWith("#schema:"))
      .map(_.stripPrefix("#schema:"))
    val sStatCols = lines.find(_.startsWith("#sstats:"))
      .map(_.stripPrefix("#sstats:").split(",").toSeq).getOrElse(Nil)
    val files = lines.filterNot(_.startsWith("#")).map { line =>
      val parts = line.split("\t", -1)
      val rel = parts(0)
      val ranges =
        if (parts.length > 1 && parts(1).nonEmpty) {
          val cs = parts(1).split(",")
          statCols.indices.flatMap { k =>
            val lo = cs(2 * k); val hi = cs(2 * k + 1)
            if (lo == "-" || hi == "-") None
            else Some(statCols(k) -> (lo.toLong, hi.toLong))
          }.toMap
        } else Map.empty[String, (Long, Long)]
      val bloomAt =
        if (parts.length > 2 && parts(2).startsWith("B"))
          rel.length + parts(1).length + 3 // two tabs and the 'B'
        else -1
      // round-12 fields; absent on carried pre-round-12 lines
      val n =
        if (parts.length > 3 && parts(3).nonEmpty) Some(parts(3).toLong)
        else None
      val nn =
        if (parts.length > 4 && parts(4).nonEmpty) {
          val cs = parts(4).split(",")
          statCols.indices.collect {
            case k if k < cs.length && cs(k).nonEmpty =>
              statCols(k) -> cs(k).toLong
          }.toMap
        } else Map.empty[String, Long]
      // field 6 (round 12): STRING zone cells — hex-of-UTF-8 truncated
      // bounds per #sstats column ("-" = unknown/all-null, never prune)
      val sr =
        if (parts.length > 5 && parts(5).nonEmpty) {
          val cs = parts(5).split(",")
          sStatCols.indices.flatMap { k =>
            if (2 * k + 1 >= cs.length) None
            else {
              val lo = cs(2 * k); val hi = cs(2 * k + 1)
              if (lo == "-" || hi == "-") None
              else Some(sStatCols(k) -> (hexBytes(lo), hexBytes(hi)))
            }
          }.toMap
        } else Map.empty[String, (Array[Byte], Array[Byte])]
      PlanEntry(rel, resolvePath(dir, rel), ranges, bloomAt, n, nn, sr, line)
    }
    TablePlan(v, statCols, bloom, schema, sStatCols, files)
  }

  /** The file lines of manifest `v` as a text relation, read
    * executor-side (column `value`). */
  private def fileLineScan(spark: SparkSession, dir: String, v: Int): DataFrame =
    spark.read.text(manifestPath(dir, v).toString)
      .where(!col("value").startsWith("#") && col("value") =!= "")

  /** Manifest file lines as carried `(k, line)` rows — the sort keys
    * place them after the header and before the new files' lines. */
  private def asCarried(lines: DataFrame): DataFrame =
    lines.select(concat(lit("1"),
      lpad(monotonically_increasing_id().cast("string"), 12, "0"))
      .as("k"), col("value").as("line"))

  /** `files` of `p` as one relation. The manifest's recorded schema
    * (when present) is the READ schema: under add-column evolution,
    * files committed before a column was added lack it physically — the
    * declared schema makes the parquet reader null-fill them instead of
    * failing or silently dropping the column depending on which file's
    * footer got sampled. */
  private def readFiles(spark: SparkSession, p: TablePlan,
                        files: Seq[PlanEntry]): DataFrame =
    p.schema.fold(spark.read)(sc => spark.read.schema(schemaOf(sc)))
      .parquet(files.map(_.path): _*)

  // MANIFEST-EXEC-SIDE-BEGIN (SnapTableSpec pins this region collect-free)
  // Per-file zone cells, bloom bitmaps, and the fully-formatted manifest
  // lines are computed and assembled by EXECUTORS; the driver handles
  // only the commit protocol's file-NAME listing. The old shape
  // collected one row per data file — each carrying a bloom hex cell of
  // m/4 characters (16 KiB at the 65536-bit default) — which is a
  // driver-memory cliff at 100 TB file counts (round-10 verdict #3).
  /** One manifest line per just-written data file under `genDir`,
    * assembled entirely executor-side. Returns (k, line): k is the
    * manifest sort key ("2"+name — header lines sort at "0", carried at
    * "1"), line is the verbatim manifest text. `newFiles` seeds the
    * relation with the LISTED names so a zero-row part file still gets
    * its (cell-less) line. */
  private def newFileLines(spark: SparkSession, genDir: String,
                           commitId: String, newNames: Seq[String],
                           schemaFp: String, statCols: Seq[String],
                           bloom: Option[(String, Int)],
                           strStatCols: Seq[String] = Nil): DataFrame = {
    // a commit may add ZERO files (a row-level DELETE that emptied all
    // matched groups): genDir may not even exist — no lines, no reads
    if (newNames.isEmpty)
      return carriedDf(spark, Nil).select(col("k"), col("line"))
    def fileName = element_at(split(input_file_name(), "/"), -1)
    // the files were just written with the recorded schema: declare it
    // rather than pay a footer-inference job per commit
    lazy val data = spark.read.schema(schemaOf(schemaFp)).parquet(genDir)
    // all-null stat values print as the unprunable "-,-" cell
    def zoneCell(sc: Seq[String]) = concat_ws(",", sc.flatMap(c => Seq(
      coalesce(col(s"_min_$c").cast("string"), lit("-")),
      coalesce(col(s"_max_$c").cast("string"), lit("-")))): _*)
    // round 12: exact per-file row count (manifest field 4) and NON-null
    // count per stat column (field 5) ride the SAME fused aggregation —
    // they make COUNT(*)/COUNT(statCol) metadata-only answers and feed
    // numRows statistics, at zero extra scans for stats/bloom commits
    def nnCell(sc: Seq[String]) = concat_ws(",", sc.map(c =>
      coalesce(col(s"_nn_$c"), lit(0L)).cast("string")): _*)
    // STRING zone cells (round 12, manifest field 6): hex-of-UTF-8
    // TRUNCATED bounds, the Iceberg rule — the lower bound is min's
    // 16-char prefix (a prefix is always <= the full string under
    // binary collation), the upper bound is max itself when short,
    // else max's 15-char prefix with the 16th char incremented (>
    // max on the first differing position). chr() is mod-256, so the
    // increment is only taken for ASCII 1..125 sixteenth chars; any
    // other shape records the unprunable "-" instead of a wrong bound.
    def sLoCell(c: String) = when(col(s"_smin_$c").isNull, lit("-"))
      .otherwise(hex(encode(substring(col(s"_smin_$c"), 1, 16), "UTF-8")))
    def sHiCell(c: String) = when(col(s"_smax_$c").isNull, lit("-"))
      .when(length(col(s"_smax_$c")) <= 16,
        hex(encode(col(s"_smax_$c"), "UTF-8")))
      .when(expr(s"ascii(substring(_smax_$c, 16, 1)) BETWEEN 1 AND 125"),
        hex(encode(concat(substring(col(s"_smax_$c"), 1, 15),
          expr(s"chr(ascii(substring(_smax_$c, 16, 1)) + 1)")), "UTF-8")))
      .otherwise(lit("-"))
    def sZoneCell(ss: Seq[String]) = concat_ws(",",
      ss.flatMap(c => Seq(sLoCell(c), sHiCell(c))): _*)
    def sAggs(ss: Seq[String]): Seq[Column] = ss.flatMap(c =>
      Seq(min(col(c)).as(s"_smin_$c"), max(col(c)).as(s"_smax_$c")))
    // word map -> one hex string per file, zeros for unset words — the
    // same f"%016x" layout the old driver loop built; an EMPTY map
    // (file with zero non-null bloom values) yields NULL: that file's
    // line omits the bloom cell, exactly the old per-file semantics
    def bloomHex(m: Int) = when(expr("cardinality(_wm)") > 0, expr(
      s"""array_join(transform(sequence(0, ${m / 64 - 1}),
         |  i -> lower(lpad(hex(coalesce(element_at(_wm, i), 0L)),
         |               16, '0'))), '')""".stripMargin))
      .otherwise(lit(null).cast("string"))
    // The listed names LEFT-join the per-file cell aggregates: a
    // zero-row part file (an empty-DataFrame commit writes exactly one)
    // has no agg row and gets its cell-less line from the names side —
    // dropping the join loses that file from the manifest
    // (SnapTableSpec's empty-append case caught exactly this). The
    // names relation is a tiny broadcast; the measured per-commit costs
    // were the extra scans and the FileFormatWriter committer, both
    // gone.
    val names = spark.createDataset(newNames)(
      org.apache.spark.sql.Encoders.STRING).toDF("_name")
    val withCells: DataFrame = (statCols, strStatCols, bloom) match {
      case (Nil, Nil, None) =>
        // a stats-free commit still records row counts — read each
        // file's count from its parquet FOOTER inside the names
        // relation itself: no data scan, and (measured, round 12) no
        // broadcast-exchange job per commit, so the count rides the
        // manifest-write job for the cost of one footer open per file
        // (executor-side, session conf via the broadcast)
        val hconfB = org.apache.spark.sql.GraftBridge.hadoopConfBroadcast(spark)
        names.as(org.apache.spark.sql.Encoders.STRING)
          .mapPartitions { it =>
            val conf = org.apache.spark.sql.GraftBridge.hadoopConf(hconfB)
            it.map { n =>
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(new org.apache.hadoop.fs.Path(s"$genDir/$n"), conf)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try (n, r.getRecordCount) finally r.close()
            }
          }(org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.scalaLong))
          .toDF("_name", "_n")
          .withColumn("_zone", lit(null).cast("string"))
          .withColumn("_bloom", lit(null).cast("string"))
          .withColumn("_nncell", lit(null).cast("string"))
          .withColumn("_szone", lit(null).cast("string"))
      case (sc, ss, None) =>
        val aggs = count(lit(1)).as("_n") +: (sc.flatMap(c =>
          Seq(min(col(c).cast("long")).as(s"_min_$c"),
            max(col(c).cast("long")).as(s"_max_$c"),
            count(col(c)).as(s"_nn_$c"))) ++ sAggs(ss))
        val z = data.groupBy(fileName.as("_name"))
          .agg(aggs.head, aggs.tail: _*)
          .select(col("_name"), col("_n"),
            (if (sc.isEmpty) lit(null).cast("string") else zoneCell(sc))
              .as("_zone"),
            (if (sc.isEmpty) lit(null).cast("string") else nnCell(sc))
              .as("_nncell"),
            (if (ss.isEmpty) lit(null).cast("string") else sZoneCell(ss))
              .as("_szone"))
        names.join(broadcast(z), Seq("_name"), "left")
          .withColumn("_bloom", lit(null).cast("string"))
      case (sc, ss, Some((bc, m))) =>
        require(m % 64 == 0 && m > 0,
          s"bloom bits must be a multiple of 64, got $m")
        // ONE scan for zone cells AND bloom bitmaps (the r11 perf
        // finding: each extra scan+exchange is a fixed per-commit
        // cost): bloom bit positions explode 2x per row — min/max are
        // duplication-immune — and a null bloom value keeps its row
        // through explode_outer so zone stats never lose it
        val v = col(bc).cast("long")
        val pos = explode_outer(when(col(bc).isNotNull,
          array(pmod(xxhash64(v), lit(m.toLong)),
            pmod(xxhash64(v, lit(BloomSeed)), lit(m.toLong)))))
        // COUNTS under the 2x bloom-position explosion: each source row
        // carries weight 1 when it explodes into two position rows and
        // weight 2 when a null bloom value keeps it as one row — every
        // source row contributes exactly 2 to any weighted sum, so
        // n = sum(_w2) >> 1 and nonnull_c = sum(_w2 | _v_c set) >> 1,
        // exact integers (min/max stay duplication-immune as before)
        val w2 = when(col(bc).isNotNull, lit(1L)).otherwise(lit(2L))
        // non-null counts come from the RAW column's null flag, not the
        // long-cast value (round-13 advice: a stat value whose cast
        // nulls out must still count as non-null, exactly as the
        // no-bloom branch's count(col(c)) does)
        val l1aggs =
          bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"))
            .as("bits") +:
          (sum(col("_w2")).as("_n2") +:
          (sc.flatMap(c => Seq(min(col(s"_v_$c")).as(s"_min_$c"),
            max(col(s"_v_$c")).as(s"_max_$c"),
            sum(when(col(s"_p_$c"), col("_w2"))
              .otherwise(lit(0L))).as(s"_nn2_$c"))) ++
          // string bounds are duplication-immune min/max, same as long
          ss.flatMap(c => Seq(min(col(s"_sv_$c")).as(s"_smin_$c"),
            max(col(s"_sv_$c")).as(s"_smax_$c")))))
        val l1 = data.select(fileName.as("_name") +: w2.as("_w2") +:
            (sc.flatMap(c => Seq(col(c).cast("long").as(s"_v_$c"),
              col(c).isNotNull.as(s"_p_$c"))) ++
             ss.map(c => col(c).as(s"_sv_$c"))) :+ pos.as("p"): _*)
          .groupBy(col("_name"),
            when(col("p").isNotNull, (col("p") / 64).cast("int")).as("w"))
          .agg(l1aggs.head, l1aggs.tail: _*)
        val l2aggs =
          map_from_entries(collect_list(
            when(col("w").isNotNull, struct(col("w"), col("bits")))))
            .as("_wm") +:
          (sum(col("_n2")).as("_n2s") +:
          (sc.flatMap(c => Seq(min(col(s"_min_$c")).as(s"_min_$c"),
            max(col(s"_max_$c")).as(s"_max_$c"),
            sum(col(s"_nn2_$c")).as(s"_nn2s_$c"))) ++
          ss.flatMap(c => Seq(min(col(s"_smin_$c")).as(s"_smin_$c"),
            max(col(s"_smax_$c")).as(s"_smax_$c")))))
        val cells = l1.groupBy("_name").agg(l2aggs.head, l2aggs.tail: _*)
          .select(col("_name"),
            (if (sc.isEmpty) lit(null).cast("string") else zoneCell(sc))
              .as("_zone"),
            bloomHex(m).as("_bloom"),
            shiftright(col("_n2s"), 1).as("_n"),
            (if (sc.isEmpty) lit(null).cast("string")
             else concat_ws(",", sc.map(c =>
               shiftright(col(s"_nn2s_$c"), 1).cast("string")): _*))
              .as("_nncell"),
            (if (ss.isEmpty) lit(null).cast("string") else sZoneCell(ss))
              .as("_szone"))
        names.join(broadcast(cells), Seq("_name"), "left")
    }
    val rel = concat(lit(s"data/$commitId/"), col("_name"))
    // a NEW line always carries all five fields: empty-string zone/bloom
    // cells parse as absent (variable-arity compat), the count cells are
    // real data — a zero-row part file (missed by the left join) records
    // n=0 and 0 non-nulls, which is its true content
    val zeroNn = statCols.map(_ => "0").mkString(",")
    val dashSz = strStatCols.map(_ => "-,-").mkString(",")
    val fields = Seq(rel,
      coalesce(col("_zone"), lit("")),
      coalesce(concat(lit("B"), col("_bloom")), lit("")),
      coalesce(col("_n"), lit(0L)).cast("string")) ++
      (if (statCols.isEmpty && strStatCols.isEmpty) Nil
       else Seq(if (statCols.isEmpty) lit("")
                else coalesce(col("_nncell"), lit(zeroNn)))) ++
      (if (strStatCols.isEmpty) Nil
       else Seq(coalesce(col("_szone"), lit(dashSz))))
    val line = concat_ws("\t", fields: _*)
    withCells.select(concat(lit("2"), col("_name")).as("k"), line.as("line"))
  }
  // MANIFEST-EXEC-SIDE-END

  /** Test seam for the commit-retry spec: invoked once, between the
    * first latestVersion read and the first claim attempt — the window
    * a racing committer exploits. No-op in production. */
  private[graft] var commitRaceTestHook: () => Unit = () => ()

  /** Write `df` as a new commit whose manifest = header + `carried`
    * (verbatim lines of surviving prior files, as a (k, line) relation)
    * + the new files' lines. The whole manifest body is assembled and
    * written by ONE Spark task (coalesce(1) + in-partition sort on k),
    * so no per-file metadata ever lands in driver memory; the driver
    * then claims the version slot (exclusive-create CAS) and renames
    * the single part file in.
    *
    * APPEND AUTO-RETRY (round 13): an APPEND loser's data files are
    * already on disk and DISJOINT from the winner's — losing the
    * version-slot race costs only metadata work. When `reCarry` is
    * given (append commits pass the carried-lines builder, which
    * re-validates config/schema pins against the new latest version),
    * a conflict retries up to [[MaxCommitAttempts]] times: re-read the
    * latest version, rebuild carried lines, and re-assemble the
    * manifest — the NEW files' fully-formatted lines are HARVESTED
    * from the losing attempt's temp manifest (an executor-side text
    * scan filtered on this commit's data prefix), so a retry never
    * re-scans data files for stats. Non-append commits (overwrite /
    * DML rewrites / compaction) never retry: their content derives
    * from a snapshot the winner just superseded, and a silent retry
    * would resurrect it — the caller must re-read and re-derive. */
  // generous: N contenders can cost a thread up to N-1 lost rounds
  private val MaxCommitAttempts = 16

  /** `basedOnPrev` pins the version the caller's `carried`/`df` were
    * derived from: the first claim targets exactly basedOnPrev + 1, so
    * a commit NEVER lands stale carried lines onto a newer slot — a
    * conflict either retries through `reCarry` (which re-derives the
    * carried lines from the new latest) or surfaces to the caller. */
  private def writeCommit(spark: SparkSession, dir: String, df: DataFrame,
                          carried: DataFrame, statCols: Seq[String],
                          bloom: Option[(String, Int)],
                          meta: Map[String, String],
                          strStatCols: Seq[String] = Nil,
                          countsComplete: Boolean = true,
                          basedOnPrev: Int,
                          reCarry: Option[Int => (DataFrame, Boolean)] = None)
      : (Int, Int) = {
    val f = fs(spark, dir)
    // the commit id names the data directory, not the version: under
    // retry the finally-claimed version may exceed the id's number
    // (cosmetic — manifest lines carry the full relative path)
    val commitId =
      f"c${basedOnPrev + 1}%05d-" +
        java.util.UUID.randomUUID().toString.take(8)
    val genDir = s"$dir/data/$commitId"
    df.write.parquet(genDir)
    val newNames = f.listStatus(new Path(genDir)).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .sorted
    commitNamed(spark, dir, commitId, newNames,
      schemaFingerprint(df.schema), carried, statCols, bloom, meta,
      strStatCols, countsComplete, basedOnPrev, reCarry)
  }

  /** The commit protocol over ALREADY-WRITTEN data files under
    * `dir/data/<commitId>` — writeCommit after its parquet write, and
    * the streaming sink's per-epoch commit (whose files were written
    * by the sink's own per-task writers). */
  private def commitNamed(spark: SparkSession, dir: String,
                          commitId: String, newNames: Seq[String],
                          schemaFp: String,
                          carried: DataFrame, statCols: Seq[String],
                          bloom: Option[(String, Int)],
                          meta: Map[String, String],
                          strStatCols: Seq[String],
                          countsComplete: Boolean,
                          basedOnPrev: Int,
                          reCarry: Option[Int => (DataFrame, Boolean)])
      : (Int, Int) = {
    val f = fs(spark, dir)
    val genDir = s"$dir/data/$commitId"
    def headerDf(counts: Boolean) = {
      val header =
        (if (statCols.nonEmpty) Seq(s"#stats:${statCols.mkString(",")}") else Nil) ++
          bloom.map { case (c, m) => s"#bloom:$c:$m" }.toSeq ++
          Seq(s"#schema:$schemaFp") ++
          (if (strStatCols.nonEmpty)
             Seq(s"#sstats:${strStatCols.mkString(",")}") else Nil) ++
          // `#counts:full` only when EVERY line (new AND carried)
          // records counts: new lines always do (round 12+), so the
          // caller passes the carried side's availability — the
          // connector's header-only COUNT-pushdown claim must never
          // overstate the lines
          (if (counts) Seq("#counts:full") else Nil) ++
          meta.toSeq.sortBy(_._1).map { case (k, vl) => s"#meta:$k=$vl" }
      spark.createDataset(
        header.zipWithIndex.map { case (l, i) => (f"0$i%09d", l) })(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.STRING)).toDF("k", "line")
    }
    val hconf = org.apache.spark.sql.GraftBridge.hadoopConfBroadcast(spark)
    f.mkdirs(new Path(s"$dir/_manifests"))
    // ONE task streams the ordered lines straight to a temp file on the
    // table's filesystem — no FileFormatWriter commit protocol (its
    // _temporary staging + task/job commit costs ~0.2 s per tiny
    // manifest, a fixed per-commit tax the A/B showed; create(tmp,
    // overwrite=true) keeps task retries idempotent). The SESSION's
    // Hadoop configuration rides a broadcast to the writer task —
    // executor defaults would drop spark.hadoop.* settings (cloud FS
    // credentials, scheme mappings) and write the temp file to the
    // wrong filesystem. coalesce, not repartition: it folds the
    // upstream agg's reducers into the single writer task with NO
    // extra exchange (the reduce side of an O(files) metadata agg is
    // fine single-threaded).
    def writeBody(body: DataFrame, tmpFile: String): Unit =
      body.coalesce(1).sortWithinPartitions("k").select("line")
        .as(org.apache.spark.sql.Encoders.STRING)
        .foreachPartition { (it: Iterator[String]) =>
          val p = new org.apache.hadoop.fs.Path(tmpFile)
          val efs = p.getFileSystem(
            org.apache.spark.sql.GraftBridge.hadoopConf(hconf))
          val out = efs.create(p, true)
          val w = new java.io.BufferedWriter(
            new java.io.OutputStreamWriter(out, "UTF-8"))
          try it.foreach { l => w.write(l); w.write('\n') }
          finally w.close()
        }
    def dropTmps(): Unit =
      try f.globStatus(new Path(s"$dir/_manifests/tmp-$commitId-*"))
        .foreach(st => f.delete(st.getPath, false))
      catch { case scala.util.control.NonFatal(_) => () }

    var prevCur = basedOnPrev
    var carriedCur = carried
    var countsCur = countsComplete
    var newLinesCur: DataFrame =
      newFileLines(spark, genDir, commitId, newNames, schemaFp, statCols,
        bloom, strStatCols)
    var attempt = 0
    val raceHook = commitRaceTestHook
    commitRaceTestHook = () => ()
    raceHook()
    while (true) {
      val v = prevCur + 1
      val manifest = manifestPath(dir, v)
      // NOT dot-prefixed: the retry path harvests this commit's lines
      // back out of the losing temp file through spark.read.text, and
      // Spark's file index silently filters dot/underscore-prefixed
      // paths EVEN WHEN NAMED EXPLICITLY — a hidden temp name made the
      // harvest read zero rows and lose the commit's own lines (caught
      // by the thread-contention spec). Readers never list _manifests,
      // so visibility costs nothing.
      val tmpFile = s"$dir/_manifests/tmp-$commitId-$attempt"
      val claimed =
        if (f.exists(manifest)) false
        else {
          writeBody(headerDf(countsCur).union(carriedCur).union(newLinesCur),
            tmpFile)
          claimVersionSlot(f, dir, v)
        }
      if (claimed) {
        if (!f.rename(new Path(tmpFile), manifest)) {
          dropTmps()
          f.delete(claimPath(dir, v), false)
          throw new java.io.IOException(s"rename $tmpFile -> $manifest failed")
        }
        writeAtomic(f, latestPath(dir), v.toString)
        dropTmps()
        return (v, newNames.size)
      }
      // CLAIM-then-rename (round 12): rename alone is NOT a CAS — posix
      // rename(2) and S3-style stores silently REPLACE an existing
      // destination, so two racing committers could both "win" and the
      // first commit would be silently lost. The slot is claimed first
      // with an atomic exclusive create; only the claim winner renames.
      // A claim whose committer crashed before the rename (a
      // microsecond window — both are adjacent driver-side metadata
      // ops) blocks the slot; releaseStaleClaim is the documented
      // operator recovery — the retry below re-bases only when the
      // conflicting version (or a later one) actually COMMITTED.
      attempt += 1
      // Re-base on the winner's COMMITTED version. Two subtleties under
      // real contention (caught by the threaded spec): (a) the winner's
      // `_latest` pointer swap lags its manifest rename, so the pointer
      // alone can under-read — walk forward over existing manifests;
      // (b) a loser can observe the winner's CLAIM before the winner's
      // rename lands — wait briefly (bounded) for the manifest to
      // appear before concluding the claim is a crashed committer's.
      def committedPrev(): Int = {
        var p = math.max(latestVersion(spark, dir), prevCur)
        while (f.exists(manifestPath(dir, p + 1))) p += 1
        p
      }
      var newPrev = committedPrev()
      var waits = 0
      while (newPrev <= prevCur && waits < 50) {
        Thread.sleep(100)
        newPrev = committedPrev()
        waits += 1
      }
      if (reCarry.isEmpty || attempt >= MaxCommitAttempts ||
          newPrev <= prevCur) {
        dropTmps()
        throw new CommitConflictException(v)
      }
      // harvest THIS commit's fully-formatted lines from the losing
      // temp manifest (they are invariant across attempts); carried
      // lines and the counts flag rebuild against the new latest —
      // reCarry re-validates the config/schema pins against the
      // winner's header and throws loudly on drift
      val (c2, counts2) = reCarry.get(newPrev)
      carriedCur = c2
      countsCur = counts2
      prevCur = newPrev
      if (f.exists(new Path(tmpFile)))
        newLinesCur = spark.read.text(tmpFile)
          .where(col("value").startsWith(s"data/$commitId/"))
          .select(
            concat(lit("2"), element_at(
              split(element_at(split(col("value"), "\t"), 1), "/"), -1))
              .as("k"),
            col("value").as("line"))
    }
    throw new IllegalStateException("unreachable")
  }

  private def claimPath(dir: String, v: Int) =
    new Path(s"$dir/_manifests/v$v.claim")

  /** Atomic exclusive create of the version slot's claim file — the
    * commit CAS. The claim persists after a successful commit (deleting
    * it would reopen the silent-replace race for a committer whose
    * exists(manifest) pre-check passed before this commit landed);
    * vacuum reclaims claims of dropped versions.
    *
    * Atomicity is PER STORE (round-13 honesty fix): on HDFS-like
    * stores `create(overwrite = false)` is a namenode-atomic
    * exclusive create; on the local filesystems Hadoop's local create
    * is exists-then-create (no O_EXCL), so the claim routes through
    * Java NIO `Files.createFile` — a true O_EXCL create(2). On object
    * stores without a conditional-PUT connector the claim narrows the
    * race to the create round-trip but cannot close it — single-writer
    * or an external lock service is the documented requirement there,
    * the same caveat Delta publishes for S3 without a LogStore. */
  private def claimVersionSlot(f: FileSystem, dir: String, v: Int): Boolean = {
    f.mkdirs(new Path(s"$dir/_manifests"))
    val p = claimPath(dir, v)
    f match {
      case _: org.apache.hadoop.fs.LocalFileSystem
         | _: org.apache.hadoop.fs.RawLocalFileSystem =>
        // qualify against the fs so relative table dirs resolve the
        // same way Hadoop's own create would
        val local = java.nio.file.Paths.get(f.makeQualified(p).toUri.getPath)
        try { java.nio.file.Files.createFile(local); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      case _ =>
        try { f.create(p, false).close(); true }
        catch { case _: java.io.IOException => false }
    }
  }

  /** Operator recovery for a committer that crashed between claiming a
    * version slot and renaming its manifest in: deletes the claim so the
    * slot can be retried. REFUSES when the manifest exists (the slot is
    * legitimately decided). Only call after confirming no commit is
    * in flight. */
  def releaseStaleClaim(spark: SparkSession, dir: String, version: Int): Boolean = {
    val f = fs(spark, dir)
    require(!f.exists(manifestPath(dir, version)),
      s"version $version is committed — its claim is not stale")
    f.delete(claimPath(dir, version), false)
  }

  /** Carried-lines relation from a driver-side line list (the
    * delete/update/compact paths, whose candidate analysis already
    * parsed the manifest on the driver). */
  private def carriedDf(spark: SparkSession, lines: Seq[String]): DataFrame =
    spark.createDataset(
      lines.zipWithIndex.map { case (l, i) => (f"1$i%012d", l) })(
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.STRING)).toDF("k", "line")

  /** Commit `df` as the next version. `append = true` carries the
    * previous snapshot's files forward; `false` makes `df` the entire
    * new table state (files of older versions remain on disk and remain
    * readable through their manifests). `statCols` declares LONG columns
    * whose per-file min/max land in the manifest for `readWhere`
    * pruning; `bloomCol`/`bloomBits` declare the per-file bloom column
    * for `readWhereEq` point-lookup skipping; an append must declare the
    * same columns as the manifest it extends. Returns the new version. */
  def commit(spark: SparkSession, dir: String, df: DataFrame,
             append: Boolean = false, statCols: Seq[String] = Nil,
             meta: Map[String, String] = Map.empty,
             bloomCol: String = null, bloomBits: Int = 65536,
             evolveSchema: Boolean = false,
             strStatCols: Seq[String] = Nil): Int = {
    val f = fs(spark, dir)
    val prev = latestVersion(spark, dir)
    val bloom = Option(bloomCol).map(c => (c, bloomBits))
    // the carried-lines builder is a FUNCTION of the version being
    // extended (round 13): a lost commit race re-invokes it against the
    // winner's version, so every retry re-validates the pins below and
    // re-streams the new latest file list. Returns (lines, counts):
    // an append's carried lines keep count-completeness only if the
    // extended manifest declared it; a fresh/replace commit's lines are
    // all new and always counted.
    def carriedFor(prevV: Int): (DataFrame, Boolean) =
      if (append && prevV > 0) {
        // config compatibility needs only the HEADER (readHeader stops
        // at the first file line); the carried file lines stream
        // executor-side through a text scan of the prior manifest — an
        // append never materializes the table's file list in driver
        // memory (parseManifest here would pull every line, each with
        // a 16 KiB bloom hex cell at the default bitmap size)
        val h = readHeader(f, dir, prevV)
        require(h.statCols == statCols,
          s"append stat columns must match the extended manifest (${h.statCols})")
        require(h.bloom == bloom,
          s"append bloom config must match the extended manifest (${h.bloom})")
        require(h.sStatCols == strStatCols,
          "append string-stat columns must match the extended manifest " +
            s"(${h.sStatCols})")
        // SCHEMA PIN (round 12): an append with drifted columns/types
        // would silently corrupt every later read — reject it loudly.
        // `evolveSchema = true` is the declared ADD-COLUMN evolution:
        // every previously-committed (name, type) must survive intact,
        // new columns may join, the manifest's recorded schema becomes
        // the append's, and readers null-fill added columns on files
        // older than the column. Legacy manifests without a #schema
        // header skip the check.
        h.schema.foreach { prevSchema =>
          val cur = schemaFingerprint(df.schema)
          if (cur != prevSchema) {
            require(evolveSchema,
              s"append schema does not match the committed table schema\n" +
                s"  committed: $prevSchema\n  append:    $cur\n" +
                "pass evolveSchema = true to ADD columns (null-filled on " +
                "old files), or rewrite with an explicit overwrite commit")
            val curFields = fingerprintFields(cur).toSet
            val lost = fingerprintFields(prevSchema).filterNot(curFields)
            require(lost.isEmpty,
              "schema evolution may only ADD columns — committed columns " +
                s"missing or retyped in the append: ${lost.mkString(", ")}")
          }
        }
        (asCarried(fileLineScan(spark, dir, prevV)), h.counts)
      } else (carriedDf(spark, Nil), true)
    val (carried, carriedCounts) = carriedFor(prev)
    writeCommit(spark, dir, df, carried, statCols, bloom, meta,
      strStatCols, countsComplete = carriedCounts, basedOnPrev = prev,
      // only APPENDS auto-retry: their data files are disjoint from any
      // winner's and the carried lines re-derive from the new latest;
      // an overwrite's content embeds a decision about table state the
      // winner just changed — that conflict surfaces to the caller
      reCarry = if (append) Some(carriedFor) else None)._1
  }

  /** STREAMING-SINK COMMIT (round 13): append data files ALREADY
    * WRITTEN by the sink's per-task writers under `dir/data/<commitId>`
    * as the next version. Pruning config (stat/bloom/string-stat
    * declarations) inherits from the extended manifest's header so a
    * streamed table keeps its metadata; the schema pin applies
    * unchanged; lost commit races auto-retry like any append (the
    * files are disjoint by construction). */
  private[graft] def commitExisting(spark: SparkSession, dir: String,
      commitId: String, names: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      meta: Map[String, String],
      revalidate: Int => Unit = _ => ()): Int = {
    val f = fs(spark, dir)
    val prev = latestVersion(spark, dir)
    val (statCols, bloom, strStats) =
      if (prev > 0) {
        val h = readHeader(f, dir, prev)
        (h.statCols, h.bloom, h.sStatCols)
      } else (Seq.empty[String], None, Seq.empty[String])
    def carriedFor(prevV: Int): (DataFrame, Boolean) = {
      // caller-supplied re-validation against the version this attempt
      // re-bases on — the streaming sink re-checks its epoch marker
      // HERE so a lost-race retry aborts when the epoch already landed
      revalidate(prevV)
      if (prevV > 0) {
        val h = readHeader(f, dir, prevV)
        require(h.statCols == statCols && h.bloom == bloom &&
            h.sStatCols == strStats,
          "a concurrent commit changed the table's pruning config under " +
            "the streaming sink — restart the query to adopt it")
        h.schema.foreach { prevSchema =>
          val cur = schemaFingerprint(schema)
          require(cur == prevSchema,
            s"stream schema does not match the committed table schema\n" +
              s"  committed: $prevSchema\n  stream:    $cur")
        }
        (asCarried(fileLineScan(spark, dir, prevV)), h.counts)
      } else (carriedDf(spark, Nil), true)
    }
    val (carried, counts) = carriedFor(prev)
    commitNamed(spark, dir, commitId, names, schemaFingerprint(schema),
      carried, statCols, bloom, meta, strStats, counts, prev,
      Some(carriedFor))._1
  }

  /** GROUP-REPLACE COMMIT (round 13, the SQL UPDATE/MERGE/complex-
    * DELETE terminal): the next version = the previous version's file
    * list MINUS `replacedPaths` (the copy-on-write groups the row-level
    * scan read) PLUS the already-written files under
    * `dir/data/<commitId>` (the groups' full replacement content).
    * Carried lines survive VERBATIM through an executor-side broadcast
    * anti-join — the driver never materializes the file list; config
    * and the schema pin inherit from the extended header. No auto-
    * retry: a racing commit may have touched the groups this rewrite
    * read, so the conflict surfaces (the caller re-runs the statement
    * against the new state — Iceberg's serializable COW semantics).
    *
    * `basedOn` pins the snapshot VERSION the row-level scan planned
    * against (round-14 advisory fix): the claim CAS targets exactly
    * basedOn + 1, so ANY commit landing between the scan and this
    * commit — compaction, z-order, another UPDATE/DELETE — surfaces as
    * a CommitConflictException instead of being silently absorbed
    * (which could duplicate replacement rows whose source files the
    * intervening commit rewrote). 0 falls back to latest-at-commit
    * (pre-fix behaviour, kept for callers without a resolved scan). */
  private[graft] def commitReplace(spark: SparkSession, dir: String,
      commitId: String, names: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      replacedPaths: Seq[String], meta: Map[String, String],
      basedOn: Int = 0): Int = {
    val f = fs(spark, dir)
    val prev = if (basedOn > 0) basedOn else latestVersion(spark, dir)
    require(prev > 0, s"no committed version at $dir")
    val h = readHeader(f, dir, prev)
    h.schema.foreach { ps =>
      val cur = schemaFingerprint(schema)
      require(cur == ps,
        s"row-level write schema does not match the committed table\n" +
          s"  committed: $ps\n  write:     $cur")
    }
    // replaced paths arrive ABSOLUTE (the scan's resolved view) —
    // recover the manifest's relative form; foreign (cloned-in) lines
    // are already absolute in both
    val replRel = replacedPaths.map(p =>
      if (p.startsWith(s"$dir/")) p.stripPrefix(s"$dir/") else p)
    val replDf = spark.createDataset(replRel)(
      org.apache.spark.sql.Encoders.STRING).toDF("_r")
    val carried = asCarried(fileLineScan(spark, dir, prev)
      .withColumn("_path", element_at(split(col("value"), "\t"), 1))
      .join(broadcast(replDf), col("_path") === col("_r"), "left_anti"))
    commitNamed(spark, dir, commitId, names, schemaFingerprint(schema),
      carried, h.statCols, h.bloom, meta, h.sStatCols,
      // a subset of counted lines stays counted; new lines always are
      countsComplete = h.counts, basedOnPrev = prev, reCarry = None)._1
  }

  /** Most recent epoch `queryId` committed to this table, -1 if none —
    * the streaming sink's exactly-once guard (the epoch marker rides
    * the SAME atomic manifest commit as the data, so there is no
    * commit-then-checkpoint crash window; the Delta txn idiom).
    * Header-only reads walked from the latest version down — in steady
    * state the query's previous batch is at/near the top, so the walk
    * is O(1) header reads. */
  private[graft] def lastStreamEpoch(spark: SparkSession, dir: String,
                                     queryId: String): Long =
    lastStreamEpochFrom(spark, dir, latestVersion(spark, dir), queryId)

  /** Epoch walk starting at an EXPLICIT version — the sink's commit
    * retry re-checks the marker against the version it is about to
    * re-base on (round-14 advisory fix: the check-then-act gap let a
    * zombie driver of the same query double-commit a batch). */
  private[graft] def lastStreamEpochFrom(spark: SparkSession, dir: String,
                                         from: Int,
                                         queryId: String): Long = {
    val f = fs(spark, dir)
    var v = from
    while (v > 0) {
      if (f.exists(manifestPath(dir, v))) {
        val m = readHeader(f, dir, v).metaKv
        if (m.get("streamQuery").contains(queryId))
          return m.get("streamEpoch").map(_.toLong).getOrElse(-1L)
      }
      v -= 1
    }
    -1L
  }

  /** ROW-LEVEL DELETE as file-granular copy-on-write: drop every row of
    * the current snapshot matching `cond` and commit the result as the
    * next version. `pruneCol`/[lo,hi] is the zone-map hint bounding
    * which files can contain matching rows — `cond` must imply
    * pruneCol ∈ [lo,hi] (same implied-predicate contract as
    * `readWhere`); files whose recorded range cannot intersect carry
    * into the new manifest verbatim, untouched on disk. Candidate files
    * rewrite to survivor rows, recomputing their zone/bloom cells. A
    * delete that matches nothing commits nothing and reports 0. */
  def delete(spark: SparkSession, dir: String, cond: Column,
             pruneCol: String = null, lo: Long = Long.MinValue,
             hi: Long = Long.MaxValue): DeleteResult =
    deleteMatching(spark, dir, cond, rangeFilters(_, pruneCol, lo, hi))

  /** The delete core: `hint` states, as evaluator filters over the
    * parsed manifest, what every row matching `cond` also matches (SQL
    * DELETE passes its prunable conjuncts). SQL DELETE semantics under
    * three-valued logic (round-14 advisory fix): a row whose predicate
    * evaluates to NULL must SURVIVE — `!cond` alone maps NULL to NULL
    * and the filter silently dropped it (without counting it in the
    * deleted rows). Survivors are the rows where cond is not TRUE. */
  private[graft] def deleteMatching(spark: SparkSession, dir: String,
      cond: Column, hint: TablePlan => Seq[Filter]): DeleteResult =
    rewriteFiles(spark, dir, cond, hint, "deleteFrom")(
      _.filter(!coalesce(cond, lit(false))))

  /** ROW-LEVEL UPDATE — the third copy-on-write DML verb (MERGE lives
    * in [[Lakehouse]], DELETE above): rows matching `cond` take the
    * `set` expressions, every other row carries unchanged, and only
    * files the zone-map hint admits are rewritten (same
    * implied-predicate contract as `delete`). The rewritten files'
    * zone/bloom cells recompute, so an update that moves a stat
    * column's range keeps pruning truthful. */
  def update(spark: SparkSession, dir: String, cond: Column,
             set: Map[String, Column], pruneCol: String = null,
             lo: Long = Long.MinValue, hi: Long = Long.MaxValue): DeleteResult =
    rewriteFiles(spark, dir, cond, rangeFilters(_, pruneCol, lo, hi),
      "updateFrom") { candDf =>
      require(set.keySet.subsetOf(candDf.columns.toSet),
        s"unknown update columns: ${set.keySet -- candDf.columns.toSet}")
      // one select so cond and every RHS evaluate against the ORIGINAL
      // row (chained withColumn would let later expressions see earlier
      // updates — not SQL UPDATE semantics)
      candDf.select(candDf.columns.map { c =>
        set.get(c) match {
          case Some(e) => when(cond, e).otherwise(col(c)).as(c)
          case None    => col(c)
        }
      }: _*)
    }

  /** The copy-on-write body of `delete` and `update`: the files the
    * evaluator admits under `hint` are the candidates; when `cond`
    * matches a row of theirs, they rewrite through `rewrite` and every
    * other file carries into the new manifest verbatim. Candidates read
    * under the recorded schema, so an evolved table's older files
    * null-fill added columns and the rewrite keeps the full latest
    * schema. */
  private def rewriteFiles(spark: SparkSession, dir: String, cond: Column,
      hint: TablePlan => Seq[Filter], metaKey: String)(
      rewrite: DataFrame => DataFrame): DeleteResult = {
    val p = plan(spark, dir)
    val filters = hint(p)
    val (cand, untouched) = p.files.partition(canMatchAll(p, _, filters))
    if (cand.isEmpty) return DeleteResult(p.version, 0L, 0, p.files.size)
    val candDf = readFiles(spark, p, cand)
    val matched = candDf.filter(cond).count()
    if (matched == 0L) return DeleteResult(p.version, 0L, 0, p.files.size)
    val (nv, _) = writeCommit(spark, dir, rewrite(candDf),
      carriedDf(spark, untouched.map(_.raw)), p.statCols, p.bloom,
      Map(metaKey -> p.version.toString), p.sStatCols,
      countsComplete = linesCounted(p, untouched), basedOnPrev = p.version)
    DeleteResult(nv, matched, cand.size, p.files.size)
  }

  /** SHALLOW CLONE: a new table whose first version REFERENCES the
    * source's data files — zero data copied, O(files) metadata, the
    * Delta `SHALLOW CLONE` / branch-for-experiment verb. The clone
    * then evolves independently: its commits/deletes/updates land in
    * its OWN data directory (copy-on-write naturally materializes
    * whatever it touches; `compact` deep-copies the rest on demand),
    * and the source never observes them. Caveats, same as the public
    * designs: the clone references the source's storage, so a SOURCE
    * vacuum can reclaim files the clone still lists (clone before
    * vacuuming, or retain); clone-side vacuum never touches
    * cloned-in references (isForeign guard). Same-filesystem clones
    * only (references are stored as absolute paths). */
  def shallowClone(spark: SparkSession, srcDir: String, dstDir: String,
                   version: Int = 0): Int = {
    val sf = fs(spark, srcDir)
    val p = plan(spark, srcDir, version)
    require(latestVersion(spark, dstDir) == 0, s"clone target $dstDir not empty")
    val lines = p.files.map { e =>
      sf.makeQualified(new Path(e.path)).toUri.getPath + e.raw.stripPrefix(e.rel)
    }
    val header =
      (if (p.statCols.nonEmpty) Seq(s"#stats:${p.statCols.mkString(",")}")
       else Nil) ++
        p.bloom.map { case (c, m) => s"#bloom:$c:$m" }.toSeq ++
        p.schema.map(s => s"#schema:$s").toSeq ++
        (if (p.sStatCols.nonEmpty)
           Seq(s"#sstats:${p.sStatCols.mkString(",")}") else Nil) ++
        (if (linesCounted(p, p.files)) Seq("#counts:full") else Nil) ++
        Seq(s"#meta:clonedFrom=$srcDir@v${p.version}")
    val df = fs(spark, dstDir)
    val manifest = manifestPath(dstDir, 1)
    if (df.exists(manifest)) throw new CommitConflictException(1)
    // same claim CAS as writeCommit: two racing cloners must not both
    // win by silent rename-replace
    if (!claimVersionSlot(df, dstDir, 1)) throw new CommitConflictException(1)
    try writeAtomic(df, manifest, (header ++ lines).mkString("\n"),
      overwrite = false)
    catch { case _: java.io.IOException => throw new CommitConflictException(1) }
    writeAtomic(df, latestPath(dstDir), "1")
    1
  }

  /** VACUUM: physically delete data files no retained manifest
    * references. `retainLast` manifests (ending at the current version)
    * survive; older manifests are dropped too, so time travel is
    * explicitly bounded by retention — the declared trade for
    * reclaiming overwritten/compacted storage. Orphans of in-flight
    * commits are left alone (they may belong to a commit racing this
    * vacuum); a failed commit's orphans get collected once its version
    * slot is claimed by a later commit and ages out of retention.
    * Returns the number of data files deleted. */
  def vacuum(spark: SparkSession, dir: String, retainLast: Int = 2): Int = {
    require(retainLast >= 1, "must retain at least the current version")
    val f = fs(spark, dir)
    val v = latestVersion(spark, dir)
    require(v > 0, s"no committed version at $dir")
    val keep = (math.max(1, v - retainLast + 1) to v).toSet
    val referenced: Set[String] = keep.flatMap { kv =>
      parseManifest(f, dir, kv).files.map(_.rel)
    }
    val dataRoot = new Path(s"$dir/data")
    var deleted = 0
    if (f.exists(dataRoot)) {
      // only files that SOME retained-or-dropped manifest ever named are
      // candidates — unreferenced orphans may be an in-flight commit
      val everNamed: Set[String] = (1 to v).toSet[Int].flatMap { kv =>
        if (f.exists(manifestPath(dir, kv))) parseManifest(f, dir, kv).files.map(_.rel)
        else Set.empty[String]
      }
      (everNamed -- referenced).foreach { rel =>
        // cloned-in references point into the SOURCE table — never
        // this table's storage to reclaim (the shallow-clone caveat)
        if (!isForeign(rel)) {
          val p = new Path(s"$dir/$rel")
          if (f.exists(p) && f.delete(p, false)) deleted += 1
        }
      }
    }
    (1 until keep.min).foreach { kv =>
      f.delete(manifestPath(dir, kv), false)
      f.delete(claimPath(dir, kv), false); ()
    }
    deleted
  }

  /** Relative data-file paths of a committed version, in manifest
    * order — the immutable membership a derived consumer (incremental
    * MV, index append, CDC reader) can re-derive forever. */
  def files(spark: SparkSession, dir: String, version: Int = 0): Seq[String] =
    plan(spark, dir, version).files.map(_.rel)

  /** Commit metadata (`#meta:` header lines) of a version. */
  def meta(spark: SparkSession, dir: String, version: Int = 0): Map[String, String] = {
    val f = fs(spark, dir)
    val v = if (version > 0) version else latestVersion(spark, dir)
    if (v == 0) Map.empty
    else manifestLines(f, dir, v)
      .filter(_.startsWith("#meta:"))
      .map(_.stripPrefix("#meta:").split("=", 2))
      .collect { case Array(k, vl) => k -> vl }.toMap
  }

  /** OPTIMIZE: rewrite the CURRENT snapshot into `targetFiles` files as
    * a new commit — history stays readable, the pointer swaps, and if
    * the manifest carries zone-map stats the rewrite lays files out
    * range-partitioned on the first stat column so the maps stay tight
    * (small per-batch commits otherwise accumulate unboundedly — the
    * same fragment problem DedupIndex.compact solves for buckets). A
    * declared bloom column re-sketches on the new layout. */
  def compact(spark: SparkSession, dir: String, targetFiles: Int): Int = {
    val p = plan(spark, dir)
    val cur = read(spark, dir)
    val laidOut = p.statCols.headOption match {
      case Some(c) => cur.repartitionByRange(targetFiles, col(c))
      case None    => cur.repartition(targetFiles)
    }
    writeCommit(spark, dir, laidOut, carriedDf(spark, Nil),
      p.statCols, p.bloom,
      Map("compactedFrom" -> p.version.toString), p.sStatCols,
      basedOnPrev = p.version)._1
  }

  /** OPTIMIZE ZORDER (round 13): rewrite the current snapshot
    * clustered on the bit-interleave of two columns' QUANTILE RANKS —
    * multi-dimensional clustering, so a box predicate on BOTH columns
    * prunes files (1-d range layout serves only its leading column;
    * the Iceberg/Delta ZORDER story). Ranks, not raw values: each
    * column buckets against its own 63 approx-quantile cuts (one
    * parallel aggregate per rewrite, broadcast to the bucketing
    * expression — no global sort, no skew sensitivity to domain
    * scale), giving 6 bits per dimension; the interleaved 12-bit key
    * range-partitions the rewrite. Stat/bloom/string declarations
    * carry from the current manifest, so the recorded zone maps
    * reflect the new tight boxes. History stays readable; the 1-d
    * [[compact]] remains the single-column path. */
  def compactZorder(spark: SparkSession, dir: String,
                    targetFiles: Int, zCols: Seq[String]): Int = {
    require(zCols.size == 2,
      s"compactZorder interleaves exactly 2 columns, got $zCols")
    val p = plan(spark, dir)
    val cur = read(spark, dir)
    zCols.foreach { c =>
      val dt = cur.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"compactZorder clusters NUMERIC columns; $c is $dt")
    }
    val cutsRow = cur.select(zCols.map(c =>
      expr(s"approx_percentile(`$c`, array(${
        (1 until 64).map(i => i / 64.0).mkString(",")
      }), 10000)").as(s"_cuts_$c")): _*).head()
    // bucket = #cuts <= value (0..63, 6 bits/dim — a 64x64 grid is
    // tight at any file count the rewrite targets); NULLs rank 0. The
    // rank is a SUM OF COMPARISONS, not an array-filter HOF: 63
    // codegen'd branch-free adds per row beat an interpreted
    // per-element lambda ~5x (measured — the HOF form cost ~15 s at
    // sf0.1 on its own)
    def rank(c: String, cuts: Seq[Any]): Column =
      cuts.foldLeft(lit(0)) { (acc, cut) =>
        acc + when(col(c) >= lit(cut), lit(1)).otherwise(lit(0))
      }
    val ranks = zCols.zipWithIndex.map { case (c, i) =>
      rank(c, cutsRow.getSeq[Any](i))
    }
    // interleave 6+6 bits: column 0 takes the odd (higher) positions
    val zkey = (0 until 6).map { i =>
      (shiftleft(ranks(0).cast("long").bitwiseAND(lit(1L << i)),
        i + 1)).bitwiseOR(
        shiftleft(ranks(1).cast("long").bitwiseAND(lit(1L << i)), i))
    }.reduce(_ bitwiseOR _)
    val laidOut = cur.withColumn("_zkey", zkey)
      .repartitionByRange(targetFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
    writeCommit(spark, dir, laidOut, carriedDf(spark, Nil),
      p.statCols, p.bloom,
      Map("zorderedFrom" -> p.version.toString,
        "zorderCols" -> zCols.mkString(",")),
      p.sStatCols, basedOnPrev = p.version)._1
  }

  /** Read a snapshot (default: latest). The scan is exactly the
    * manifest's file list — never a directory listing. */
  def read(spark: SparkSession, dir: String, version: Int = 0): DataFrame =
    readWhere(spark, dir, version).df

  /** Read a snapshot with planning-time file skipping: files whose
    * recorded [min,max] for `statCol` cannot intersect [lo, hi] are
    * never opened; the exact predicate still applies to survivors. */
  def readWhere(spark: SparkSession, dir: String, version: Int = 0,
                statCol: String = null, lo: Long = Long.MinValue,
                hi: Long = Long.MaxValue): ScanPlan = {
    val p = plan(spark, dir, version)
    val keep = candidates(p, rangeFilters(p, statCol, lo, hi))
    require(keep.nonEmpty, "empty scan set: no file can match")
    val df0 = readFiles(spark, p, keep)
    val df =
      if (statCol == null) df0
      else df0.filter(col(statCol) >= lo && col(statCol) <= hi)
    ScanPlan(df, keep.size, p.files.size)
  }

  /** POINT LOOKUP with bloom file skipping: scan only the files whose
    * bloom bitmap admits `value` for the manifest's declared bloom
    * column (both hash bits set), then apply the exact equality
    * predicate. Zone maps on the same column (if recorded) prune first
    * — the two mechanisms compose. Deterministic scan set: fixed hash
    * functions mean the same table always opens the same files. */
  def readWhereEq(spark: SparkSession, dir: String, value: Long,
                  version: Int = 0): ScanPlan = {
    val p = plan(spark, dir, version)
    val (bc, _) = p.bloom.getOrElse(
      throw new IllegalArgumentException(s"no bloom column declared at $dir"))
    // equality on the bloom column: its zone cell and both bloom bits
    val keep = candidates(p, Seq(EqualTo(bc, value)))
    if (keep.isEmpty) {
      // provably-absent value: empty relation with the table's schema
      val schema = readSchema(spark, dir, p.version)
      return ScanPlan(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema),
        0, p.files.size)
    }
    val df = readFiles(spark, p, keep).filter(col(bc).cast("long") === value)
    ScanPlan(df, keep.size, p.files.size)
  }

  /** SNAPSHOT DIFF — the CDC report between two committed versions:
    * rows present in `vNew` but not `vOld` ('added') and vice versa
    * ('removed'), as exact MULTISET differences (a row changed in
    * place shows up as one removed + one added). Because both sides
    * are immutable manifests, the diff is reproducible forever — the
    * audit trail a mutable table cannot give. Scale shape: two scans
    * feeding ONE signed-count aggregation (one shuffle of both versions),
    * then row-local replication; for key-bounded diffs, filter both
    * sides first (zone maps apply). `change` is the output column, so a
    * table with a column of that name is rejected before any job runs. */
  def diff(spark: SparkSession, dir: String, vOld: Int, vNew: Int): DataFrame = {
    val b = read(spark, dir, vNew)
    val clash = b.columns.find(_.equalsIgnoreCase("change"))
    require(clash.isEmpty,
      s"SnapTable.diff reserves the output column name `change`, but the " +
        s"table at $dir has a column `${clash.get}`: rename it before diffing")
    val a = read(spark, dir, vOld)
    // round 15 (guide §2.4): ONE signed-count aggregation + row-local
    // replication. The previous exceptAll PAIR planned as two
    // tagged-union count aggregates, each shuffling BOTH versions (the
    // q74 single-pass lesson applied to the operator itself). Per
    // distinct row, d = cnt_new − cnt_old: d > 0 emits the row d times
    // as 'added', d < 0 emits it −d times as 'removed' — exactly
    // b.exceptAll(a) ⊎ a.exceptAll(b) under multiset semantics
    // (max(x−y,0) on one side is nonzero only when the other side's is
    // zero, and |d| is that nonzero count; NULL group keys compare
    // equal in both formulations). SnapDiffEquivSpec pins row-level
    // multiset equality against the exceptAll form. The replication is
    // a streaming generator (`RepeatRows`), so no task holds |d| of
    // anything for a row repeated |d| times.
    // the helper columns take names no table column has (compared
    // case-insensitively, as the analyzer resolves them), so a table with
    // a `_w` or `_d` column diffs like any other
    val cols = b.columns.toSeq
    val taken = cols.map(_.toLowerCase).toSet
    def fresh(base: String): String =
      Iterator.iterate(base)(_ + "_").find(n => !taken(n.toLowerCase)).get
    val (w, d) = (fresh("_w"), fresh("_d"))
    def attr(n: String) = UnresolvedAttribute.quoted(n)
    b.select(cols.map(col) :+ lit(1L).as(w): _*)
      .unionByName(a.select(cols.map(col) :+ lit(-1L).as(w): _*))
      .groupBy(cols.map(col): _*)
      .agg(sum(col(w)).as(d))
      .filter(col(d) =!= 0L)
      .withColumn("change",
        when(col(d) > 0L, lit("added")).otherwise(lit("removed")))
      .select(org.apache.spark.sql.GraftBridge.column(
        graft.plans.RepeatRows(Abs(attr(d)) +: (cols :+ "change").map(attr)))
        .as(cols :+ "change"))
  }

  /** DESCRIBE HISTORY: one row per surviving committed version —
    * (version, n_files, meta as "k=v;…"). Metadata-only: manifests are
    * O(files) text, never data. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val f = fs(spark, dir)
    val v = latestVersion(spark, dir)
    import spark.implicits._
    (1 to v).flatMap { kv =>
      if (!f.exists(manifestPath(dir, kv))) None
      else Some((kv.toLong, parseManifest(f, dir, kv).files.size.toLong,
        meta(spark, dir, kv).toSeq.sorted
          .map { case (k, vl) => s"$k=$vl" }.mkString(";")))
    }.toDF("version", "n_files", "meta")
  }

  /** Drop the whole table (test/fixture hygiene). */
  def destroy(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark, dir)
    f.delete(new Path(dir), true)
  }
}
