package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SnapTable

/** Snapshot-manifest table (operators/SnapTable): commit protocol
  * invariants — time travel, manifest immutability, orphan isolation,
  * overwrite-vs-append semantics, clean pointer swaps. */
class SnapTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dir = "target/graft-snap-spec"

  private def li = Tables(spark, TestSpark.Sf, "lineitem")
    .select("l_orderkey", "l_linenumber", "l_quantity")

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("l_orderkey").distinct().collect().map(_.getLong(0)).toSet

  test("append commit grows the snapshot; old versions stay readable") {
    SnapTable.destroy(spark, dir)
    val v1 = SnapTable.commit(spark, dir, li.filter(col("l_orderkey") % 3 === 0))
    val v2 = SnapTable.commit(spark, dir,
      li.filter(col("l_orderkey") % 3 === 1), append = true)
    assert(v1 == 1 && v2 == 2)
    val k1 = keys(SnapTable.read(spark, dir, 1))
    val k2 = keys(SnapTable.read(spark, dir, 2))
    assert(k1.forall(_ % 3 == 0))
    assert(k2 == k1 ++ keys(li.filter(col("l_orderkey") % 3 === 1)))
    assert(keys(SnapTable.read(spark, dir)) == k2) // latest == v2
  }

  test("orphan files in the data dir are invisible to every snapshot") {
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir, li.filter(col("l_orderkey") % 3 === 0))
    li.filter(col("l_orderkey") % 3 === 2)
      .write.mode("overwrite").parquet(s"$dir/data/orphan")
    SnapTable.commit(spark, dir,
      li.filter(col("l_orderkey") % 3 === 1), append = true)
    assert(keys(SnapTable.read(spark, dir)).forall(_ % 3 != 2))
    assert(keys(SnapTable.read(spark, dir, 1)).forall(_ % 3 == 0))
  }

  test("commit N+1 never rewrites manifest N (reader isolation)") {
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir, li.filter(col("l_orderkey") % 3 === 0))
    val m1 = Files.readAllBytes(Paths.get(dir, "_manifests", "v1.txt")).toSeq
    SnapTable.commit(spark, dir,
      li.filter(col("l_orderkey") % 3 === 1), append = true)
    assert(Files.readAllBytes(Paths.get(dir, "_manifests", "v1.txt")).toSeq == m1)
    // no torn temp files survive the pointer swaps
    assert(!Files.exists(Paths.get(dir, "_latest.tmp")))
    assert(Files.readString(Paths.get(dir, "_latest")).trim == "2")
  }

  test("manifest stats skip files at planning time, results exact") {
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir,
      li.repartitionByRange(8, col("l_orderkey")),
      statCols = Seq("l_orderkey"))
    val plan = SnapTable.readWhere(spark, dir,
      statCol = "l_orderkey", lo = 100L, hi = 300L)
    assert(plan.filesTotal == 8)
    assert(plan.filesScanned < plan.filesTotal,
      s"expected pruning, scanned ${plan.filesScanned}/${plan.filesTotal}")
    val pruned = keys(plan.df)
    val full = keys(SnapTable.read(spark, dir)
      .filter(col("l_orderkey").between(100, 300)))
    assert(pruned == full)
  }

  test("stats survive append commits; stat-less manifests refuse readWhere") {
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir,
      li.filter(col("l_orderkey") < 500).repartitionByRange(4, col("l_orderkey")),
      statCols = Seq("l_orderkey"))
    SnapTable.commit(spark, dir,
      li.filter(col("l_orderkey") >= 500).repartitionByRange(4, col("l_orderkey")),
      append = true, statCols = Seq("l_orderkey"))
    val plan = SnapTable.readWhere(spark, dir,
      statCol = "l_orderkey", lo = 0L, hi = 100L)
    assert(plan.filesTotal == 8 && plan.filesScanned < 8)
    assert(keys(plan.df) == keys(li.filter(col("l_orderkey") <= 100)))
    // a table committed WITHOUT stats cannot serve a stats read
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir, li)
    intercept[IllegalArgumentException] {
      SnapTable.readWhere(spark, dir, statCol = "l_orderkey", lo = 0L, hi = 1L)
    }
  }

  test("multi-column zone maps: each stat column prunes independently") {
    SnapTable.destroy(spark, dir)
    // range-partition on key: key maps are tight, linenumber maps are
    // wide (every file spans all line numbers) — so a key range prunes
    // and a linenumber range must NOT (stats are per-file truth, not
    // layout wishes)
    SnapTable.commit(spark, dir,
      Tables(spark, TestSpark.Sf, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .repartitionByRange(8, col("l_orderkey")),
      statCols = Seq("l_orderkey", "l_linenumber"))
    val byKey = SnapTable.readWhere(spark, dir,
      statCol = "l_orderkey", lo = 100L, hi = 300L)
    assert(byKey.filesScanned < byKey.filesTotal)
    val byLine = SnapTable.readWhere(spark, dir,
      statCol = "l_linenumber", lo = 1L, hi = 2L)
    assert(byLine.filesScanned == byLine.filesTotal,
      "linenumber maps span every file; pruning here would be wrong")
    // both predicates still exact
    assert(keys(byLine.df) ==
      keys(SnapTable.read(spark, dir)
        .filter(col("l_linenumber").between(1, 2))))
  }

  test("compact folds fragments; data, history, and pruning preserved") {
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir,
      li.filter(col("l_orderkey") < 500).repartitionByRange(4, col("l_orderkey")),
      statCols = Seq("l_orderkey"))
    SnapTable.commit(spark, dir,
      li.filter(col("l_orderkey") >= 500).repartitionByRange(4, col("l_orderkey")),
      append = true, statCols = Seq("l_orderkey"))
    val before = keys(SnapTable.read(spark, dir))
    val v3 = SnapTable.compact(spark, dir, targetFiles = 2)
    assert(v3 == 3)
    assert(SnapTable.meta(spark, dir)("compactedFrom") == "2")
    val plan = SnapTable.readWhere(spark, dir,
      statCol = "l_orderkey", lo = 0L, hi = 100L)
    assert(plan.filesTotal == 2, s"expected 2 files, got ${plan.filesTotal}")
    assert(plan.filesScanned < plan.filesTotal) // zone maps still tight
    assert(keys(SnapTable.read(spark, dir)) == before)
    // pre-compaction history still readable with its own layout
    assert(keys(SnapTable.read(spark, dir, 2)) == before)
  }

  test("compactZorder: box predicates on BOTH columns prune; results exact") {
    // 1-d range layout serves only its leading column; z-ordering
    // interleaves two columns' quantile ranks so each file covers a
    // bounded BOX — a selective predicate on either column (or both)
    // skips files. The fixture's two keys are independent, so the
    // z-layout genuinely trades per-column tightness for 2-d coverage.
    SnapTable.destroy(spark, dir)
    val rows = Tables(spark, TestSpark.Sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    SnapTable.commit(spark, dir, rows.repartition(8),
      statCols = Seq("l_orderkey", "l_partkey"))
    // hash layout: nothing prunes on either column
    val pre = SnapTable.readWhere(spark, dir,
      statCol = "l_orderkey", lo = 0L, hi = 50L)
    assert(pre.filesScanned == pre.filesTotal,
      "hash layout should not prune — fixture vacuous otherwise")
    val v = SnapTable.compactZorder(spark, dir, targetFiles = 16,
      Seq("l_orderkey", "l_partkey"))
    assert(v == 2)
    assert(SnapTable.meta(spark, dir)("zorderCols") == "l_orderkey,l_partkey")
    val (okLo, okHi) = (0L, 100L)
    val byKey = SnapTable.readWhere(spark, dir,
      statCol = "l_orderkey", lo = okLo, hi = okHi)
    assert(byKey.filesScanned < byKey.filesTotal,
      s"z-layout did not prune on column 1 " +
        s"(${byKey.filesScanned}/${byKey.filesTotal})")
    val byPart = SnapTable.readWhere(spark, dir,
      statCol = "l_partkey", lo = 0L, hi = 20L)
    assert(byPart.filesScanned < byPart.filesTotal,
      s"z-layout did not prune on column 2 " +
        s"(${byPart.filesScanned}/${byPart.filesTotal})")
    // 2-d box through the CONNECTOR composes both columns' cells
    val box = spark.read.format("graft-snap").load(dir)
      .filter(col("l_orderkey").between(okLo, okHi) &&
        col("l_partkey").between(0L, 20L))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(canon(box) === canon(rows.filter(
      col("l_orderkey").between(okLo, okHi) &&
        col("l_partkey").between(0L, 20L))))
    // full content preserved
    assert(canon(SnapTable.read(spark, dir)) === canon(rows))
    SnapTable.destroy(spark, dir)
  }

  test("racing committers: the loser re-bases on the winner's committed state") {
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir, li.filter(col("l_orderkey") % 3 === 0))
    // simulate a concurrent commit that already landed v2 — here an
    // EMPTY manifest (the winner replaced the table with nothing)
    val m2 = Paths.get(dir, "_manifests", "v2.txt")
    Files.createDirectories(m2.getParent)
    Files.writeString(m2, "")
    // round 13: an APPEND no longer throws — it re-bases on the
    // winner's committed state and lands the next slot, carrying the
    // WINNER's file list (here: empty), never its own stale view
    val v = SnapTable.commit(spark, dir,
      li.filter(col("l_orderkey") % 3 === 1), append = true)
    assert(v == 3, s"the losing append must land the next slot, got $v")
    assert(keys(SnapTable.read(spark, dir, 3)).forall(_ % 3 == 1),
      "the retry must base on the winner's (empty) state, not the stale v1")
    // v1 intact; a REPLACE in the same race still surfaces the conflict
    assert(keys(SnapTable.read(spark, dir, 1)).forall(_ % 3 == 0))
    Files.writeString(Paths.get(dir, "_manifests", "v4.txt"), "")
    intercept[SnapTable.CommitConflictException] {
      SnapTable.commit(spark, dir, li.limit(3))
    }
  }

  test("vacuum reclaims unreferenced files; retention bounds time travel") {
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir, li.filter(col("l_orderkey") % 3 === 0)) // v1
    SnapTable.commit(spark, dir, li.filter(col("l_orderkey") % 3 === 1)) // v2 replaces
    SnapTable.commit(spark, dir, li.filter(col("l_orderkey") % 3 === 2)) // v3 replaces
    val before = keys(SnapTable.read(spark, dir, 3))
    val deleted = SnapTable.vacuum(spark, dir, retainLast = 2)
    assert(deleted > 0, "expected v1's files reclaimed")
    // current + previous still read
    assert(keys(SnapTable.read(spark, dir, 3)) == before)
    assert(keys(SnapTable.read(spark, dir, 2)).forall(_ % 3 == 1))
    // v1 is out of retention: manifest gone
    assert(!Files.exists(Paths.get(dir, "_manifests", "v1.txt")))
    // vacuum is idempotent
    assert(SnapTable.vacuum(spark, dir, retainLast = 2) == 0)
  }

  test("delete keeps rows whose predicate evaluates to NULL (3VL, round-14 fix)") {
    import spark.implicits._
    SnapTable.destroy(spark, dir)
    val rows = Seq[(Long, java.lang.Long)](
      (1L, 7L), (2L, 7L), (3L, 9L), (4L, null), (5L, null))
      .toDF("id", "k")
    SnapTable.commit(spark, dir, rows)
    // DELETE WHERE k = 7: under SQL three-valued logic the k IS NULL
    // rows must SURVIVE (their predicate is NULL, not TRUE) — the
    // pre-fix !cond filter silently dropped them without counting them
    val res = SnapTable.delete(spark, dir, col("k") === 7L)
    assert(res.rowsDeleted == 2L, s"only the k = 7 rows count as deleted")
    val left = SnapTable.read(spark, dir).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(left == Set(3L, 4L, 5L),
      s"rows with NULL predicate must survive a DELETE, got $left")
  }

  test("delete is file-granular copy-on-write: untouched files byte-identical") {
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir,
      li.repartitionByRange(8, col("l_orderkey")),
      statCols = Seq("l_orderkey"))
    // snapshot the physical file inventory before the delete
    def inventory(): Map[String, (Long, Long)] = {
      val root = Paths.get(dir, "data")
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString ->
          ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
        .toMap
    }
    val before = inventory()
    val nBefore = SnapTable.read(spark, dir).count()
    val res = SnapTable.delete(spark, dir,
      col("l_orderkey").between(1000L, 2999L) && col("l_linenumber") === 1,
      pruneCol = "l_orderkey", lo = 1000L, hi = 2999L)
    assert(res.rowsDeleted > 0)
    assert(res.filesRewritten < res.filesTotal,
      s"expected bounded rewrite, got ${res.filesRewritten}/${res.filesTotal}")
    // v1's files are ALL still on disk, byte-identical (CoW, time travel)
    val after = inventory()
    before.foreach { case (p, sig) =>
      assert(after.get(p).contains(sig), s"pre-delete file changed: $p")
    }
    // semantics: exactly the predicate's rows are gone, v1 unchanged
    val cur = SnapTable.read(spark, dir)
    assert(cur.count() == nBefore - res.rowsDeleted)
    assert(cur.filter(col("l_orderkey").between(1000L, 2999L)
      && col("l_linenumber") === 1).count() == 0)
    assert(SnapTable.read(spark, dir, 1).count() == nBefore)
    // the rewritten files' zone maps recomputed: a key-range read prunes
    val plan = SnapTable.readWhere(spark, dir,
      statCol = "l_orderkey", lo = 1000L, hi = 2999L)
    assert(plan.filesScanned < plan.filesTotal)
    // a delete matching nothing commits nothing
    val v = SnapTable.latestVersion(spark, dir)
    val noop = SnapTable.delete(spark, dir, col("l_orderkey") === -1L,
      pruneCol = "l_orderkey", lo = -1L, hi = -1L)
    assert(noop.rowsDeleted == 0 && noop.version == v)
    assert(SnapTable.latestVersion(spark, dir) == v)
  }

  test("update is copy-on-write with original-row semantics") {
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir,
      li.repartitionByRange(8, col("l_orderkey")),
      statCols = Seq("l_orderkey"))
    val nBefore = SnapTable.read(spark, dir).count()
    // swap-style update: quantity takes linenumber's value and
    // linenumber takes quantity's — both RHS must see ORIGINAL values
    val cond = col("l_orderkey").between(500L, 999L)
    val probe = SnapTable.read(spark, dir).filter(cond)
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
      .limit(1).collect().head
    val res = SnapTable.update(spark, dir, cond,
      Map("l_quantity" -> col("l_linenumber").cast("double"),
        "l_linenumber" -> col("l_quantity").cast("int")),
      pruneCol = "l_orderkey", lo = 500L, hi = 999L)
    assert(res.rowsDeleted > 0 && res.filesRewritten < res.filesTotal)
    val cur = SnapTable.read(spark, dir)
    assert(cur.count() == nBefore) // updates never change cardinality
    // the probed row swapped its two fields exactly once
    val got = cur.filter(col("l_orderkey") === probe.getLong(0)
        && col("l_linenumber") === probe.getDouble(2).toInt
        && col("l_quantity") === probe.getInt(1).toDouble)
      .count()
    assert(got >= 1, "swap must reflect original-row values")
    // v1 unchanged (time travel)
    assert(SnapTable.read(spark, dir, 1).filter(cond)
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
      .limit(1).collect().head == probe)
    // a no-match update commits nothing
    val v = SnapTable.latestVersion(spark, dir)
    val noop = SnapTable.update(spark, dir, col("l_orderkey") === -1L,
      Map("l_quantity" -> lit(0.0)), pruneCol = "l_orderkey", lo = -1L, hi = -1L)
    assert(noop.rowsDeleted == 0 && SnapTable.latestVersion(spark, dir) == v)
  }

  test("bloom skipping: point lookups prune a hash layout, results exact") {
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir,
      li.repartition(8, col("l_orderkey")),
      bloomCol = "l_orderkey", bloomBits = 65536)
    val someKey = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val plan = SnapTable.readWhereEq(spark, dir, someKey)
    assert(plan.filesTotal == 8)
    assert(plan.filesScanned < plan.filesTotal,
      s"expected bloom pruning, scanned ${plan.filesScanned}/${plan.filesTotal}")
    val expected = li.filter(col("l_orderkey") === someKey).count()
    assert(plan.df.count() == expected && expected > 0)
    // a value provably absent everywhere scans zero files, empty result
    val absent = SnapTable.readWhereEq(spark, dir, -424242L)
    assert(absent.filesScanned == 0 && absent.df.count() == 0)
    // bloom survives appends (config must match) and compaction
    SnapTable.commit(spark, dir, li.limit(0), append = true,
      bloomCol = "l_orderkey", bloomBits = 65536)
    intercept[IllegalArgumentException] {
      SnapTable.commit(spark, dir, li.limit(0), append = true) // no bloom decl
    }
    SnapTable.compact(spark, dir, targetFiles = 2)
    val planC = SnapTable.readWhereEq(spark, dir, someKey)
    assert(planC.df.count() == expected)
    assert(planC.filesTotal == 2)
  }

  test("zone maps and bloom compose on the same commit") {
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir,
      li.repartitionByRange(8, col("l_orderkey")),
      statCols = Seq("l_orderkey"), bloomCol = "l_orderkey", bloomBits = 65536)
    // range read uses zone maps
    val byRange = SnapTable.readWhere(spark, dir,
      statCol = "l_orderkey", lo = 100L, hi = 300L)
    assert(byRange.filesScanned < byRange.filesTotal)
    // point read: zone maps narrow to the one covering file, bloom
    // confirms — on a range layout the zone map alone already prunes
    val someKey = li.agg(min(col("l_orderkey"))).head().getLong(0)
    val eq = SnapTable.readWhereEq(spark, dir, someKey)
    assert(eq.filesScanned <= 2)
    assert(eq.df.count() == li.filter(col("l_orderkey") === someKey).count())
  }

  test("shallow clone: zero copy, independent evolution, vacuum-safe") {
    val srcDir = dir + "-clsrc"; val cloneDir = dir + "-clone"
    SnapTable.destroy(spark, srcDir); SnapTable.destroy(spark, cloneDir)
    SnapTable.commit(spark, srcDir,
      li.repartitionByRange(4, col("l_orderkey")),
      statCols = Seq("l_orderkey"))
    val srcN = SnapTable.read(spark, srcDir).count()
    assert(SnapTable.shallowClone(spark, srcDir, cloneDir) == 1)
    // zero copy: the clone owns no data files at all
    assert(!Files.exists(Paths.get(cloneDir, "data")))
    assert(SnapTable.read(spark, cloneDir).count() == srcN)
    // zone maps carried: a range read on the clone still prunes
    val plan = SnapTable.readWhere(spark, cloneDir,
      statCol = "l_orderkey", lo = 0L, hi = 100L)
    assert(plan.filesScanned < plan.filesTotal)
    // independence: a source append is invisible to the clone
    SnapTable.commit(spark, srcDir, li.limit(7), append = true,
      statCols = Seq("l_orderkey"))
    assert(SnapTable.read(spark, cloneDir).count() == srcN)
    // a clone-side delete rewrites into the CLONE's storage only
    import scala.jdk.CollectionConverters._
    def srcFiles(): Map[String, Long] =
      Files.walk(Paths.get(srcDir, "data")).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toMap
    val before = srcFiles()
    val res = SnapTable.delete(spark, cloneDir, col("l_linenumber") === 1)
    assert(res.rowsDeleted > 0)
    assert(srcFiles() == before, "source storage must never change")
    assert(SnapTable.read(spark, srcDir, 1).count() == srcN)
    assert(SnapTable.read(spark, cloneDir).count() == srcN - res.rowsDeleted)
    // clone vacuum reclaims only clone-owned files, never the source's
    SnapTable.vacuum(spark, cloneDir, retainLast = 1)
    assert(srcFiles() == before, "vacuum must skip cloned-in references")
    assert(SnapTable.read(spark, cloneDir).count() == srcN - res.rowsDeleted)
    SnapTable.destroy(spark, srcDir); SnapTable.destroy(spark, cloneDir)
  }

  test("overwrite commit replaces state; history remains") {
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir, li.filter(col("l_orderkey") % 3 === 0))
    SnapTable.commit(spark, dir,
      li.filter(col("l_orderkey") % 3 === 1), append = true)
    val v3 = SnapTable.commit(spark, dir,
      li.filter(col("l_orderkey") % 3 === 2)) // append=false: full replace
    assert(v3 == 3)
    assert(keys(SnapTable.read(spark, dir, 3)).forall(_ % 3 == 2))
    assert(keys(SnapTable.read(spark, dir, 2)).forall(_ % 3 != 2))
  }

  test("manifest build is executor-side: no collect between the source pins") {
    // the round-10 scale finding: collecting one row per data file (each
    // with a bloom hex cell of m/4 chars) is a driver-memory cliff at
    // 100 TB file counts. The fix assembles every manifest line in a
    // Spark job and writes the body with one task; this pin fails if a
    // .collect( (or driver-side row materialization via take/toLocalIterator)
    // creeps back into the marked region of SnapTable.scala.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        "src/main/scala/graft/operators/SnapTable.scala")), "UTF-8")
    val b = src.indexOf("MANIFEST-EXEC-SIDE-BEGIN")
    val e = src.indexOf("MANIFEST-EXEC-SIDE-END")
    assert(b >= 0 && e > b, "manifest-path markers missing from SnapTable")
    val region = src.substring(b, e)
    for (bad <- Seq(".collect(", ".take(", "toLocalIterator", ".head(",
                    ".first("))
      assert(!region.contains(bad),
        s"driver-side materialization '$bad' reappeared on the manifest path")
    // and the region really is the line-build path, not an empty span
    assert(region.contains("newFileLines"))

    // behavioural half of the pin: a stats+bloom commit's manifest is
    // byte-equal in layout to the documented format even though no
    // driver loop formats it — header first, then one line per file
    // with zone cells and a B-prefixed 16-hex-per-word bloom cell
    val d = s"$dir-exec-side"
    SnapTable.destroy(spark, d)
    val rows = Tables(spark, TestSpark.Sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
      .limit(500).repartition(3)
    SnapTable.commit(spark, d, rows,
      statCols = Seq("l_orderkey"), bloomCol = "l_partkey", bloomBits = 128)
    val lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$d/_manifests/v1.txt")), "UTF-8")
      .split("\n").filter(_.nonEmpty)
    assert(lines(0) == "#stats:l_orderkey")
    assert(lines(1) == "#bloom:l_partkey:128")
    assert(lines(2) ==
      "#schema:l_orderkey:bigint;l_partkey:bigint;l_quantity:double")
    assert(lines(3) == "#counts:full",
      "a fresh commit's lines all carry counts — the header must say so")
    val fileLines = lines.drop(4)
    assert(fileLines.nonEmpty)
    fileLines.foreach { l =>
      val parts = l.split("\t", -1)
      assert(parts.length == 5, s"bad manifest line: $l")
      assert(parts(0).startsWith("data/c00001-") &&
        parts(0).endsWith(".parquet"))
      assert(parts(1).matches("-?\\d+,-?\\d+"), s"bad zone cell in: $l")
      assert(parts(2).matches("B[0-9a-f]{32}"), s"bad bloom cell in: $l")
      assert(parts(3).matches("\\d+") && parts(3).toLong > 0,
        s"bad row-count cell in: $l")
      assert(parts(4).matches("\\d+"), s"bad non-null cell in: $l")
    }
    // the count cells cross-foot against the data itself
    assert(fileLines.map(_.split("\t", -1)(3).toLong).sum == 500L)
    // the lines are sorted by file name (deterministic manifests)
    assert(fileLines.toSeq == fileLines.toSeq.sorted)
    SnapTable.destroy(spark, d)
  }

  test("filesMeta survives every manifest shape (ANSI-mode guards)") {
    // the round-11 advisor finding: under ANSI mode a bare element_at /
    // cast crashes the metadata table for any line with fewer fields
    // than the newest format — stats-only, no-stats, zero-row part,
    // and pre-count legacy lines must all read as rows, absent cells
    // as NULL
    val d = s"$dir-meta-shapes"
    val rows = li.select("l_orderkey", "l_quantity").limit(100)

    // shape 1: no stats, no bloom
    SnapTable.destroy(spark, d)
    SnapTable.commit(spark, d, rows.repartition(2))
    val m1 = SnapTable.filesMeta(spark, d).collect()
    assert(m1.length == 2)
    assert(m1.map(r => r.getAs[Long]("n_rows")).sum == 100L)

    // shape 2: stats only
    SnapTable.destroy(spark, d)
    SnapTable.commit(spark, d, rows.repartition(2),
      statCols = Seq("l_orderkey"))
    val m2 = SnapTable.filesMeta(spark, d)
    assert(m2.collect().forall(r => !r.isNullAt(r.fieldIndex("min_l_orderkey"))))
    assert(m2.collect().map(_.getAs[Long]("nonnull_l_orderkey")).sum == 100L)

    // shape 3: an EMPTY commit writes exactly one zero-row part file —
    // its line has empty zone/bloom cells and true zero counts
    SnapTable.destroy(spark, d)
    SnapTable.commit(spark, d, rows.limit(0), statCols = Seq("l_orderkey"))
    val m3 = SnapTable.filesMeta(spark, d).collect()
    assert(m3.length == 1)
    assert(m3.head.getAs[Long]("n_rows") == 0L)
    assert(m3.head.isNullAt(m3.head.fieldIndex("min_l_orderkey")))
    assert(m3.head.getAs[Long]("nonnull_l_orderkey") == 0L)

    // shape 4: a PRE-ROUND-12 legacy manifest (no count fields) still
    // reads; n_rows/nonnull come back NULL, never an error
    SnapTable.destroy(spark, d)
    SnapTable.commit(spark, d, rows.repartition(2),
      statCols = Seq("l_orderkey"))
    val mf = Paths.get(d, "_manifests", "v1.txt")
    val legacy = Files.readString(mf).split("\n").map { l =>
      if (l.startsWith("#")) l
      else l.split("\t", -1).take(3).mkString("\t") // strip count fields
    }.mkString("\n")
    Files.writeString(mf, legacy)
    // the edit invalidates LocalFileSystem's checksum sidecar
    Files.deleteIfExists(mf.getParent.resolve(".v1.txt.crc"))
    val m4 = SnapTable.filesMeta(spark, d).collect()
    assert(m4.length == 2)
    assert(m4.forall(_.isNullAt(m4.head.fieldIndex("n_rows"))))
    assert(m4.forall(r => !r.isNullAt(r.fieldIndex("min_l_orderkey"))))
    SnapTable.destroy(spark, d)
  }

  test("commit claim is an exclusive-create CAS, not a bare rename") {
    // rename(2) silently REPLACES an existing destination on posix /
    // S3-style stores, so a rename-only claim lets two racing
    // committers both win (round-11 advisor finding). The slot is now
    // claimed by atomic exclusive create: a pre-existing claim makes
    // the loser throw BEFORE any manifest appears in the slot.
    val d = s"$dir-claim"
    SnapTable.destroy(spark, d)
    SnapTable.commit(spark, d, li.filter(col("l_orderkey") % 3 === 0))
    val claim = Paths.get(d, "_manifests", "v2.claim")
    Files.createDirectories(claim.getParent)
    Files.writeString(claim, "")
    intercept[SnapTable.CommitConflictException] {
      SnapTable.commit(spark, d,
        li.filter(col("l_orderkey") % 3 === 1), append = true)
    }
    assert(!Files.exists(Paths.get(d, "_manifests", "v2.txt")),
      "the losing committer must not expose a manifest in the slot")
    assert(SnapTable.latestVersion(spark, d) == 1)
    // a stale claim (crashed committer) is released explicitly, then
    // the retry wins the slot
    assert(SnapTable.releaseStaleClaim(spark, d, 2))
    val v2 = SnapTable.commit(spark, d,
      li.filter(col("l_orderkey") % 3 === 1), append = true)
    assert(v2 == 2)
    // a decided slot's claim is NOT stale — release refuses
    intercept[IllegalArgumentException] {
      SnapTable.releaseStaleClaim(spark, d, 2)
    }
    // the winner's own claim file persists as the slot's CAS token
    assert(Files.exists(claim))
    SnapTable.destroy(spark, d)
  }

  test("append auto-retry: a lost race lands on the next slot, no data rewrite") {
    // round 13: an APPEND loser's data files are disjoint from the
    // winner's, so losing the version-slot race costs metadata only —
    // the retry re-claims the next slot, re-validates the pins, and
    // rebuilds the manifest from the already-written lines. The race is
    // injected deterministically via the test seam: a competing append
    // commits BETWEEN this commit's data write and its claim.
    import scala.jdk.CollectionConverters._
    val d = s"$dir-retry"
    SnapTable.destroy(spark, d)
    val base = Tables(spark, TestSpark.Sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    SnapTable.commit(spark, d, base.filter(col("l_orderkey") % 5 === 0),
      statCols = Seq("l_orderkey"), bloomCol = "l_partkey")
    def dataFiles(): Set[String] =
      java.nio.file.Files.walk(Paths.get(d, "data")).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).map(_.toString).toSet
    var hookRan = false
    SnapTable.commitRaceTestHook = () => {
      hookRan = true
      SnapTable.commit(spark, d, base.filter(col("l_orderkey") % 5 === 2),
        append = true, statCols = Seq("l_orderkey"), bloomCol = "l_partkey")
      ()
    }
    val beforeRetry = dataFiles()
    val vA = SnapTable.commit(spark, d,
      base.filter(col("l_orderkey") % 5 === 1),
      append = true, statCols = Seq("l_orderkey"), bloomCol = "l_partkey")
    assert(hookRan, "the race hook never fired")
    assert(vA == 3, s"the losing append must land on the NEXT slot, got $vA")
    assert(SnapTable.latestVersion(spark, d) == 3)
    // no data-file rewrite: every pre-existing file survives byte-
    // identical in place, and the retry added only its own commit's
    assert(beforeRetry.subsetOf(dataFiles()))
    // the winner's lines carry verbatim into the retried manifest
    assert(SnapTable.files(spark, d, 2).toSet
      .subsetOf(SnapTable.files(spark, d, 3).toSet))
    // content exact
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(canon(SnapTable.read(spark, d)) ===
      canon(base.filter(col("l_orderkey") % 5 <= 2)))
    // the harvested lines kept their stats/bloom/count cells: pruning
    // metadata and the counts header survive the retry
    val fm = SnapTable.filesMeta(spark, d, 3)
    assert(fm.filter(col("min_l_orderkey").isNull).count() == 0,
      "retry dropped zone cells")
    assert(fm.filter(!col("has_bloom")).count() == 0,
      "retry dropped bloom cells")
    assert(SnapTable.header(spark, d, 3).counts,
      "retry dropped the #counts:full header")
    // no stray temp manifests left behind
    assert(java.nio.file.Files.list(Paths.get(d, "_manifests"))
      .iterator().asScala.forall(p => !p.getFileName.toString.startsWith("tmp-")),
      "retry leaked temp manifests")
    // a conflicting REPLACE must still throw: an overwrite embeds a
    // decision about table state the winner just changed
    SnapTable.commitRaceTestHook = () => {
      SnapTable.commit(spark, d, base.filter(col("l_orderkey") % 5 === 3),
        append = true, statCols = Seq("l_orderkey"), bloomCol = "l_partkey")
      ()
    }
    intercept[SnapTable.CommitConflictException] {
      SnapTable.commit(spark, d, base.limit(7),
        statCols = Seq("l_orderkey"), bloomCol = "l_partkey")
    }
    assert(SnapTable.latestVersion(spark, d) == 4,
      "the racing append must have won the contested slot")
    SnapTable.destroy(spark, d)
  }

  test("append auto-retry under real thread contention: every append lands") {
    // the seam test pins the deterministic lost-race path; this one
    // exercises REAL interleavings — four threads race eight appends
    // through the claim CAS, losers retry, and the invariants are
    // global: all appends land as distinct versions, the final
    // snapshot is the exact multiset union, and no temp manifests leak
    val d = s"$dir-retry-mt"
    SnapTable.destroy(spark, d)
    val base = Tables(spark, TestSpark.Sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    SnapTable.commit(spark, d, base.filter(col("l_orderkey") % 9 === 0))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 8).map { r =>
      Future {
        SnapTable.commit(spark, d, base.filter(col("l_orderkey") % 9 === r),
          append = true)
      }
    }
    val versions = Await.result(Future.sequence(fs), 10.minutes)
    assert(versions.sorted == (2 to 9), s"versions collided: $versions")
    assert(SnapTable.latestVersion(spark, d) == 9)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val got = canon(SnapTable.read(spark, d))
    val want = canon(base)
    if (got != want) {
      val g = got.groupBy(identity).view.mapValues(_.size).toMap
      val w = want.groupBy(identity).view.mapValues(_.size).toMap
      val lost = w.collect { case (k, n) if g.getOrElse(k, 0) < n => k }
      val extra = g.collect { case (k, n) if w.getOrElse(k, 0) < n => k }
      fail(s"contended appends diverged: got ${got.size} want ${want.size}" +
        s" lost=${lost.take(3)} (${lost.size}) extra=${extra.take(3)}" +
        s" (${extra.size}) versions=$versions")
    }
    import scala.jdk.CollectionConverters._
    assert(java.nio.file.Files.list(Paths.get(d, "_manifests"))
      .iterator().asScala
      .forall(p => !p.getFileName.toString.startsWith("tmp-")),
      "contended retries leaked temp manifests")
    SnapTable.destroy(spark, d)
  }

  test("append with a drifted schema is rejected loudly") {
    val d = s"$dir-schema-pin"
    SnapTable.destroy(spark, d)
    val base = li.select("l_orderkey", "l_quantity").limit(50)
    SnapTable.commit(spark, d, base)
    // same names, different type: silent reader corruption if accepted
    val drifted = base.withColumn("l_quantity",
      col("l_quantity").cast("string"))
    val ex = intercept[IllegalArgumentException] {
      SnapTable.commit(spark, d, drifted, append = true)
    }
    assert(ex.getMessage.contains("schema"), ex.getMessage)
    assert(SnapTable.latestVersion(spark, d) == 1,
      "the rejected append must not commit")
    // nullability changes are NOT drift (fingerprint is name:type only)
    val nullable = base.withColumn("l_quantity",
      when(lit(true), col("l_quantity")))
    assert(SnapTable.commit(spark, d, nullable, append = true) == 2)
    // schema EVOLUTION is the explicit overwrite verb, never an append
    assert(SnapTable.commit(spark, d, drifted) == 3)
    SnapTable.destroy(spark, d)
  }

  test("add-column evolution: opt-in append, null-filled reads, guard rails") {
    val d = s"$dir-evolve"
    SnapTable.destroy(spark, d)
    val base = li.select("l_orderkey", "l_quantity").limit(50)
    SnapTable.commit(spark, d, base, statCols = Seq("l_orderkey"))
    val evolved = li.select("l_orderkey", "l_quantity").limit(20)
      .withColumn("l_tag", concat(lit("t"), col("l_orderkey")))
    // evolution never happens by accident
    intercept[IllegalArgumentException] {
      SnapTable.commit(spark, d, evolved, append = true,
        statCols = Seq("l_orderkey"))
    }
    // opted in: the append lands, the recorded schema becomes the new one
    assert(SnapTable.commit(spark, d, evolved, append = true,
      statCols = Seq("l_orderkey"), evolveSchema = true) == 2)
    // library read: files older than the column null-fill it
    val r = SnapTable.read(spark, d)
    assert(r.schema.fieldNames.contains("l_tag"))
    assert(r.filter(col("l_tag").isNull).count() == 50)
    assert(r.filter(col("l_tag").isNotNull).count() == 20)
    // time travel keeps each version's OWN schema
    assert(!SnapTable.read(spark, d, 1).schema.fieldNames.contains("l_tag"))
    // evolution may only ADD: dropping or retyping a committed column
    // refuses even when opted in
    val lost = intercept[IllegalArgumentException] {
      SnapTable.commit(spark, d, li.select("l_orderkey").limit(5),
        append = true, statCols = Seq("l_orderkey"), evolveSchema = true)
    }
    assert(lost.getMessage.contains("ADD"), lost.getMessage)
    // the connector agrees: inferred schema comes from the manifest
    // (not a sampled footer), old files null-fill, and a projection of
    // ONLY the added column over pre-evolution files still counts rows
    val src = spark.read.format("graft-snap").load(d)
    assert(src.schema.fieldNames.contains("l_tag"))
    assert(src.filter(col("l_tag").isNull).count() == 50)
    assert(src.select("l_tag").count() == 70)
    assert(src.select("l_tag").where(col("l_tag").isNotNull).count() == 20)
    // copy-on-write over the evolved table preserves the full schema
    val del = SnapTable.delete(spark, d, col("l_tag").isNotNull)
    assert(del.rowsDeleted == 20)
    val after = SnapTable.read(spark, d)
    assert(after.schema.fieldNames.contains("l_tag") && after.count() == 50)
    SnapTable.destroy(spark, d)
  }

  test("commits declare the recorded schema: no schema-inference job in a write") {
    val d = s"$dir-no-infer"
    SnapTable.destroy(spark, d)
    SnapTable.commit(spark, d, li.repartitionByRange(4, col("l_orderkey")),
      statCols = Seq("l_orderkey"))
    val extra = li.filter(col("l_orderkey") < 50)
    val (_, appendJobs) = JobLog(spark)(SnapTable.commit(spark, d, extra,
      append = true, statCols = Seq("l_orderkey")))
    val (upd, updateJobs) = JobLog(spark)(SnapTable.update(spark, d,
      col("l_orderkey").between(100L, 199L), Map("l_quantity" -> lit(0.0)),
      pruneCol = "l_orderkey", lo = 100L, hi = 199L))
    val (del, deleteJobs) = JobLog(spark)(SnapTable.delete(spark, d,
      col("l_orderkey").between(200L, 299L),
      pruneCol = "l_orderkey", lo = 200L, hi = 299L))
    assert(upd.rowsDeleted > 0 && del.rowsDeleted > 0)
    for ((verb, jobs) <- Seq("append" -> appendJobs, "update" -> updateJobs,
                             "delete" -> deleteJobs)) {
      info(s"$verb: ${jobs.size} jobs")
      assert(jobs.nonEmpty, s"$verb ran no job — the listener saw nothing")
      assert(!jobs.exists(_.schemaInference),
        s"$verb ran a parquet schema-inference job: $jobs")
    }
    SnapTable.destroy(spark, d)
  }

  test("an evolved append's files are read with the declared schema: pruning and rows exact") {
    val d = s"$dir-evolve-prune"
    SnapTable.destroy(spark, d)
    val base = li.filter(col("l_orderkey") < 1000)
      .repartitionByRange(4, col("l_orderkey"))
    SnapTable.commit(spark, d, base, statCols = Seq("l_orderkey"))
    val evolved = li.filter(col("l_orderkey") >= 1000)
      .repartitionByRange(4, col("l_orderkey"))
      .withColumn("l_tag", concat(lit("t"), col("l_orderkey")))
    SnapTable.commit(spark, d, evolved, append = true,
      statCols = Seq("l_orderkey"), evolveSchema = true)
    val all = SnapTable.read(spark, d)
    for ((lo, hi) <- Seq((1200L, 1400L), (900L, 1100L))) {
      val plan = SnapTable.readWhere(spark, d,
        statCol = "l_orderkey", lo = lo, hi = hi)
      assert(plan.filesTotal == 8)
      assert(plan.filesScanned < plan.filesTotal,
        s"[$lo,$hi] scanned ${plan.filesScanned}/${plan.filesTotal}")
      val want = all.filter(col("l_orderkey").between(lo, hi))
      assert(plan.df.schema.fieldNames.contains("l_tag"))
      assert(rows(plan.df) == rows(want) && rows(want).nonEmpty)
    }
    // evolved rows carry their tag; pre-evolution rows null-fill it
    assert(all.filter(col("l_orderkey") >= 1000 && col("l_tag").isNull).isEmpty)
    assert(all.filter(col("l_orderkey") < 1000 && col("l_tag").isNotNull).isEmpty)
    SnapTable.destroy(spark, d)
  }

  test("each write is one Spark job: the writing tasks build the manifest lines") {
    import scala.jdk.CollectionConverters._
    val d = s"$dir-one-job"
    SnapTable.destroy(spark, d)
    SnapTable.commit(spark, d, li.repartitionByRange(4, col("l_orderkey")),
      statCols = Seq("l_orderkey"), bloomCol = "l_linenumber", bloomBits = 64)
    def entries(sub: String): Set[String] =
      Files.list(Paths.get(d, sub)).iterator().asScala
        .map(_.getFileName.toString).toSet
    // append, update and delete each run ONE job (the file write); the
    // manifest is streamed by the driver, with no schema inference
    val (_, appendJobs) = JobLog(spark)(SnapTable.commit(spark, d,
      li.filter(col("l_orderkey") < 50), append = true,
      statCols = Seq("l_orderkey"), bloomCol = "l_linenumber", bloomBits = 64))
    val (upd, updateJobs) = JobLog(spark)(SnapTable.update(spark, d,
      col("l_orderkey").between(100L, 199L), Map("l_quantity" -> lit(0.0)),
      pruneCol = "l_orderkey", lo = 100L, hi = 199L))
    val (del, deleteJobs) = JobLog(spark)(SnapTable.delete(spark, d,
      col("l_orderkey").between(200L, 299L),
      pruneCol = "l_orderkey", lo = 200L, hi = 299L))
    assert(upd.rowsDeleted > 0 && del.rowsDeleted > 0)
    for ((verb, jobs) <- Seq("append" -> appendJobs, "update" -> updateJobs,
                             "delete" -> deleteJobs)) {
      assert(jobs.size == 1, s"$verb ran ${jobs.size} jobs: ${jobs.map(_.name)}")
      assert(!jobs.exists(_.schemaInference), s"$verb inferred a schema: $jobs")
    }
    assert(SnapTable.latestVersion(spark, d) == 4)
    assert(SnapTable.read(spark, d).count() ==
      li.count() + li.filter(col("l_orderkey") < 50).count() - del.rowsDeleted)
    // a DML whose candidates match no row: 0, no version, and neither a
    // line sidecar, a temp manifest nor the rewrite's files remain
    val data0 = entries("data")
    val (noop, noopJobs) = JobLog(spark)(SnapTable.update(spark, d,
      col("l_quantity") === -1.0, Map("l_quantity" -> lit(0.0))))
    assert(noop.rowsDeleted == 0L && noop.version == 4 && noopJobs.size == 1)
    assert(SnapTable.delete(spark, d, col("l_quantity") === -1.0).rowsDeleted == 0L)
    assert(SnapTable.latestVersion(spark, d) == 4)
    assert(!entries("_manifests").exists(_.startsWith("tmp-")),
      s"a no-op DML left scratch files: ${entries("_manifests")}")
    assert(entries("data") == data0, "a no-op DML left its rewrite's files")

    // a streaming-sink epoch and a SQL UPDATE run no job after their
    // file write: the commit streams the sidecar lines
    val tmp = Files.createTempDirectory("graft-one-job").toString
    li.filter(col("l_orderkey") % 7 === 0).write.parquet(s"$tmp/in")
    val (_, streamJobs) = JobLog(spark) {
      spark.readStream.schema(li.schema).parquet(s"$tmp/in")
        .writeStream.format("graft-snap").option("path", d)
        .option("checkpointLocation", s"$tmp/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(SnapTable.latestVersion(spark, d) == 5)
    spark.conf.set("spark.sql.catalog.snapone",
      classOf[graft.sources.SnapCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapone.warehouse", "target")
    val (_, sqlJobs) = JobLog(spark)(spark.sql(
      s"UPDATE snapone.`${d.stripPrefix("target/")}` SET l_quantity = 1.0 WHERE l_orderkey < 30"))
    assert(SnapTable.latestVersion(spark, d) == 6)
    // the write job is named after the statement's call site; a manifest
    // job would start after it, named after SnapTable
    assert(streamJobs.map(_.name.takeWhile(_ != ':')) ==
      Seq("start at SnapTableSpec.scala"), s"stream epoch: $streamJobs")
    assert(sqlJobs.maxBy(_.id).name.startsWith("sql at SnapTableSpec.scala"),
      s"SQL UPDATE ran a job after its write: $sqlJobs")
    assert(!entries("_manifests").exists(_.startsWith("tmp-")))
    SnapTable.destroy(spark, d)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted
}
