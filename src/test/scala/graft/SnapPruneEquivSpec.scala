package graft

import graft.operators.SnapTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `readWhere`, `readWhereEq`, `delete` and `update` prune through the
  * snapshot table's one file-pruning evaluator. Each used to carry its
  * own keep-filter over the manifest; this spec keeps those filters as
  * reference functions over the manifest text and requires the new path
  * to choose the SAME files on GraftSnapPropSpec's randomized
  * three-commit table at every seed: identical
  * `ScanPlan.filesScanned/filesTotal` and
  * `DeleteResult.filesRewritten/filesTotal`. */
object SnapPruneEquivSpec {
  /** One manifest file line: [min,max] per stat column (None for the
    * unprunable `-` cell or a cell-less line) and the bloom hex. */
  private final case class RefEntry(ranges: Seq[Option[(Long, Long)]],
                                    bloomHex: Option[String])
}

class SnapPruneEquivSpec extends AnyFunSuite {
  import SnapPruneEquivSpec.RefEntry
  private lazy val spark = TestSpark.spark

  /** Stat columns, bloom column + bits, and file lines of version `v`. */
  private def refManifest(dir: String, v: Int)
      : (Seq[String], Option[(String, Int)], Seq[RefEntry]) = {
    val src = scala.io.Source.fromFile(s"$dir/_manifests/v$v.txt", "UTF-8")
    val lines = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    val statCols = lines.find(_.startsWith("#stats:"))
      .map(_.stripPrefix("#stats:").split(",").toSeq).getOrElse(Nil)
    val bloom = lines.find(_.startsWith("#bloom:")).map { h =>
      val Array(c, m) = h.stripPrefix("#bloom:").split(":")
      (c, m.toInt)
    }
    val files = lines.filterNot(_.startsWith("#")).map { line =>
      val parts = line.split("\t", -1)
      val ranges =
        if (parts.length > 1 && parts(1).nonEmpty) {
          val cs = parts(1).split(",")
          statCols.indices.map { k =>
            val lo = cs(2 * k); val hi = cs(2 * k + 1)
            if (lo == "-" || hi == "-") None else Some((lo.toLong, hi.toLong))
          }
        } else statCols.map(_ => None)
      val bh =
        if (parts.length > 2 && parts(2).startsWith("B"))
          Some(parts(2).stripPrefix("B"))
        else None
      RefEntry(ranges, bh)
    }
    (statCols, bloom, files)
  }

  // the range keep-filter `readWhere`, `delete` and `update` each held
  private def rangeKeep(e: RefEntry, k: Int, lo: Long, hi: Long): Boolean =
    e.ranges(k) match {
      case Some((mn, mx)) => mx >= lo && mn <= hi // ranges intersect
      case None           => true                 // unknown: never prune
    }

  private def bitSet(hex: String, p: Long): Boolean = {
    val w = (p / 64).toInt
    val word = java.lang.Long.parseUnsignedLong(
      hex.substring(w * 16, w * 16 + 16), 16)
    (word & (1L << (p % 64))) != 0L
  }

  // the zone + bloom keep-filter `readWhereEq` held
  private def eqKeep(e: RefEntry, zk: Int, value: Long,
                     p1: Long, p2: Long): Boolean = {
    val zoneOk = zk < 0 || (e.ranges(zk) match {
      case Some((mn, mx)) => mn <= value && value <= mx
      case None           => true
    })
    zoneOk && (e.bloomHex match {
      case Some(hex) => bitSet(hex, p1) && bitSet(hex, p2)
      case None      => true
    })
  }

  /** The probe's two bit positions through the writer's own SQL
    * expressions (`pmod(xxhash64(v), m)`, `pmod(xxhash64(v, 7), m)`). */
  private def bloomBits(value: Long, m: Int): (Long, Long) = {
    val r = spark.range(1).select(
      pmod(xxhash64(lit(value)), lit(m.toLong)),
      pmod(xxhash64(lit(value), lit(7L)), lit(m.toLong))).head()
    (r.getLong(0), r.getLong(1))
  }

  test("readWhere, readWhereEq, delete and update choose the reference's files at every seed") {
    val tmp = java.nio.file.Files.createTempDirectory("snap-prune-equiv")
    val dir = tmp.toString + "/t"
    val rows = GraftSnapPropSpec.threeCommitTable(spark, dir)
    val v = SnapTable.latestVersion(spark, dir)
    val (statCols, bloom, files) = refManifest(dir, v)
    val k = statCols.indexOf("k")
    val (bc, m) = bloom.get
    val zk = statCols.indexOf(bc)
    var rangePruned = false
    var eqPruned = false
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val lo = rnd.nextInt(5200).toLong
      val hi = lo + rnd.nextInt(800).toLong
      val rangeRef = files.count(rangeKeep(_, k, lo, hi))
      if (rangeRef < files.size) rangePruned = true

      // readWhere: an empty reference scan set is its documented error
      if (rangeRef == 0)
        intercept[IllegalArgumentException](
          SnapTable.readWhere(spark, dir, 0, "k", lo, hi))
      else {
        val sp = SnapTable.readWhere(spark, dir, 0, "k", lo, hi)
        assert((sp.filesScanned, sp.filesTotal) === ((rangeRef, files.size)),
          s"seed $seed: readWhere($lo, $hi)")
      }

      val value = rnd.nextInt(400).toLong
      val (p1, p2) = bloomBits(value, m)
      val eqRef = files.count(eqKeep(_, zk, value, p1, p2))
      if (eqRef < files.size) eqPruned = true
      val ep = SnapTable.readWhereEq(spark, dir, value)
      assert((ep.filesScanned, ep.filesTotal) === ((eqRef, files.size)),
        s"seed $seed: readWhereEq($value)")

      // the DML verbs rewrite the candidates only when a row matches
      val cond = col("k").between(lo, hi)
      val matched = rows.filter(cond).count()
      val rewrittenRef = if (matched > 0) rangeRef else 0
      val del = {
        val clone = s"$tmp/del$seed"
        SnapTable.shallowClone(spark, dir, clone)
        SnapTable.delete(spark, clone, cond, "k", lo, hi)
      }
      assert((del.filesRewritten, del.filesTotal, del.rowsDeleted) ===
        ((rewrittenRef, files.size, matched)), s"seed $seed: delete($lo, $hi)")
      val upd = {
        val clone = s"$tmp/upd$seed"
        SnapTable.shallowClone(spark, dir, clone)
        SnapTable.update(spark, clone, cond, Map("v" -> (col("v") + 1000)),
          "k", lo, hi)
      }
      assert((upd.filesRewritten, upd.filesTotal, upd.rowsDeleted) ===
        ((rewrittenRef, files.size, matched)), s"seed $seed: update($lo, $hi)")
    }
    assert(rangePruned && eqPruned,
      "vacuous: no seed pruned a file, so equal counts prove nothing")
  }
}
