package graft

import graft.operators.SnapTable
import graft.sources.SnapScan
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property-style exactness guard for graft-snap FILE PRUNING: on a
  * randomized snapshot (skewed keys, nulls in the bloom column, several
  * append commits with different layouts), every randomized
  * range/eq/IN/AND/OR predicate must return EXACTLY the rows of the
  * unpruned relation filtered post-hoc — through the connector's scan
  * and through every library caller of the same evaluator
  * (`readWhere`, `readWhereEq`, `delete`) — file pruning is a pure
  * optimization and a pruning bug is the class that silently returns
  * wrong (not slow) answers. Deterministic seeds: a failure
  * reproduces. Also asserts the guard is non-vacuous: across the
  * predicate sweep, pruning must actually fire (some predicate scans
  * strictly fewer than all files) — otherwise this spec would pass on
  * a scanner that never prunes. */
object GraftSnapPropSpec {
  /** The randomized three-commit snapshot at `dir`: 4000 rows of (id,
    * k, bk, v) with skewed keys `k` (the stat column) and ~8% null
    * bloom keys `bk`, committed in three different physical layouts.
    * Returns the rows as a local relation. */
  def threeCommitTable(spark: SparkSession, dir: String): DataFrame = {
    val rnd = new scala.util.Random(20260816L)
    // skewed key distribution + ~8% null bloom keys
    val rows = (0 until 4000).map { i =>
      val k = if (rnd.nextInt(10) < 3) rnd.nextInt(50).toLong
              else rnd.nextInt(5000).toLong
      val b = if (rnd.nextInt(12) == 0) null
              else java.lang.Long.valueOf(rnd.nextInt(300).toLong)
      (i.toLong, k, b, rnd.nextDouble() * 100)
    }
    import spark.implicits._
    val df = rows.toDF("id", "k", "bk", "v")
    SnapTable.destroy(spark, dir)
    // three commits, three different physical layouts
    SnapTable.commit(spark, dir,
      df.filter(col("id") % 3 === 0).repartitionByRange(5, col("k")),
      statCols = Seq("k"), bloomCol = "bk", bloomBits = 2048)
    SnapTable.commit(spark, dir,
      df.filter(col("id") % 3 === 1).repartition(3, col("k")),
      append = true, statCols = Seq("k"), bloomCol = "bk", bloomBits = 2048)
    SnapTable.commit(spark, dir,
      df.filter(col("id") % 3 === 2).coalesce(1),
      append = true, statCols = Seq("k"), bloomCol = "bk", bloomBits = 2048)
    df
  }
}

class GraftSnapPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def scanOf(df: DataFrame): SnapScan = {
    df.collect()
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[SnapScan]
    }.getOrElse(fail("no BatchScanExec in plan"))
  }

  test("randomized predicates: pruned scan ≡ unpruned + filter, at every seed") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap-prop")
    val dir = tmp.toString + "/t"
    GraftSnapPropSpec.threeCommitTable(spark, dir)

    val all = spark.read.format("graft-snap").load(dir)
    val reference = all.collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(reference.size == 4000)

    def canon(d: DataFrame) =
      d.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

    var anyPruned = false
    val prnd = new scala.util.Random(7L)
    // each draw: the predicate, the k range it implies (the readWhere /
    // delete hint), and a bloom-column probe value (readWhereEq)
    final case class Draw(p: Column, range: Option[(Long, Long)],
                          eq: Option[Long])
    def randPred(): Draw = prnd.nextInt(9) match {
      case 0 =>
        val v = prnd.nextInt(5200).toLong
        Draw(col("k") === v, Some((v, v)), None)
      case 1 =>
        val v = prnd.nextInt(5200).toLong
        Draw(col("k") >= v, Some((v, Long.MaxValue)), None)
      case 2 =>
        val lo = prnd.nextInt(5000).toLong
        val hi = lo + prnd.nextInt(400).toLong
        Draw(col("k").between(lo, hi), Some((lo, hi)), None)
      case 3 =>
        val v = prnd.nextInt(400).toLong
        Draw(col("bk") === v, None, Some(v))
      case 4 => Draw(col("bk").isin(
        (0 until 1 + prnd.nextInt(4)).map(_ => prnd.nextInt(400).toLong): _*),
        None, None)
      case 5 =>
        // composite: AND/OR over a range and a bloom point
        val hi = prnd.nextInt(5000).toLong
        val v = prnd.nextInt(400).toLong
        val base = col("k") <= hi
        val pt = col("bk") === v
        if (prnd.nextBoolean()) Draw(base && pt, Some((Long.MinValue, hi)), Some(v))
        else Draw(base || pt, None, None)
      // round-13 negations — the complement-rewrite pruning paths must
      // hold exactness under the same sweep (nulls in bk make SQL's
      // "NULL doesn't match NOT f" semantics load-bearing)
      case 6 => Draw(!(col("k") === prnd.nextInt(5200).toLong), None, None)
      case 7 => Draw(!(col("k") >= prnd.nextInt(5200).toLong), None, None)
      case 8 =>
        if (prnd.nextBoolean()) Draw(!col("bk").isin(
          (0 until 1 + prnd.nextInt(3)).map(_ => prnd.nextInt(400).toLong): _*),
          None, None)
        else Draw(!(col("k") <= prnd.nextInt(5000).toLong &&
          col("bk") === prnd.nextInt(400).toLong), None, None)
    }
    var libPruned = false
    var deletePruned = false
    (1 to 40).foreach { i =>
      val Draw(p, range, eq) = randPred()
      val pruned = spark.read.format("graft-snap").load(dir).filter(p)
      val got = canon(pruned)
      val want = canon(all.filter(p))
      assert(got === want, s"trial $i diverged for predicate $p")
      val sc = scanOf(pruned)
      if (sc.survivors.size < sc.total) anyPruned = true
      range.foreach { case (lo, hi) =>
        // a range no file can hold is the documented empty-scan error
        val (rows, scanned) =
          try {
            val sp = SnapTable.readWhere(spark, dir, 0, "k", lo, hi)
            (canon(sp.df), sp.filesScanned)
          } catch {
            case e: IllegalArgumentException
                if e.getMessage.contains("empty scan set") => (Nil, 0)
          }
        assert(rows === canon(all.filter(col("k").between(lo, hi))),
          s"trial $i: readWhere($lo, $hi) diverged")
        if (scanned < sc.total) libPruned = true
      }
      eq.foreach { v =>
        assert(canon(SnapTable.readWhereEq(spark, dir, v).df) ===
          canon(all.filter(col("bk") === v)), s"trial $i: readWhereEq($v) diverged")
      }
      if (i % 3 == 0) {
        // delete on a shallow clone, hinted by the implied range when
        // the draw has one: survivors = the rows where p is not TRUE
        val clone = s"$tmp/del$i"
        SnapTable.shallowClone(spark, dir, clone)
        val (lo, hi) = range.getOrElse((Long.MinValue, Long.MaxValue))
        val res = SnapTable.delete(spark, clone, p,
          if (range.isDefined) "k" else null, lo, hi)
        assert(canon(SnapTable.read(spark, clone)) ===
          canon(all.filter(!coalesce(p, lit(false)))),
          s"trial $i: delete diverged for predicate $p")
        assert(res.rowsDeleted === all.filter(p).count())
        if (res.rowsDeleted > 0 && res.filesRewritten < res.filesTotal)
          deletePruned = true
      }
    }
    assert(anyPruned,
      "vacuous sweep: no predicate pruned any file — the guard proves nothing")
    assert(libPruned, "vacuous sweep: no readWhere range pruned any file")
    assert(deletePruned, "vacuous sweep: every delete rewrote every file")
  }

  test("randomized STRING predicates: pruned scan ≡ unpruned + filter") {
    // the round-12 string zone maps under the same exactness regime:
    // skewed string keys (short and >16-char values so the truncated
    // upper-bound rule fires, multi-byte UTF-8 so byte ordering is
    // exercised, ~5% nulls), three physical layouts, 40 seeded
    // eq/range/between/prefix/IN/composite draws — every pruned read
    // must equal the unpruned relation filtered post-hoc, and the
    // sweep must actually prune somewhere
    val dir = java.nio.file.Files
      .createTempDirectory("graft-snap-sprop").toString + "/t"
    val rnd = new scala.util.Random(99L)
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta-prefix-that-is-quite-long", "www.example.com/a/deep/path",
      "müller-straße-umlaut-key")
    val rows = (0 until 3000).map { i =>
      val s = if (rnd.nextInt(20) == 0) null
              else pool(rnd.nextInt(pool.size)) + "/" + rnd.nextInt(500)
      (i.toLong, s, rnd.nextInt(1000).toLong)
    }
    import spark.implicits._
    val df = rows.toDF("id", "sk", "k")
    SnapTable.destroy(spark, dir)
    SnapTable.commit(spark, dir,
      df.filter(col("id") % 3 === 0).repartitionByRange(5, col("sk")),
      statCols = Seq("k"), strStatCols = Seq("sk"))
    SnapTable.commit(spark, dir,
      df.filter(col("id") % 3 === 1).repartition(3, col("sk")),
      append = true, statCols = Seq("k"), strStatCols = Seq("sk"))
    SnapTable.commit(spark, dir,
      df.filter(col("id") % 3 === 2).coalesce(1),
      append = true, statCols = Seq("k"), strStatCols = Seq("sk"))

    val all = spark.read.format("graft-snap").load(dir)
    def canon(d: DataFrame) =
      d.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(canon(all).size == 3000)

    var anyPruned = false
    val prnd = new scala.util.Random(13L)
    def randVal(): String =
      pool(prnd.nextInt(pool.size)) + "/" + prnd.nextInt(500)
    def randPred(): Column = prnd.nextInt(9) match {
      case 0 => col("sk") === randVal()
      case 1 => col("sk") >= randVal()
      case 2 =>
        val a = randVal(); val b = randVal()
        if (a <= b) col("sk").between(a, b) else col("sk").between(b, a)
      case 3 =>
        val p = pool(prnd.nextInt(pool.size))
        col("sk").startsWith(p.take(1 + prnd.nextInt(p.length)))
      case 4 => col("sk").isin(
        (0 until 1 + prnd.nextInt(3)).map(_ => randVal()): _*)
      case 5 =>
        val base = col("sk") < randVal()
        val r = col("k") >= prnd.nextInt(1000).toLong
        if (prnd.nextBoolean()) base && r else base || r
      // round-13 string negations: NOT eq (truncation-aware), NOT
      // prefix (shared-bound proof), NOT range
      case 6 => !(col("sk") === randVal())
      case 7 =>
        val p = pool(prnd.nextInt(pool.size))
        !col("sk").startsWith(p.take(1 + prnd.nextInt(p.length)))
      case 8 => !(col("sk") >= randVal())
    }
    (1 to 40).foreach { i =>
      val p = randPred()
      val pruned = spark.read.format("graft-snap").load(dir).filter(p)
      val got = canon(pruned)
      val want = canon(all.filter(p))
      assert(got === want, s"trial $i diverged for predicate $p")
      val sc = scanOf(pruned)
      if (sc.survivors.size < sc.total) anyPruned = true
    }
    assert(anyPruned,
      "vacuous sweep: no string predicate pruned any file")
  }
}
