package graft

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SnapTable

/** Model-based guard over every snapshot-table write path. Each seed
  * draws a table configuration (parquet row-group size, stat, bloom and
  * string-stat columns, the connector's `splitBytes`) and a random
  * sequence of operations: append, overwrite with a retyped column,
  * add-column append, library `update` and `delete`, SQL UPDATE, MERGE
  * and DELETE through the snap catalog, a streaming-sink epoch and
  * `compact`. Every operation is applied to the table and to an
  * in-memory model (the rows of every version). After each one, `read`
  * at HEAD and at an earlier version, `readWhere` with a random range,
  * the connector scan with a random predicate, and `diff` between two
  * versions must all agree with the model. A failing seed prints its
  * operation list. */
class SnapModelSpec extends AnyFunSuite {
  import SnapModelSpec._

  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.snapmodel",
      classOf[graft.sources.SnapCatalog].getName)
    s.conf.set("spark.sql.catalog.snapmodel.warehouse", warehouse)
    s
  }
  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft-snap-model").toString

  test("seeded operation sequences agree with the model on every read path") {
    for (seed <- Seq(11L, 29L)) {
      val t0 = System.nanoTime()
      runSeed(seed, ops = 25)
      info(f"seed $seed: 25 operations in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }

  private def runSeed(seed: Long, ops: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val name = s"t$seed"
    val dir = s"$warehouse/db/$name"
    val table = s"snapmodel.db.$name"
    val cfg = Config(
      blockSize = if (rnd.nextBoolean()) Some(1024) else None,
      statCols = Seq(Seq("k"), Seq("k", "id"), Nil)(rnd.nextInt(3)),
      bloom = Seq(Some(("k", 64)), Some(("id", 2048)), None)(rnd.nextInt(3)),
      strStats = if (rnd.nextBoolean()) Seq("s") else Nil,
      splitBytes = if (rnd.nextBoolean()) Some(512L) else None)
    val log = mutable.ArrayBuffer(s"seed $seed: $cfg")
    val versions = mutable.ArrayBuffer.empty[State]
    var nextId = 0L
    def cur = versions.last

    def fresh(n: Int, st: State): Vector[MRow] = Vector.fill(n) {
      nextId += 1
      randomRow(rnd, nextId, st.hasX)
    }
    def layout(df: DataFrame): DataFrame = rnd.nextInt(3) match {
      case 0 => df.repartitionByRange(1 + rnd.nextInt(3), col("k"))
        .sortWithinPartitions("k")
      case 1 => df.repartition(1 + rnd.nextInt(3))
      case _ => df.coalesce(1)
    }
    def commit(df: DataFrame, append: Boolean, evolve: Boolean = false): Int =
      SnapTable.commit(spark, dir, df, append = append,
        statCols = cfg.statCols, bloomCol = cfg.bloom.map(_._1).orNull,
        bloomBits = cfg.bloom.map(_._2).getOrElse(65536),
        strStatCols = cfg.strStats, evolveSchema = evolve)
    def pruneCol = if (cfg.statCols.contains("k")) "k" else null

    cfg.blockSize.foreach(b => spark.conf.set("parquet.block.size", b.toString))
    try {
      SnapTable.destroy(spark, dir)
      val st0 = State(fresh(300 + rnd.nextInt(300), State(Vector.empty, false, false)),
        vLong = false, hasX = false)
      log += s"create ${st0.rows.size} rows"
      commit(layout(frame(spark, st0)), append = false)
      versions += st0
      check(rnd, cfg, dir, versions.toSeq, log)

      for (i <- 1 to ops) {
        val kind = rnd.nextInt(11)
        val before = cur
        val (next, what): (Option[State], String) = kind match {
          case 0 | 1 =>
            val add = fresh(50 + rnd.nextInt(250), before)
            commit(layout(frame(spark, before.copy(rows = add))), append = true)
            (Some(before.copy(rows = before.rows ++ add)), s"append ${add.size}")
          case 2 =>
            val keep = before.rows.filter(_ => rnd.nextInt(10) > 0)
            val st = before.copy(rows = keep, vLong = !before.vLong)
            commit(layout(frame(spark, st)), append = false)
            (Some(st), s"overwrite ${keep.size} rows, v as ${vType(st)}")
          case 3 if !before.hasX =>
            val st = before.copy(hasX = true,
              rows = before.rows.map(_.copy(x = None)))
            val add = fresh(30 + rnd.nextInt(100), st)
            commit(layout(frame(spark, st.copy(rows = add))), append = true,
              evolve = true)
            (Some(st.copy(rows = st.rows ++ add)), s"add-column append ${add.size}")
          case 3 | 4 =>
            val (lo, hi) = kRange(rnd, 40)
            val hit = (r: MRow) => r.k.exists(k => k >= lo && k <= hi)
            val res = SnapTable.update(spark, dir, col("k").between(lo, hi),
              Map("v" -> (col("v") + 1)), pruneCol, lo, hi)
            val n = before.rows.count(hit)
            assert(res.rowsDeleted == n, s"update [$lo,$hi] matched ${res.rowsDeleted}, model $n")
            (changed(n, before.copy(rows = before.rows.map(r =>
              if (hit(r)) r.copy(v = r.v + 1) else r))), s"update k in [$lo,$hi] ($n rows)")
          case 5 =>
            val (lo, hi) = kRange(rnd, 30)
            val hit = (r: MRow) => r.k.exists(k => k >= lo && k <= hi)
            val res = SnapTable.delete(spark, dir, col("k").between(lo, hi),
              pruneCol, lo, hi)
            val n = before.rows.count(hit)
            assert(res.rowsDeleted == n, s"delete [$lo,$hi] removed ${res.rowsDeleted}, model $n")
            (changed(n, before.copy(rows = before.rows.filterNot(hit))),
              s"delete k in [$lo,$hi] ($n rows)")
          case 6 =>
            val lo = rnd.nextInt(1500).toLong
            val hit = (r: MRow) => r.k.exists(_ >= lo)
            spark.sql(s"UPDATE $table SET v = v + 100 WHERE k >= $lo")
            val n = before.rows.count(hit)
            (changed(n, before.copy(rows = before.rows.map(r =>
              if (hit(r)) r.copy(v = r.v + 100) else r))), s"SQL UPDATE k >= $lo ($n rows)")
          case 7 =>
            val olds = rnd.shuffle(before.rows).take(3).map(_.copy(v = 7777L))
            val news = fresh(2, before)
            val src = olds ++ news
            frame(spark, before.copy(rows = src)).createOrReplaceTempView("snap_model_src")
            spark.sql(s"""MERGE INTO $table t USING snap_model_src s ON t.id = s.id
                          WHEN MATCHED THEN UPDATE SET v = s.v
                          WHEN NOT MATCHED THEN INSERT *""")
            val ids = olds.map(_.id).toSet
            (Some(before.copy(rows = before.rows.map(r =>
              if (ids(r.id)) r.copy(v = 7777L) else r) ++ news)),
              s"SQL MERGE ids ${olds.map(_.id).mkString(",")} + ${news.size} new")
          case 8 =>
            val (lo, hi) = kRange(rnd, 25)
            val complex = rnd.nextBoolean()
            val hit = (r: MRow) => r.k.exists(k => k >= lo && k <= hi) &&
              (!complex || r.v % 3 == 0)
            spark.sql(s"DELETE FROM $table WHERE k >= $lo AND k <= $hi" +
              (if (complex) " AND v % 3 = 0" else ""))
            val n = before.rows.count(hit)
            (changed(n, before.copy(rows = before.rows.filterNot(hit))),
              s"SQL DELETE k in [$lo,$hi]${if (complex) " AND v % 3 = 0" else ""} ($n rows)")
          case 9 =>
            val add = fresh(20 + rnd.nextInt(150), before)
            val in = s"$warehouse/stream-$seed-$i"
            frame(spark, before.copy(rows = add)).repartition(2).write.parquet(s"$in/data")
            spark.readStream.schema(schemaOf(before)).parquet(s"$in/data")
              .writeStream.format("graft-snap").option("path", dir)
              .option("checkpointLocation", s"$in/cp")
              .trigger(Trigger.AvailableNow()).start().awaitTermination()
            (Some(before.copy(rows = before.rows ++ add)), s"stream epoch ${add.size}")
          case _ =>
            val n = 1 + rnd.nextInt(3)
            SnapTable.compact(spark, dir, n)
            (Some(before), s"compact to $n")
        }
        log += s"op $i: $what"
        next.foreach(versions += _)
        check(rnd, cfg, dir, versions.toSeq, log)
      }
    } catch {
      case e: Throwable =>
        fail(s"snapshot model diverged: ${e.getMessage}\noperations:\n  " +
          log.mkString("\n  "), e)
    } finally {
      spark.conf.unset("parquet.block.size")
      SnapTable.destroy(spark, dir)
    }
  }

  /** The checks run after every operation. */
  private def check(rnd: scala.util.Random, cfg: Config, dir: String,
                    versions: Seq[State], log: mutable.Buffer[String]): Unit = {
    val head = versions.last
    assert(SnapTable.latestVersion(spark, dir) == versions.size, "latest version")
    sameRows(canon(SnapTable.read(spark, dir)), head.canon, "read at HEAD")
    val old = 1 + rnd.nextInt(versions.size)
    sameRows(canon(SnapTable.read(spark, dir, old)), versions(old - 1).canon,
      s"read at version $old")

    if (cfg.statCols.contains("k")) {
      val (lo, hi) = kRange(rnd, 200)
      val want = head.copy(rows = head.rows.filter(_.k.exists(k => k >= lo && k <= hi)))
      try sameRows(canon(SnapTable.readWhere(spark, dir, 0, "k", lo, hi).df), want.canon,
        s"readWhere k in [$lo,$hi]")
      catch {
        case e: IllegalArgumentException if e.getMessage.contains("empty scan set") =>
          assert(want.rows.isEmpty, s"readWhere [$lo,$hi] pruned every file of ${want.rows.size} rows")
      }
    }
    cfg.bloom.foreach { case (c, _) =>
      val pick = head.rows.lift(rnd.nextInt(head.rows.size + 1))
      val value = pick.flatMap(r => if (c == "id") Some(r.id) else r.k).getOrElse(-5L)
      val want = head.copy(rows = head.rows.filter(r =>
        (if (c == "id") Some(r.id) else r.k).contains(value)))
      sameRows(canon(SnapTable.readWhereEq(spark, dir, value).df), want.canon,
        s"readWhereEq $c = $value")
    }

    val pred = randomPred(rnd, head)
    val scan = cfg.splitBytes.fold(spark.read)(b => spark.read.option("splitBytes", b))
      .format("graft-snap").load(dir).where(pred.column)
    sameRows(canon(scan), head.copy(rows = head.rows.filter(r =>
      pred.eval(r).contains(true))).canon, s"connector scan where $pred")

    val same = versions.indices.filter(i =>
      versions(i).vLong == head.vLong && versions(i).hasX == head.hasX)
    val a = same(rnd.nextInt(same.size)); val b = same(rnd.nextInt(same.size))
    val got = SnapTable.diff(spark, dir, a + 1, b + 1).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    sameRows(got, diffModel(versions(a), versions(b)), s"diff v${a + 1} -> v${b + 1}")
  }

  /** Rows as multisets: a mismatch names a few missing and extra rows. */
  private def sameRows(got: Seq[String], want: Seq[String], what: String): Unit =
    if (got != want) {
      val (g, w) = (got.diff(want), want.diff(got))
      fail(s"$what: ${w.size} rows missing ${w.take(3).mkString("[", "; ", "]")}, " +
        s"${g.size} extra ${g.take(3).mkString("[", "; ", "]")}")
    }
}

object SnapModelSpec {
  final case class Config(blockSize: Option[Int], statCols: Seq[String],
      bloom: Option[(String, Int)], strStats: Seq[String],
      splitBytes: Option[Long])

  /** One model row: `v` is INT or BIGINT by the version's schema, and
    * `x` exists once an add-column append has run. */
  final case class MRow(id: Long, k: Option[Long], s: Option[String],
                        v: Long, x: Option[String])

  final case class State(rows: Vector[MRow], vLong: Boolean, hasX: Boolean) {
    def canon: Seq[String] = rows.map(r =>
      (Seq(r.id.toString, str(r.k), str(r.s), r.v.toString) ++
        (if (hasX) Seq(str(r.x)) else Nil)).mkString("|")).sorted
  }

  private def str(o: Option[Any]): String = o.map(_.toString).getOrElse("null")

  def vType(st: State): DataType = if (st.vLong) LongType else IntegerType

  def schemaOf(st: State): StructType = StructType(Seq(
    StructField("id", LongType), StructField("k", LongType),
    StructField("s", StringType), StructField("v", vType(st))) ++
    (if (st.hasX) Seq(StructField("x", StringType)) else Nil))

  def frame(spark: org.apache.spark.sql.SparkSession, st: State): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows: Seq[Row] = st.rows.map { r =>
      Row.fromSeq(Seq[Any](r.id, r.k.map(Long.box).orNull, r.s.orNull,
        if (st.vLong) r.v else r.v.toInt) ++ (if (st.hasX) Seq(r.x.orNull) else Nil))
    }
    spark.createDataFrame(rows.asJava, schemaOf(st))
  }

  def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** Strings over the edges of the manifest's 16-character string
    * bounds: long values, a non-ASCII 16th character and the 125/126
    * increment boundary. */
  private val Long16 = Seq("abcdefghijklmno}tail", "abcdefghijklmno~tail",
    "abcdefghijklmnoétail", "zzzzzzzzzzzzzzzzzzzz")

  def randomRow(rnd: scala.util.Random, id: Long, hasX: Boolean): MRow = {
    val k =
      if (rnd.nextInt(10) == 0) None
      else if (rnd.nextInt(10) < 3) Some(rnd.nextInt(20).toLong)
      else Some(rnd.nextInt(2000).toLong)
    val s = rnd.nextInt(10) match {
      case 0 => None
      case 1 => Some(Long16(rnd.nextInt(Long16.size)))
      case _ => Some(s"s${rnd.nextInt(50)}")
    }
    MRow(id, k, s, rnd.nextInt(1000).toLong,
      if (hasX && rnd.nextBoolean()) Some(s"x${rnd.nextInt(9)}") else None)
  }

  def kRange(rnd: scala.util.Random, width: Int): (Long, Long) = {
    val lo = if (rnd.nextInt(4) == 0) rnd.nextInt(20).toLong else rnd.nextInt(2000).toLong
    (lo, lo + rnd.nextInt(width))
  }

  /** A new version exists only when the operation changed a row. */
  def changed(n: Int, st: State): Option[State] = if (n > 0) Some(st) else None

  /** A predicate as a Spark column and under SQL three-valued logic. */
  sealed trait Pred {
    def column: Column
    def eval(r: MRow): Option[Boolean]
  }
  final case class KBetween(lo: Long, hi: Long) extends Pred {
    def column = col("k").between(lo, hi)
    def eval(r: MRow) = r.k.map(k => k >= lo && k <= hi)
  }
  final case class KIn(vs: Seq[Long]) extends Pred {
    def column = col("k").isin(vs: _*)
    def eval(r: MRow) = r.k.map(vs.contains)
  }
  case object KNull extends Pred {
    def column = col("k").isNull
    def eval(r: MRow) = Some(r.k.isEmpty)
  }
  final case class SPrefix(p: String) extends Pred {
    def column = col("s").startsWith(p)
    def eval(r: MRow) = r.s.map(_.startsWith(p))
  }
  final case class SAtLeast(b: String) extends Pred {
    def column = col("s") >= b
    def eval(r: MRow) = r.s.map(s => utf8Compare(s, b) >= 0)
  }
  final case class Not3(p: Pred) extends Pred {
    def column = !p.column
    def eval(r: MRow) = p.eval(r).map(!_)
  }
  final case class And3(a: Pred, b: Pred) extends Pred {
    def column = a.column && b.column
    def eval(r: MRow) = (a.eval(r), b.eval(r)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true))            => Some(true)
      case _                                   => None
    }
  }
  final case class Or3(a: Pred, b: Pred) extends Pred {
    def column = a.column || b.column
    def eval(r: MRow) = (a.eval(r), b.eval(r)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false))        => Some(false)
      case _                                 => None
    }
  }

  private def utf8Compare(a: String, b: String): Int = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    val n = math.min(x.length, y.length)
    (0 until n).find(i => x(i) != y(i))
      .map(i => (x(i) & 0xff) - (y(i) & 0xff)).getOrElse(x.length - y.length)
  }

  def randomPred(rnd: scala.util.Random, st: State, depth: Int = 0): Pred =
    rnd.nextInt(if (depth < 2) 9 else 6) match {
      case 0 | 1 => val (lo, hi) = kRange(rnd, 300); KBetween(lo, hi)
      case 2 => KIn(Seq.fill(3)(st.rows.lift(rnd.nextInt(st.rows.size + 1))
        .flatMap(_.k).getOrElse(rnd.nextInt(2000).toLong)))
      case 3 => KNull
      case 4 => SPrefix(Seq("s1", "abcdefghijklmno", "zz", "q")(rnd.nextInt(4)))
      case 5 => SAtLeast(Seq("s3", "abcdefghijklmno~", "abcdefghijklmnoé", "t")(rnd.nextInt(4)))
      case 6 => Not3(randomPred(rnd, st, depth + 1))
      case 7 => And3(randomPred(rnd, st, depth + 1), randomPred(rnd, st, depth + 1))
      case _ => Or3(randomPred(rnd, st, depth + 1), randomPred(rnd, st, depth + 1))
    }

  /** `diff(a, b)` as multiset differences of the two versions' rows. */
  def diffModel(a: State, b: State): Seq[String] = {
    def counts(st: State) = st.canon.groupBy(identity).view.mapValues(_.size).toMap
    val (ca, cb) = (counts(a), counts(b))
    (ca.keySet ++ cb.keySet).toSeq.flatMap { r =>
      val d = cb.getOrElse(r, 0) - ca.getOrElse(r, 0)
      Seq.fill(math.abs(d))(r + "|" + (if (d > 0) "added" else "removed"))
    }.sorted
  }
}
