package graft.plans

import java.util.Arrays

import scala.collection.mutable.ArrayBuilder

import graft.geo.Geo
import graft.geo.SpacetimeEtl.{Cs, MPerDegLat}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, SpecificInternalRow, UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, BroadcastMode, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The 25 m / 15-year nearest-street match (SURVEY R7–R12) as one
  * operator: every point row comes back once, with the street id, name
  * and rounded distance of its nearest temporally valid segment closer
  * than `maxM`, or with nulls.
  *
  * The segment side is small (the caller checks it against Spark's
  * broadcast threshold), so it is broadcast as a compact grid index, the
  * global index of "Distributed In-memory Trajectory Similarity Search
  * and Join on Road Network" (ICDE 2019). `NearestIndexMode.transform`
  * builds it once per query inside the broadcast exchange, and each task
  * probes it point by point: the point's one cell, the temporal conjunct
  * before the trig distance (N8), then the top 1 under the rounded
  * `< maxM` rule and the (distance_m, seg_ord, street_id) tie-break. No
  * candidate row, aggregate or segment-side shuffle exists.
  *
  * The cells are those of `SpacetimeEtl.candidateDistances`: a segment
  * covers every 0.0005° cell its bounding box, widened by 1.1 × maxM,
  * touches, and a point lies in the one cell its coordinates floor to.
  * Both forms compute them with the same double arithmetic, so they see
  * the same candidates (`NearestStreetSpec`).
  *
  * Output attributes are constructor parameters (copy() must keep their
  * exprIds); `output` is the point side's output plus them, so column
  * pruning of the point side flows through. */
case class NearestStreet(points: LogicalPlan, segments: LogicalPlan,
                         pointFields: Seq[Attribute], segmentFields: Seq[Attribute],
                         maxM: Long, slackMs: Long, matchOutput: Seq[Attribute])
    extends BinaryNode {
  override def left: LogicalPlan = points
  override def right: LogicalPlan = segments
  override def output: Seq[Attribute] = points.output ++ matchOutput
  override def producedAttributes: AttributeSet = AttributeSet(matchOutput)
  override def maxRows: Option[Long] = points.maxRows

  // one row out per point row: the point side's estimate, widened by
  // the three match columns (the default for an unknown binary node
  // multiplies the children's sizes, which would rule out every
  // broadcast join downstream)
  override def stats: Statistics = {
    val p = points.stats
    val size = p.sizeInBytes * EstimationUtils.getSizePerRow(output) /
      EstimationUtils.getSizePerRow(points.output)
    Statistics(sizeInBytes = size.max(1), rowCount = p.rowCount)
  }

  override def simpleString(maxFields: Int): String =
    s"NearestStreet ${matchOutput.mkString("[", ", ", "]")} within $maxM m, slack $slackMs ms"

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): NearestStreet =
    copy(points = newLeft, segments = newRight)
}

case class NearestStreetExec(points: SparkPlan, segments: SparkPlan,
                             pointFields: Seq[Attribute], segmentFields: Seq[Attribute],
                             maxM: Long, slackMs: Long, matchOutput: Seq[Attribute])
    extends BinaryExecNode {
  override def left: SparkPlan = points
  override def right: SparkPlan = segments
  override def output: Seq[Attribute] = points.output ++ matchOutput
  override def producedAttributes: AttributeSet = AttributeSet(matchOutput)

  // each point row stays in its partition and its order, under the
  // same attributes
  override def outputPartitioning: Partitioning = points.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = points.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    UnspecifiedDistribution,
    BroadcastDistribution(NearestIndexMode(
      segmentFields.map(a => segments.output.indexWhere(_.exprId == a.exprId)), maxM)))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "points" -> SQLMetrics.createMetric(sparkContext, "points"),
    "cellsProbed" -> SQLMetrics.createMetric(sparkContext, "cells probed"),
    "candidates" -> SQLMetrics.createMetric(sparkContext, "candidates"),
    "matched" -> SQLMetrics.createMetric(sparkContext, "matched"),
    "indexEntries" -> SQLMetrics.createMetric(sparkContext, "index entries"))

  override def simpleString(maxFields: Int): String =
    s"$nodeName ${matchOutput.mkString("[", ", ", "]")} within $maxM m, slack $slackMs ms"

  override protected def doExecute(): RDD[InternalRow] = {
    val index = segments.executeBroadcast[Array[InternalRow]]()
    val (m, slack) = (maxM, slackMs) // the task closure must not capture the plan
    def open(): NearestIndex =
      new NearestIndex(index.value.head.asInstanceOf[UnsafeRow], m, slack)
    val entries = metrics("indexEntries")
    entries.set(open().entries.toLong)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(entries))
    val Seq(ix, iy, is, iu) =
      pointFields.map(a => points.output.indexWhere(_.exprId == a.exprId))
    val outTypes = output.map(_.dataType).toArray
    val sidType = matchOutput.map(_.dataType)
    val (nPoints, nProbed, nCandidates, nMatched) = (metrics("points"),
      metrics("cellsProbed"), metrics("candidates"), metrics("matched"))
    points.execute().mapPartitions { rows =>
      val idx = open()
      val hit = new NearestIndex.Hit
      val best = new SpecificInternalRow(sidType)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outTypes)
      rows.map { p =>
        nPoints += 1
        best.setNullAt(0); best.setNullAt(1); best.setNullAt(2)
        if (!(p.isNullAt(ix) || p.isNullAt(iy) || p.isNullAt(is) || p.isNullAt(iu))) {
          nProbed += 1
          if (idx.nearest(p.getDouble(ix), p.getDouble(iy), p.getLong(is), p.getLong(iu), hit)) {
            nMatched += 1
            best.update(0, idx.streetId(hit.slot))
            best.update(1, idx.streetName(hit.slot))
            best.setLong(2, hit.distanceM)
          }
          nCandidates += hit.candidates
        }
        proj(joined(p, best))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): NearestStreetExec =
    copy(points = newLeft, segments = newRight)
}

/** Builds the segment index from the segment rows the broadcast
  * exchange collects; `fields` are the ordinals of (street_id,
  * street_name, seg_since, seg_until, seg_ord, x1, y1, x2, y2) in them.
  * The exchange accepts a hash relation or rows, so the index travels as
  * ONE UnsafeRow of primitive arrays that [[NearestIndex]] reads in
  * place. */
case class NearestIndexMode(fields: Seq[Int], maxM: Long)
    extends BroadcastMode {
  override def transform(rows: Array[InternalRow]): Array[InternalRow] =
    transform(rows.iterator, None)
  override def transform(rows: Iterator[InternalRow], sizeHint: Option[Long]): Array[InternalRow] =
    NearestIndex.build(rows, fields, maxM)
  override def canonicalized: BroadcastMode = this
}

/** The street segments as a cell → segment index, read in place from the
  * broadcast row (no copy, no boxing): `keys` are the sorted packed
  * (cx, cy) cells, and the segments of cell `keys(k)` are
  * `slots(start(k) until start(k + 1))`, in input order. Per segment
  * slot: its endpoints, date bounds, ordinal (`Long.MinValue` for NULL,
  * which orders first as the candidate form's struct comparison does),
  * street id and street name. Segments that can never match (NULL street
  * id, date bound or coordinate) are left out at build time. */
final class NearestIndex(row: UnsafeRow, maxM: Long, slackMs: Long) {
  import NearestIndex._
  private val Seq(keys, start, slots, x1, y1, x2, y2, since, until, ord, ids, names) =
    Columns.indices.map(row.getArray)

  /** (cell, segment) entries. */
  def entries: Int = slots.numElements()

  def streetId(slot: Int): UTF8String = ids.getUTF8String(slot)
  def streetName(slot: Int): UTF8String =
    if (names.isNullAt(slot)) null else names.getUTF8String(slot)

  private def cell(key: Long): Int = {
    var lo = 0
    var hi = keys.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val k = keys.getLong(mid)
      if (k < key) lo = mid + 1 else if (k > key) hi = mid - 1 else return mid
    }
    -1
  }

  /** Probes the point's cell. Returns whether a segment matched; `hit`
    * then holds its slot and rounded distance, and in any case the
    * number of temporally valid segments whose distance was computed. */
  def nearest(px: Double, py: Double, ptSince: Long, ptUntil: Long, hit: Hit): Boolean = {
    hit.candidates = 0
    val cx = math.floor(px / Cs).toLong
    val cy = math.floor(py / Cs).toLong
    val k = if (inCellRange(cx) && inCellRange(cy)) cell(pack(cx, cy)) else -1
    if (k < 0) return false
    var best = -1
    var bestD = 0L
    var e = start.getInt(k)
    val end = start.getInt(k + 1)
    while (e < end) {
      val s = slots.getInt(e)
      if (since.getLong(s) - slackMs <= ptSince && until.getLong(s) + slackMs >= ptUntil) {
        hit.candidates += 1
        val d = Geo.roundM(Geo.crosstrackM(px, py,
          x1.getDouble(s), y1.getDouble(s), x2.getDouble(s), y2.getDouble(s)))
        if (d < maxM && (best < 0 || d < bestD || d == bestD &&
            (ord.getLong(s) < ord.getLong(best) || ord.getLong(s) == ord.getLong(best) &&
              streetId(s).compareTo(streetId(best)) < 0))) {
          best = s
          bestD = d
        }
      }
      e += 1
    }
    hit.slot = best
    hit.distanceM = bestD
    best >= 0
  }
}

object NearestIndex {
  /** One task's probe result, reused across its points. */
  final class Hit {
    var slot = -1
    var distanceM = 0L
    var candidates = 0
  }

  // the broadcast row's columns, in NearestIndex's order
  private val Columns: Seq[DataType] =
    Seq(LongType, IntegerType, IntegerType).map(ArrayType(_, containsNull = false)) ++
      Seq.fill(4)(ArrayType(DoubleType, containsNull = false)) ++
      Seq.fill(3)(ArrayType(LongType, containsNull = false)) ++
      Seq(ArrayType(StringType, containsNull = false), ArrayType(StringType, containsNull = true))

  // the longest array the candidate form's `sequence` may build, and so
  // the most cells one index holds
  private val MaxEntries = Int.MaxValue - 15L

  private def inCellRange(c: Long): Boolean = c >= Int.MinValue && c <= Int.MaxValue
  private def pack(cx: Long, cy: Long): Long = (cx << 32) | (cy & 0xffffffffL)

  // Spark's least/greatest order NaN above every other double
  private def least(a: Double, b: Double): Double =
    if (a.isNaN) b else if (b.isNaN) a else math.min(a, b)
  private def greatest(a: Double, b: Double): Double =
    if (a.isNaN) a else if (b.isNaN) b else math.max(a, b)

  def build(rows: Iterator[InternalRow], fields: Seq[Int], maxM: Long): Array[InternalRow] = {
    val Seq(fId, fName, fSince, fUntil, fOrd, fx1, fy1, fx2, fy2) = fields
    val margin = maxM * 1.1
    val mlat = margin / MPerDegLat
    val ax, ay, bx, by = new ArrayBuilder.ofDouble
    val since, until, ord = new ArrayBuilder.ofLong
    val ids, names = new ArrayBuilder.ofRef[UTF8String]
    val cells = new ArrayBuilder.ofLong // lo cx, hi cx, lo cy, hi cy per slot
    var total = 0L
    rows.foreach { r =>
      if (!Seq(fId, fSince, fUntil, fx1, fy1, fx2, fy2).exists(r.isNullAt)) {
        val (x1, y1, x2, y2) = (r.getDouble(fx1), r.getDouble(fy1), r.getDouble(fx2), r.getDouble(fy2))
        // candidateDistances' cell range, operation for operation; its
        // `sequence` descends when the bounds are reversed
        val mlon = margin / (MPerDegLat * math.cos(math.toRadians((y1 + y2) / 2)))
        val cxa = math.floor((least(x1, x2) - mlon) / Cs).toLong
        val cxb = math.floor((greatest(x1, x2) + mlon) / Cs).toLong
        val cya = math.floor((least(y1, y2) - mlat) / Cs).toLong
        val cyb = math.floor((greatest(y1, y2) + mlat) / Cs).toLong
        val (lx, hx, ly, hy) = (cxa min cxb, cxa max cxb, cya min cyb, cya max cyb)
        if (!Seq(lx, hx, ly, hy).forall(inCellRange) ||
            (hx - lx + 1) * (hy - ly + 1) > MaxEntries - total)
          throw new IllegalArgumentException(
            s"street ${r.getUTF8String(fId)} segment ($x1, $y1)-($x2, $y2) covers " +
              s"cells [$lx, $hx] x [$ly, $hy]: more than a grid index holds")
        total += (hx - lx + 1) * (hy - ly + 1)
        cells += lx; cells += hx; cells += ly; cells += hy
        ax += x1; ay += y1; bx += x2; by += y2
        since += r.getLong(fSince)
        until += r.getLong(fUntil)
        ord += (if (r.isNullAt(fOrd)) Long.MinValue else r.getInt(fOrd).toLong)
        ids += r.getUTF8String(fId).clone()
        names += (if (r.isNullAt(fName)) null else r.getUTF8String(fName).clone())
      }
    }
    val c = cells.result()
    val n = total.toInt
    val entryKey = new Array[Long](n)
    val entrySlot = new Array[Int](n)
    var e = 0
    for (s <- 0 until c.length / 4; cx <- c(4 * s) to c(4 * s + 1); cy <- c(4 * s + 2) to c(4 * s + 3)) {
      entryKey(e) = pack(cx, cy)
      entrySlot(e) = s
      e += 1
    }
    // distinct sorted keys, then a counting pass into CSR order that
    // keeps each cell's segments in input order
    val keys = entryKey.distinct
    Arrays.sort(keys)
    val u = keys.length
    val cellOf = entryKey.map(Arrays.binarySearch(keys, _))
    val start = new Array[Int](u + 1)
    cellOf.foreach(k => start(k + 1) += 1)
    for (k <- 0 until u) start(k + 1) += start(k)
    val fill = Arrays.copyOf(start, u)
    val slots = new Array[Int](n)
    for (i <- 0 until n) { slots(fill(cellOf(i))) = entrySlot(i); fill(cellOf(i)) += 1 }
    val values: Seq[Any] = Seq(keys, start, slots, ax.result(), ay.result(), bx.result(),
      by.result(), since.result(), until.result(), ord.result()).map {
      case a: Array[Long] => UnsafeArrayData.fromPrimitiveArray(a)
      case a: Array[Int] => UnsafeArrayData.fromPrimitiveArray(a)
      case a: Array[Double] => UnsafeArrayData.fromPrimitiveArray(a)
    } ++ Seq(ids, names).map(b => new GenericArrayData(b.result().asInstanceOf[Array[Any]]))
    Array(UnsafeProjection.create(Columns.toArray)(new GenericInternalRow(values.toArray)).copy())
  }
}

object NearestStreetStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: NearestStreet =>
      NearestStreetExec(planLater(n.points), planLater(n.segments), n.pointFields,
        n.segmentFields, n.maxM, n.slackMs, n.matchOutput) :: Nil
    case _ => Nil
  }
}

object NearestStreet {
  /** The point and segment columns the index form reads, with the types
    * `SpacetimeEtl.housePoints` and `SpacetimeEtl.segments` give them. */
  private val PointFields: Seq[(String, DataType)] = Seq("px" -> DoubleType, "py" -> DoubleType,
    "pt_since" -> LongType, "pt_until" -> LongType)
  private val SegmentFields: Seq[(String, DataType)] = Seq("street_id" -> StringType,
    "street_name" -> StringType, "seg_since" -> LongType, "seg_until" -> LongType,
    "seg_ord" -> IntegerType, "x1" -> DoubleType, "y1" -> DoubleType,
    "x2" -> DoubleType, "y2" -> DoubleType)

  /** Whether [[apply]] takes these inputs: both sides batch, their
    * fields typed as above, and the segment relation's estimated size
    * within the session's `spark.sql.autoBroadcastJoinThreshold` (the
    * stats call `ScanFan` makes; -1 turns the index form off). Planning
    * only: no job runs. */
  def applies(points: DataFrame, segments: DataFrame): Boolean = {
    val conf = points.sparkSession.sessionState.conf
    def typed(df: DataFrame, fs: Seq[(String, DataType)]) = fs.forall { case (n, t) =>
      df.schema.filter(f => conf.resolver(f.name, n)).map(_.dataType) == Seq(t)
    }
    val threshold = conf.autoBroadcastJoinThreshold
    !points.isStreaming && !segments.isStreaming &&
      typed(points, PointFields) && typed(segments, SegmentFields) &&
      threshold >= 0 && segments.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
  }

  /** Adds [[NearestStreetStrategy]] to a session whose planner lacks it
    * (one built without `GraftExtensions`), as `Sessionize` does. */
  def ensure(spark: SparkSession): Unit =
    if (!spark.sessionState.planner.strategies.contains(NearestStreetStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ NearestStreetStrategy

  /** Every row of `points` with (sid, sname, distance_m) of its nearest
    * segment; see [[NearestStreet]]. The caller checks [[applies]]. */
  def apply(points: DataFrame, segments: DataFrame, maxM: Long, slackMs: Long): DataFrame = {
    val spark = points.sparkSession
    ensure(spark)
    val resolver = spark.sessionState.conf.resolver
    val p = points.queryExecution.analyzed
    val s = segments.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.filter(a => resolver(a.name, name)) match {
        case Seq(a) => a
        case as => throw new IllegalArgumentException(
          s"NearestStreet needs one column $name, found ${as.size}")
      }
    val segFields = SegmentFields.map(f => attr(s, f._1))
    val out = Seq(
      AttributeReference("sid", segFields(0).dataType)(),
      AttributeReference("sname", segFields(1).dataType)(),
      AttributeReference("distance_m", LongType)())
    GraftBridge.ofRows(spark, NearestStreet(p, s, PointFields.map(f => attr(p, f._1)),
      segFields, maxM, slackMs, out))
  }
}
