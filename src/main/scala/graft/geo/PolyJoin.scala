package graft.geo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Point-in-polygon assignment with TWO physical strategies behind one
  * semantics (g08's ray-cast contract; verdict-r8 item 8):
  *
  *  - [[broadcastAssign]] — the g08 shape: the edge relation broadcasts
  *    and every point streams past every edge row-locally. Right while
  *    edges are O(polygons)-small (a district/country table); wrong the
  *    moment the polygon set itself is data-sized (parcel boundaries,
  *    crawled geofences) — a forced broadcast would collect it on the
  *    driver.
  *  - [[gridAssign]] — the partitioned fallback: polygon bboxes explode
  *    to the cells they overlap (the grid idiom of
  *    `SpacetimeEtl.candidateDistances`), points key to their one cell, and
  *    candidates come from a plain (cx, cy) equi-join — shuffle-
  *    partitioned on the cell key, NO broadcast anywhere. Candidates
  *    then equi-join the edge relation on the polygon id for the exact
  *    crossing fold. Every exchange is an equi-join key Spark can
  *    hash-partition, so the plan scales with executors; a hot polygon
  *    (huge bbox over a dense city) is AQE-skew-splittable because the
  *    per-cell candidate relation is what shuffles, and the final
  *    crossing fold partial-aggregates.
  *
  * EXACTNESS: a point inside a polygon is inside its bbox, and bbox
  * cell ranges use the same floor(x/cell) the point key uses (floor is
  * monotone, both sides evaluate the identical expression), so the
  * grid candidate set is a superset of the true matches — the crossing
  * test then decides with the IDENTICAL IEEE expression tree as the
  * broadcast path (shared [[crossingCount]]). PolyJoinSpec pins
  * row-for-row equality of the two paths on the committed fixture and
  * on the overlap/boundary synthetic cases.
  *
  * Inputs: `points(id, px, py)` (id unique), `edges(rid, xi, yi, xj,
  * yj)` — one row per polygon edge, rid > 0. Output: `(id, px, py,
  * region)` with region = min containing rid, or 0 when none contains
  * the point (g08's tie/miss rule).
  */
object PolyJoin {

  /** Default grid cell in degrees — sized so a district-scale polygon
    * overlaps O(10) cells; callers with continent-scale polygons pass
    * a coarser cell. */
  val DefaultCellDeg = 0.01

  /** Ray-cast crossing indicator for one (point, edge) row — g08's
    * expression, verbatim: a rightward ray from (px, py) crosses the
    * edge (xi,yi)-(xj,yj) iff the edge straddles py and the ray hits it
    * left of the intersection x. Pure IEEE doubles; both strategies
    * (and the DuckDB oracle) evaluate this identical tree. */
  def crossingCount: Column =
    when(((col("yi") > col("py")) =!= (col("yj") > col("py"))) &&
      col("px") < col("xi") + (col("xj") - col("xi"))
        * (col("py") - col("yi")) / (col("yj") - col("yi")), 1L)
      .otherwise(0L)

  /** Fold candidate (point, rid) crossing rows into the per-point
    * region: odd crossing count = inside; min rid wins; no containing
    * polygon = 0. `cand` must carry (id, px, py, rid, c). */
  private def foldRegions(cand: DataFrame): DataFrame =
    cand.groupBy("id", "px", "py", "rid").agg(sum(col("c")).as("nc"))
      .groupBy("id", "px", "py")
      .agg(min(when(col("nc") % 2 === 1, col("rid"))).as("r0"))
      .select(col("id"), col("px"), col("py"),
        coalesce(col("r0"), lit(0L)).cast(LongType).as("region"))

  /** The broadcast strategy (g08's): every point × every edge. */
  def broadcastAssign(points: DataFrame, edges: DataFrame): DataFrame =
    foldRegions(points.crossJoin(broadcast(edges)).withColumn("c", crossingCount))

  /** The partitioned fallback: bbox-grid candidate generation, then the
    * exact per-polygon crossing fold. No broadcast of the polygon side;
    * points that hit no bbox cell surface as region 0 through the final
    * left join (an id-keyed equi-join — the price of not shipping every
    * edge to every point). */
  def gridAssign(points: DataFrame, edges: DataFrame,
                 cellDeg: Double = DefaultCellDeg): DataFrame = {
    val cs = cellDeg
    // polygon bbox from its edge relation — one metadata-sized aggregate
    val bbox = edges.groupBy("rid").agg(
      min(least(col("xi"), col("xj"))).as("bxmin"),
      max(greatest(col("xi"), col("xj"))).as("bxmax"),
      min(least(col("yi"), col("yj"))).as("bymin"),
      max(greatest(col("yi"), col("yj"))).as("bymax"))
    val polyCells = bbox
      .withColumn("cell", explode(expr(
        s"""flatten(transform(
           |  sequence(cast(floor(bxmin/$cs) as bigint),
           |           cast(floor(bxmax/$cs) as bigint)),
           |  cx -> transform(
           |    sequence(cast(floor(bymin/$cs) as bigint),
           |             cast(floor(bymax/$cs) as bigint)),
           |    cy -> named_struct('cx', cx, 'cy', cy))))""".stripMargin)))
      .select(col("rid"), col("cell.cx"), col("cell.cy"))
    val pts = points
      .withColumn("cx", floor(col("px") / cs).cast(LongType))
      .withColumn("cy", floor(col("py") / cs).cast(LongType))
    // a point lives in exactly ONE cell, so (id, rid) pairs are unique
    // by construction — no distinct exchange needed
    val cand = pts.join(polyCells, Seq("cx", "cy"))
      .select(col("id"), col("px"), col("py"), col("rid"))
    val asg = foldRegions(
      cand.join(edges, Seq("rid")).withColumn("c", crossingCount))
      .filter(col("region") =!= 0L)
      .select(col("id"), col("region"))
    points.join(asg, Seq("id"), "left")
      .select(col("id"), col("px"), col("py"),
        coalesce(col("region"), lit(0L)).cast(LongType).as("region"))
  }

  /** Strategy selector: broadcast while the edge relation is known
    * small, grid otherwise. `edgeCountHint` is the caller's knowledge
    * (catalog stats, manifest row count) — the operator never forces a
    * collect to decide. */
  def assign(points: DataFrame, edges: DataFrame, edgeCountHint: Long,
             broadcastMaxEdges: Long = 1000000L,
             cellDeg: Double = DefaultCellDeg): DataFrame =
    if (edgeCountHint <= broadcastMaxEdges) broadcastAssign(points, edges)
    else gridAssign(points, edges, cellDeg)
}
