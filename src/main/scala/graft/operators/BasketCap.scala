package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Basket-size guard for bipartite co-occurrence projections (q102
  * market-basket rules, q104 co-purchase triangles): projecting
  * order→part pairs is quadratic in basket size, so ONE hot basket
  * (a crawler order with 10M parts) can dominate the whole job. The
  * guard keeps each basket's [[DefaultCap]] SMALLEST part ids — a
  * deterministic, declarative bound both engines replay identically
  * (row_number over (basket ORDER BY part) — no ties possible on a
  * distinct (basket, part) relation), so the capped projection is
  * still oracle-checkable data, not a sampling heuristic.
  *
  * Shape: a per-basket window rank — streaming rank over a sort, no
  * per-row array buffering (a collect_list cap would materialize the
  * hot basket in one row, recreating the problem as memory). The
  * window exchange is on the basket key, the same key the pair
  * self-join needs next, so the added exchange is reused.
  */
object BasketCap {

  /** Per-basket fan-out bound: caps pair fan-out at cap·(cap−1)/2
    * (= 2016 pairs) regardless of basket size. Far above any real
    * TPC-H-shaped basket (≤ 7 parts per order), so it never binds at
    * test scale — it is the 100 TB guard. */
  val DefaultCap = 64

  /** `rel` must be distinct on (basketCol, partCol); keeps each
    * basket's `cap` smallest parts. */
  def capParts(rel: DataFrame, basketCol: String, partCol: String,
               cap: Int = DefaultCap): DataFrame = {
    val w = Window.partitionBy(basketCol).orderBy(col(partCol))
    rel.withColumn("_bc_rn", row_number().over(w))
      .filter(col("_bc_rn") <= cap)
      .drop("_bc_rn")
  }

  /** The identical bound as DuckDB SQL (oracle side): wrap the distinct
    * (basket, part) CTE body. */
  def oracleQualify(basketCol: String, partCol: String,
                    cap: Int = DefaultCap): String =
    s"QUALIFY ROW_NUMBER() OVER (PARTITION BY $basketCol ORDER BY $partCol) <= $cap"

  /** FUSED capped pair generation (round 14, guide §2.3/§2.4): emits
    * one (u, v) row with u < v per basket and unordered part pair,
    * over each basket's `cap` smallest distinct parts — exactly the
    * rows of `capParts(rel.distinct).as("a").join(.as("b"), a.basket
    * === b.basket && a.part < b.part)`, in HALF the exchanges.
    *
    * Old shape: distinct (exchange 1) → window rank (exchange 2 +
    * per-basket sort) → self-join → pair rows. New shape: ONE
    * partial-aggregatable groupBy(basket) building the sorted capped
    * part array via [[graft.plans.BottomK]] (O(cap) buffer per basket
    * — the same hot-basket memory guard the streaming window rank
    * gave, which is why this is not a collect_set), then a row-local
    * two-generator pair expansion. Equivalence: "cap smallest distinct
    * parts, all pairs ordered ascending" is the same pure set function
    * either way; every graph query's oracle SQL is unchanged and the
    * gate re-proves hash equality. */
  def cappedPairs(rel: DataFrame, basketCol: String, partCol: String,
                  cap: Int = DefaultCap): DataFrame = {
    // scale-adaptive fan (ScanFan gate): the partial bottom_k
    // aggregation otherwise runs inside the single-row-group scan's one
    // task at bench scale; the repartition keys on the basket so the
    // groupBy below reuses the exchange outright. Identity at scale.
    ScanFan.fan(rel, col(basketCol)).groupBy(col(basketCol))
      .agg(expr(s"bottom_k($partCol, $cap)").as("_ps"))
      .select(col("_ps"), posexplode(col("_ps")).as(Seq("_i", "u")))
      // elements after position _i (0-based): 1-based start _i + 2;
      // slice clamps the length, and explode of an empty tail emits
      // nothing — the last element generates no pairs, as it should
      .select(col("u"),
        explode(slice(col("_ps"), col("_i") + lit(2), size(col("_ps"))))
          .as("v"))
  }
}
