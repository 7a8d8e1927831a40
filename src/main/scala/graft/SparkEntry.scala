package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator (SURVEY §2) to a DataFrame
  * program over the parquet tables in a scale-factor dir; `oracleSql` maps
  * the same keys to DuckDB SQL the driver hash-compares against. Keys
  * without oracle SQL get a weaker rows-only check (approx/streaming ops).
  */
object SparkEntry {

  /** Flagship query (Q05 star join) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_star")(spark, "/root/testdata/sf0.001")

  /** Each program first registers the native functions its session
    * lacks, so a session built without `GraftExtensions` runs it too. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (graft.queries.Relational.queries ++ graft.queries.Llm.queries ++
      graft.queries.StreamingQueries.queries ++ graft.geo.GeoQueries.queries ++
      graft.queries.DedupExt.queries ++ graft.queries.TextExt.queries)
      .transform { (_, q) => (s: SparkSession, d: String) =>
        graft.plans.NativeFunctions.ensure(s)
        q(s, d)
      }

  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracle ++ graft.queries.Llm.oracle ++
      graft.queries.StreamingQueries.oracle ++ graft.geo.GeoQueries.oracle ++
      graft.queries.DedupExt.oracle ++ graft.queries.TextExt.oracle
}
