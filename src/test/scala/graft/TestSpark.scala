package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for the spec suite (sf0.001 data for speed). */
object TestSpark {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the cluster-deploy entry point, active for the whole suite:
      // every spec runs with the injected functions + strategy present
      // (ExtensionsSpec proves resolution through THIS path on a fresh
      // newSession(), and NativeFunctions.ensure on one without it)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
