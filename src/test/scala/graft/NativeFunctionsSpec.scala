package graft

import graft.plans.NativeFunctions
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** Argument errors in a native-function call surface while the query is
  * analysed, as an `AnalysisException` naming the function, before any
  * job runs — for every entry of the one table. */
class NativeFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def analysisError(sql: String): AnalysisException = {
    val (e, jobs) = JobLog(spark)(intercept[AnalysisException](spark.sql(sql)))
    assert(jobs.isEmpty, s"$sql ran ${jobs.size} job(s)")
    e
  }

  for (e <- NativeFunctions.entries)
    test(s"${e.name}: a wrong argument count is an analysis error, no job") {
      for (n <- Seq(e.arity - 1, e.arity + 1)) {
        val err = analysisError(s"SELECT ${e.name}(${Seq.fill(n)("NULL").mkString(", ")})")
        assert(err.getCondition === "WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
        assert(err.getMessage.contains(s"`${e.name}`"), err.getMessage)
        assert(err.getMessage.contains(s"requires ${e.arity} parameters"), err.getMessage)
      }
    }

  test("bottom_k: a non-foldable k is an analysis error, a foldable one builds") {
    val err = analysisError("SELECT bottom_k(id, CAST(id AS INT)) FROM range(3)")
    assert(err.getMessage.contains("bottom_k") && err.getMessage.contains("`k`"),
      err.getMessage)
    val r = spark.sql("SELECT bottom_k(id, 1 + 1) FROM range(5)").collect()(0)
    assert(r.getSeq[Long](0) === Seq(0L, 1L))
  }
}
