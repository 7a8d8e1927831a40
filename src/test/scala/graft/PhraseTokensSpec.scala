package graft

import graft.plans.PhraseTokens
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-15 native RAKE segmentation kernel must emit EXACTLY the
  * (pid, pos, w) rows of the window form it replaced — randomized
  * arrays with empty tokens and leading/trailing/repeated stopwords
  * exercise the running-count and filter edges. */
class PhraseTokensSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("phrase_tokens == windowed running-stop-count segmentation") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    PhraseTokens.register(spark)
    val stops = Seq("the", "a", "of", "and")
    val words = stops ++ Seq("", "alpha", "beta", "gamma", "delta")
    val rnd = new scala.util.Random(53)
    val rows = (1 to 300).map { id =>
      (id.toLong, Seq.fill(rnd.nextInt(30))(words(rnd.nextInt(words.size))))
    }
    val df = rows.toDF("doc_id", "tk").cache()
    val stopList = stops.map("'" + _ + "'").mkString(", ")
    val native = df.select(col("doc_id"),
        explode(expr(s"phrase_tokens(tk, array($stopList))")).as("s"))
      .select(col("doc_id"), col("s.pid").as("pid"),
        col("s.pos").as("pos"), col("s.w").as("w"))
    val wPos = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = df.select(col("doc_id"),
        posexplode(col("tk")).as(Seq("pos", "w")))
      .withColumn("is_stop",
        expr(s"CAST(array_contains(array($stopList), w) AS INT)"))
      .withColumn("pid", sum(col("is_stop")).over(wPos))
      .filter(col("is_stop") === 0 && col("w") =!= "")
      .select("doc_id", "pid", "pos", "w")
    assert(native.exceptAll(ref).isEmpty && ref.exceptAll(native).isEmpty,
      "kernel rows differ from the window form")
    df.unpersist()
  }

  test("null array and all-stop input") {
    PhraseTokens.register(spark)
    val r = spark.sql(
      "SELECT phrase_tokens(CAST(NULL AS ARRAY<STRING>), array('a')) AS a, " +
        "size(phrase_tokens(array('a', 'a'), array('a'))) AS b").head()
    assert(r.isNullAt(0))
    assert(r.getInt(1) === 0)
  }

  test("1 000-word stop list == windowed segmentation") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    PhraseTokens.register(spark)
    val stops = (0 until 1000).map(i => s"s$i")
    val words = stops ++ (0 until 200).map(i => s"w$i") :+ ""
    val rnd = new scala.util.Random(59)
    val rows = (1 to 200).map { id =>
      (id.toLong, Seq.fill(rnd.nextInt(40))(words(rnd.nextInt(words.size))))
    }
    val df = rows.toDF("doc_id", "tk").cache()
    val stopArr = typedLit(stops)
    val native = df.select(col("doc_id"),
        explode(call_function("phrase_tokens", col("tk"), stopArr)).as("s"))
      .select(col("doc_id"), col("s.pid").as("pid"),
        col("s.pos").as("pos"), col("s.w").as("w"))
    val wPos = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = df.select(col("doc_id"),
        posexplode(col("tk")).as(Seq("pos", "w")))
      .withColumn("is_stop", array_contains(stopArr, col("w")).cast("int"))
      .withColumn("pid", sum(col("is_stop")).over(wPos))
      .filter(col("is_stop") === 0 && col("w") =!= "")
      .select("doc_id", "pid", "pos", "w")
    assert(!native.isEmpty && native.where("pid > 0").count() > 0)
    assert(native.exceptAll(ref).isEmpty && ref.exceptAll(native).isEmpty,
      "kernel rows differ from the window form")
    df.unpersist()
  }
}
