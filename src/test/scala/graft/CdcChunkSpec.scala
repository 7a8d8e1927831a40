package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** qt18's content-defined chunking: the property that justifies CDC
  * over fixed-stride windows — an edit early in a document changes
  * only the chunks it touches, because boundaries are functions of
  * local content, not absolute position. */
class CdcChunkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def chunksOf(text: String): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    graft.queries.TextExt.cdcChunks(
        Seq((1L, text)).toDF("doc_id", "text"))
      .select("k", "nt", "fp").orderBy("k").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  test("chunks cover the document exactly, in order") {
    val text = (1 to 300).map(i => s"tok${i % 37}").mkString(" ")
    val cs = chunksOf(text)
    assert(cs.map(_._2).sum == 300, "token counts must cover the doc")
    assert(cs.map(_._1) == (1L to cs.size.toLong), "chunk indexes dense")
    assert(cs.size > 1, "a 300-token doc should split")
  }

  test("an edit at the front shifts no fingerprint beyond its window") {
    val base = (1 to 400).map(i => s"w${(i * 7) % 53}x${i % 11}").mkString(" ")
    val edited = "INSERTED " + base
    val a = chunksOf(base).map(_._3)
    val b = chunksOf(edited).map(_._3)
    // fixed-stride chunking would re-fingerprint EVERY chunk; CDC must
    // re-synchronize: all but the first few chunks keep their exact
    // fingerprints (suffix of a == suffix of b)
    val common = a.reverse.zip(b.reverse).takeWhile { case (x, y) => x == y }.size
    assert(common >= a.size - 2,
      s"expected all but the leading chunk(s) stable, got $common of ${a.size}")
    assert(a.size >= 4, "fixture must produce several chunks")
  }

  test("short docs yield a single whole-doc chunk") {
    val cs = chunksOf("a b c d")
    assert(cs == Seq((1L, 4L, cs.head._3)))
  }
}
