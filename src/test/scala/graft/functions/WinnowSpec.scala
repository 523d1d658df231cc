package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup
import graft.model.Tables
import graft.text.TextAnalysis

/** Winnowing rolling-hash fingerprints: the native kernel must be
  * value-identical to the portable staged-HOF reference on the real
  * documents table (the invariant the DuckDB oracle checks end-to-end on
  * q56/q57), plus edge semantics and the candidate-pair generator. */
class WinnowSpec extends SparkSpec {

  private def docs = Tables(spark, sfDir, "documents")

  /** The kernel's hash spec, restated independently for known-answer
    * checks: fold (h*131 + codepoint) mod 1e9+7 over a k-gram. */
  private def gramHash(s: String): Long =
    s.codePoints().toArray.foldLeft(0L)((h, c) => (h * 131 + c) % 1000000007L)

  test("WinnowFingerprints kernel matches the staged-HOF reference on documents") {
    val native = docs.select(col("doc_id"),
      TextAnalysis.winnowFingerprints(col("text")).as("fps"))
    val hof = TextAnalysis.winnowFingerprintsHof(docs, col("text"))
      .select(col("doc_id"), col("fps"))
    assert(native.except(hof).isEmpty && hof.except(native).isEmpty)
  }

  test("edge cases: null, empty, shorter than k, exactly k, fewer grams than w") {
    import spark.implicits._
    val d = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "abcdefg"),   // 7 chars < k=8 -> no gram
      (4L, "abcdefgh"),  // exactly one gram -> one fingerprint
      (5L, "abcdefghi")  // 2 grams < w=4 -> single tail window, min of both
    ).toDF("id", "text")
    val got = d.select(col("id"),
        TextAnalysis.winnowFingerprints(col("text")).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) === Seq.empty)
    assert(got(2L) === Seq.empty)
    assert(got(3L) === Seq.empty)
    assert(got(4L) === Seq(gramHash("abcdefgh")))
    assert(got(5L) === Seq(math.min(gramHash("abcdefgh"), gramHash("bcdefghi"))))
  }

  test("fingerprints are invariant under case and whitespace runs") {
    import spark.implicits._
    val d = Seq(
      (1L, "The Quick   Brown Fox"),
      (2L, "  the quick brown fox ")
    ).toDF("id", "text")
    val fps = d.select(TextAnalysis.winnowFingerprints(col("text")).as("fps"))
      .as[Seq[Long]].collect()
    assert(fps(0) === fps(1))
  }

  test("winnow_fps resolves in SQL with literal k/w; wrong arity fails cleanly") {
    val r = spark.sql(
      "SELECT winnow_fps('abcdefgh', 8, 4) AS fps").collect()(0).getSeq[Long](0)
    assert(r === Seq(gramHash("abcdefgh")))
    val e = intercept[Exception](spark.sql("SELECT winnow_fps('x')").collect())
    assert(e.getMessage.contains("winnow_fps"))
  }

  test("winnowingCandidates pairs docs sharing verbatim runs, not unrelated docs") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog every single day"),
      (3L, "completely unrelated text with zero common substrings whatsoever")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowingCandidates(d, "doc_id", col("text"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    assert(pairs.head._3 >= 2) // shares the whole common prefix's windows
  }

  test("winnowingCandidates drops stopword fingerprints above maxDocFreq") {
    import spark.implicits._
    val boiler = "identical boilerplate sentence shared by every document here"
    val d = (1L to 12L).map(i => (i, boiler)).toDF("doc_id", "text")
    // every fingerprint appears in all 12 docs -> df-filtered at 10 -> no pairs
    assert(Dedup.winnowingCandidates(d, "doc_id", col("text")).isEmpty)
    // raising the cap to cover the corpus brings all 66 pairs back
    assert(Dedup.winnowingCandidates(d, "doc_id", col("text"), maxDocFreq = 12)
      .count() === 66L)
  }
}
