package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Tables
import graft.text.TextAnalysis

class CanaryHitsSpec extends SparkSpec {
  import spark.implicits._

  private val canaries = Seq("table table key", "scan slow fast",
    "agg join small", "value fast merge", "join scan value", "key small slow")

  test("canaryScanAC is row-identical to the per-pattern contains/replace/locate form") {
    val docs = Tables.documents(spark, sfDir)
    val ac = TextAnalysis.canaryScanAC(docs, "doc_id", col("text"), canaries)
      .collect().map(_.toSeq).toSet
    val ref = TextAnalysis.canaryScan(docs, "doc_id", col("text"), canaries)
      .collect().map(_.toSeq).toSet
    assert(ac === ref)
    assert(ac.nonEmpty, "fixture should contain at least one canary hit")
  }

  test("non-overlapping count and first position match the replace/locate idiom exactly") {
    val rows = Seq(
      (1L, "aaaa"),            // "aa": replace-delta count = 2 (greedy), first_pos 1
      (2L, "xaax"),            // single interior hit
      (3L, "ababab"),          // "aba": overlapping → greedy count 1
      (4L, "no hits here"),
      (5L, "ab abc"),          // "ab" prefix of "abc": both patterns fire
      (6L, "日本ab語")          // multibyte before a hit: first_pos is code-point based
    ).toDF("doc_id", "text")
    val pats = Seq("aa", "aba", "ab", "abc")
    val ac = TextAnalysis.canaryScanAC(rows, "doc_id", col("text"), pats)
      .collect().map(_.toSeq).toSet
    val ref = TextAnalysis.canaryScan(rows, "doc_id", col("text"), pats)
      .collect().map(_.toSeq).toSet
    assert(ac === ref)
    // spot-check the tricky rows against hand computation
    val byKey = ac.map(s => (s(0), s(1)) -> (s(2), s(3))).toMap
    assert(byKey((1L, "aa")) === ((2L, 1L)))   // greedy non-overlap, 1-based pos
    assert(byKey((3L, "aba")) === ((1L, 1L)))  // overlap collapses to 1
    assert(byKey((6L, "ab")) === ((1L, 3L)))   // code points, not UTF-16/bytes
  }

  test("randomized parity against the DataFrame formulation") {
    val alphabet = "abc "
    val rnd = new scala.util.Random(42)
    val pats = Seq("ab", "bca", "aa", "c c")
    val rows = (1L to 300L).map { i =>
      (i, Seq.fill(30)(alphabet(rnd.nextInt(alphabet.length))).mkString)
    }.toDF("doc_id", "text")
    val ac = TextAnalysis.canaryScanAC(rows, "doc_id", col("text"), pats)
      .collect().map(_.toSeq).toSet
    val ref = TextAnalysis.canaryScan(rows, "doc_id", col("text"), pats)
      .collect().map(_.toSeq).toSet
    assert(ac === ref)
  }

  test("SQL registration: canary_hits over a foldable array literal") {
    Tables.documents(spark, sfDir).limit(50).createOrReplaceTempView("__ch_docs")
    val out = spark.sql(
      """SELECT doc_id, h.idx, h.n_hits, h.first_pos
        |FROM __ch_docs LATERAL VIEW explode(
        |  canary_hits(text, array('table table key', 'scan slow fast'))) AS h
        |""".stripMargin).collect()
    val ref = TextAnalysis.canaryScanAC(
        Tables.documents(spark, sfDir).limit(50), "doc_id", col("text"),
        Seq("table table key", "scan slow fast"))
      .count()
    assert(out.length.toLong === ref)
    // non-foldable pattern arg fails with the registration's message
    val e = intercept[Exception](spark.sql(
      "SELECT canary_hits(text, array(text)) FROM __ch_docs").collect())
    assert(e.getMessage.contains("foldable"))
  }

  test("null text yields null; empty pattern list is rejected") {
    val rows = Seq((1L, "some text"), (2L, null)).toDF("doc_id", "text")
    val out = rows.select(CanaryHits.canaryHits(col("text"), Seq("some")).as("h"))
      .collect()
    assert(out.exists(_.isNullAt(0)))
    intercept[IllegalArgumentException](
      TextAnalysis.canaryScanAC(rows, "doc_id", col("text"), Nil))
  }

  test("plan stays one scan-stage projection (no join, no exchange)") {
    val docs = Tables.documents(spark, sfDir)
    val plan = TextAnalysis.canaryScanAC(docs, "doc_id", col("text"), canaries)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }
}
