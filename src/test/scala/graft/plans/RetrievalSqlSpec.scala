package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.text.TextAnalysis

/** The SQL front door for the RETRIEVAL tier (r18 — VERDICT r17 task 7):
  * `graft_search(dir, query)` / `graft_bm25(dir, query, k)` TVFs injected
  * by [[graft.GraftExtensions]] must equal the Scala-API searches they
  * wrap, resolve the bucket count from the layout's own commit, cut
  * the BM25 top-k deterministically, and refuse malformed arguments at
  * analysis time. */
class RetrievalSqlSpec extends SparkSpec {
  import spark.implicits._

  // a tiny corpus with well-separated BM25 scores for the 'cat' query:
  // doc 1 is short and cat-heavy, doc 2 longer, doc 3 cat-less
  private val docs = Seq(
    (1L, "cat cat dog"),
    (2L, "cat fish fish fish fish fish fish"),
    (3L, "dog bird fish"),
    (4L, "cat dog bird")
  ).toDF("doc_id", "text")

  private def freshIndex(tag: String, buckets: Int): String = {
    val dir = Files.createTempDirectory(s"rsql_$tag").toString + "/idx"
    TextAnalysis.writeIndexLayout(docs, "doc_id", col("text"), dir, buckets)
    dir
  }

  test("graft_search equals searchIndexLayout, bucket count from _idx_meta") {
    // a NON-default bucket count: the SQL caller never states it — the
    // TVF must read the layout's own count (a wrong count would silently
    // find nothing)
    val dir = freshIndex("search", buckets = 5)
    assert(TextAnalysis.persistedIndexBuckets(dir) === Some(5))
    val sql = spark.sql(
        s"SELECT doc_id, score FROM graft_search('$dir', 'cat dog') ORDER BY doc_id")
      .as[(Long, Long)].collect().toSeq
    val api = TextAnalysis.searchIndexLayout(spark, dir, Seq("cat", "dog"), 5)
      .orderBy(col("doc_id")).as[(Long, Long)].collect().toSeq
    assert(sql === api)
    // conjunctive: docs 1 (tf 2+1) and 4 (tf 1+1) contain BOTH terms
    assert(sql === Seq((1L, 3L), (4L, 2L)))
  }

  test("graft_bm25 ranks like the Scala search and cuts top-k at the tie-break order") {
    val dir = freshIndex("bm25", buckets = 4)
    val full = TextAnalysis.bm25SearchLayout(spark, dir, Seq("cat"), 4)
      .orderBy(col("bm25").desc, col("doc_id"))
      .as[(Long, Double)].collect().toSeq
    assert(full.map(_._1).toSet === Set(1L, 2L, 4L))
    val top2 = spark.sql(
        s"SELECT doc_id, bm25 FROM graft_bm25('$dir', 'cat', 2)")
      .as[(Long, Double)].collect().toSeq
      .sortBy { case (id, s) => (-s, id) }
    assert(top2 === full.take(2))
    // k beyond every match returns the whole ranked set
    val all = spark.sql(
        s"SELECT doc_id, bm25 FROM graft_bm25('$dir', 'cat', 100)")
      .as[(Long, Double)].collect().toSeq
      .sortBy { case (id, s) => (-s, id) }
    assert(all === full)
  }

  test("graft_bm25 plans a bounded top-k, not a global sort") {
    val dir = freshIndex("plan", buckets = 4)
    val plan = spark.sql(s"SELECT * FROM graft_bm25('$dir', 'cat', 2)")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("malformed arguments are refused at analysis time") {
    val dir = freshIndex("err", buckets = 4)
    def fails(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(e.getMessage.contains(frag) ||
        Option(e.getCause).exists(_.getMessage.contains(frag)), e.getMessage)
    }
    fails(s"SELECT * FROM graft_search('$dir')", "expects 2 arguments")
    fails(s"SELECT * FROM graft_search('$dir', '  ')", "at least one query term")
    fails(s"SELECT * FROM graft_bm25('$dir', 'cat', 0)", "k must be >= 1")
    fails(s"SELECT * FROM graft_bm25('$dir', 'cat', 1.5)",
      "must be an integer literal")
  }
}
