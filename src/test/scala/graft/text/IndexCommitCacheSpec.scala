package graft.text

import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{JobCounter, SparkSpec}
import graft.layout.LayoutTxn

/** Per-commit memos of the index read path (the tombstone view and
  * BM25's N/avg-length) are keyed by the commit id, so they survive
  * repeated searches of one snapshot and never outlive the commit. */
class IndexCommitCacheSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    1L -> "alpha beta gamma", 2L -> "alpha beta", 3L -> "alpha delta",
    4L -> "beta gamma delta", 5L -> "alpha gamma", 6L -> "alpha beta delta")
  private def docs = corpus.toDF("doc_id", "text")
  private def ids(xs: Long*) = xs.toDF("doc_id")

  private def newDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/idx"

  private def hits(dir: String, terms: String*): Set[Long] =
    TextAnalysis.bm25SearchLayout(spark, dir, terms)
      .select("doc_id").as[Long].collect().toSet

  test("rebuild in place then delete: a search never serves the previous build's tombstones") {
    val dir = newDir("idx_rebuild")
    TextAnalysis.writeIndexLayout(docs, "doc_id", col("text"), dir, 4)
    TextAnalysis.indexDeleteLayout(spark, dir, ids(1L), "doc_id")
    assert(hits(dir, "alpha") === Set(2L, 3L, 5L, 6L))
    // the rebuild is the next commit; this delete commits right after it
    TextAnalysis.writeIndexLayout(docs, "doc_id", col("text"), dir, 4)
    val rebuilt = LayoutTxn.currentVersion(dir)
    TextAnalysis.indexDeleteLayout(spark, dir, ids(2L), "doc_id")
    assert(LayoutTxn.currentVersion(dir) === rebuilt + 1)
    assert(hits(dir, "alpha") === Set(1L, 3L, 5L, 6L))
  }

  test("a repeated bm25SearchLayout on an unchanged snapshot plans with zero Spark jobs") {
    val terms = Seq("alpha", "delta")
    def trunc(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), (floor(col("bm25") * 1e6) / 1e6).as("s"))
        .orderBy("doc_id").collect().toSeq
    def warmSearch(dir: String, live: org.apache.spark.sql.DataFrame)
        : Unit = {
      val first = TextAnalysis.bm25SearchLayout(spark, dir, terms)
        .orderBy("doc_id").collect().toSeq
      val (again, jobs) = JobCounter.during(spark)(
        TextAnalysis.bm25SearchLayout(spark, dir, terms))
      assert(jobs === 0, s"a warm search of $dir planned with Spark jobs")
      assert(again.orderBy("doc_id").collect().toSeq === first)
      assert(trunc(again) ===
        trunc(TextAnalysis.bm25(live, "doc_id", col("text"), terms)))
    }
    // a build alone: every owner is a commit with a recorded schema
    val built = newDir("idx_zero_jobs_build")
    TextAnalysis.writeIndexLayout(docs, "doc_id", col("text"), built, 4)
    warmSearch(built, docs)
    val dir = newDir("idx_zero_jobs")
    TextAnalysis.writeIndexLayout(docs, "doc_id", col("text"), dir, 4)
    // the rescale rewrites every partition, the delete leaves a pending
    // tombstone
    TextAnalysis.indexRescaleLayout(spark, dir, 2)
    TextAnalysis.indexDeleteLayout(spark, dir, ids(6L), "doc_id")
    warmSearch(dir, docs.filter(col("doc_id") =!= 6L))
    // a new commit is a new key: the deletion shows in N and the hits
    TextAnalysis.indexDeleteLayout(spark, dir, ids(3L), "doc_id")
    val after = TextAnalysis.bm25SearchLayout(spark, dir, terms)
    assert(trunc(after) === trunc(TextAnalysis.bm25(
      docs.filter(!col("doc_id").isin(3L, 6L)), "doc_id", col("text"), terms)))
  }

  test("after indexRescaleLayout the version file holds schema entries for live owners only") {
    val dir = newDir("idx_rescale_owners")
    TextAnalysis.writeIndexLayout(docs, "doc_id", col("text"), dir, 4)
    TextAnalysis.indexUpsertLayout(spark, dir,
      Seq(7L -> "gamma epsilon").toDF("doc_id", "text"), "doc_id", col("text"))
    TextAnalysis.indexDeleteLayout(spark, dir, ids(2L), "doc_id")
    TextAnalysis.indexRescaleLayout(spark, dir, 3)
    val pr = new Properties()
    val in = Files.newInputStream(Paths.get(dir, "_layout_version"))
    try pr.load(in) finally in.close()
    val rx = """sub\.(\d+)\.owner\.(\d+)""".r
    val keys = pr.stringPropertyNames().asScala.collect { case rx(i, v) =>
      (pr.getProperty(s"sub.$i.name"), v.toLong)
    }.toSet
    // the rescale owns every postings and doc-store partition; the
    // emptied tombstone sub owns none
    val v = LayoutTxn.currentVersion(dir)
    assert(keys === Set("" -> v, "_docmap" -> v))
    assert(LayoutTxn.snapshot(dir).ownerSchemas.keySet === keys)
    assert(hits(dir, "gamma") === Set(1L, 4L, 5L, 7L))
  }
}
