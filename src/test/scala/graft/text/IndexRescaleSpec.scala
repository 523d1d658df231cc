package graft.text

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.layout.LayoutTxn

/** [[TextAnalysis.indexRescaleLayout]] (r18 — VERDICT r17 task 3, the
  * REBUCKET analogue at the index tier): re-hash a live inverted-index
  * layout to a new bucket count without touching the corpus. Pins:
  * rescaled ≡ rebuilt-at-new-count (postings AND doc store, sentinels
  * included), searches resolve the new count from the layout itself,
  * maintenance composes across the rescale, batchId/replay protection
  * survives, and an explicit stale caller count is refused loudly. */
class IndexRescaleSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma alpha"),
    (2L, "beta gamma delta"),
    (3L, "alpha delta epsilon zeta"),
    (4L, ""),                       // term-less: sentinel row, len 0
    (5L, null.asInstanceOf[String]), // null text: sentinel, len NULL
    (6L, "gamma gamma gamma zeta")
  ).toDF("doc_id", "text")

  private def freshIndex(tag: String, buckets: Int): String = {
    val dir = Files.createTempDirectory(s"irsc_$tag").toString + "/idx"
    TextAnalysis.writeIndexLayout(docs, "doc_id", col("text"), dir, buckets)
    dir
  }

  // LOGICAL reads (r20): the stored rows with pending delete tombstones
  // applied — identical to the raw read on a tombstone-free layout, and
  // the surface every search/maintenance observes on one with deletes
  private def postings(dir: String): Set[(String, Long, Long, Long, Long)] =
    TextAnalysis.readIndexPostings(spark, dir)
      .select(col("term"), col("df"), explode(col("postings")).as("p"),
        col("tb"))
      .select(col("term"), col("df").cast("long"), col("p.doc_id"),
        col("p.tf").cast("long"), col("tb").cast("long"))
      .as[(String, Long, Long, Long, Long)].collect().toSet

  private def docStore(dir: String): Set[(Long, Long, Option[Long], Long)] =
    TextAnalysis.readIndexDocStore(spark, dir)
      .select(col("doc_id"), col("tb").cast("long"), col("len").cast("long"),
        col("dm").cast("long"))
      .as[(Long, Long, Option[Long], Long)].collect().toSet

  test("rescaled index ≡ one rebuilt at the new count, sentinels carried") {
    val dir = freshIndex("eq", 4)
    TextAnalysis.indexRescaleLayout(spark, dir, 7)
    val rebuilt = freshIndex("eq_rebuilt", 7)
    assert(postings(dir) === postings(rebuilt),
      "postings (incl. tb assignment) must equal a fresh 7-bucket build")
    assert(docStore(dir) === docStore(rebuilt),
      "doc store (incl. term-less/null sentinels) must equal a fresh build")
    assert(TextAnalysis.persistedIndexBuckets(dir) === Some(7))
    // searches resolve the new count from the layout itself — no caller
    // count — and agree with the pre-rescale semantics
    val got = TextAnalysis.searchIndexLayout(spark, dir, Seq("alpha", "delta"))
      .orderBy(col("doc_id")).as[(Long, Long)].collect().toSeq
    assert(got === Seq((3L, 2L)), s"conjunctive search after rescale: $got")
    val bmLayout = TextAnalysis.bm25SearchLayout(spark, dir, Seq("gamma"))
      .orderBy(col("doc_id")).as[(Long, Double)].collect().toSeq
    val bmRaw = TextAnalysis.bm25(docs, "doc_id", col("text"), Seq("gamma"))
      .orderBy(col("doc_id")).as[(Long, Double)].collect().toSeq
    assert(bmLayout === bmRaw,
      "layout BM25 (N/avg-len from the rescaled doc store) must equal raw")
  }

  test("maintenance composes across a rescale; count resolves post-begin") {
    val dir = freshIndex("maint", 4)
    // pre-rescale maintenance with a batchId
    TextAnalysis.indexApplyLayout(spark, dir,
      Seq((2L, "beta beta omega")).toDF("doc_id", "text"), None,
      "doc_id", col("text"), batchId = 3L)
    TextAnalysis.indexRescaleLayout(spark, dir, 9)
    assert(LayoutTxn.lastBatchId(dir) === 3L,
      "replay watermark must survive the rescale")
    // post-rescale upsert + delete, no caller count anywhere
    TextAnalysis.indexUpsertLayout(spark, dir,
      Seq((7L, "omega alpha")).toDF("doc_id", "text"), "doc_id", col("text"))
    TextAnalysis.indexDeleteLayout(spark, dir,
      Seq(Tuple1(3L)).toDF("doc_id"), "doc_id")
    // equivalent corpus rebuilt fresh at 9 buckets
    val finalDocs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta beta omega"),
      (4L, ""), (5L, null.asInstanceOf[String]),
      (6L, "gamma gamma gamma zeta"),
      (7L, "omega alpha")
    ).toDF("doc_id", "text")
    val rebuilt = Files.createTempDirectory("irsc_maint_rb").toString + "/idx"
    TextAnalysis.writeIndexLayout(finalDocs, "doc_id", col("text"), rebuilt, 9)
    assert(postings(dir) === postings(rebuilt))
    assert(docStore(dir) === docStore(rebuilt))
  }

  test("same-count rescale is a no-op; explicit stale caller count refused") {
    val dir = freshIndex("guard", 4)
    val v0 = LayoutTxn.currentVersion(dir)
    assert(TextAnalysis.indexRescaleLayout(spark, dir, 4) === v0)
    TextAnalysis.indexRescaleLayout(spark, dir, 8)
    // an explicit caller count from before the rescale must refuse, not
    // silently probe the wrong partitions
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.searchIndexLayout(spark, dir, Seq("alpha"), buckets = 4)
    }
    assert(e.getMessage.contains("buckets=8"))
  }

  test("a fragmented index folds via indexCompactLayout with contents intact") {
    val dir = freshIndex("fold", 4)
    // three disjoint-ish maintenance commits fragment ownership
    TextAnalysis.indexUpsertLayout(spark, dir,
      Seq((10L, "alpha kappa")).toDF("doc_id", "text"), "doc_id", col("text"))
    TextAnalysis.indexUpsertLayout(spark, dir,
      Seq((11L, "lambda mu")).toDF("doc_id", "text"), "doc_id", col("text"))
    TextAnalysis.indexDeleteLayout(spark, dir,
      Seq(Tuple1(2L)).toDF("doc_id"), "doc_id")
    assert(LayoutTxn.ownerCount(dir) > 1)
    val p0 = postings(dir); val d0 = docStore(dir)
    TextAnalysis.indexCompactLayout(spark, dir, maxOwners = 1,
      txnGraceMs = 0L)
    assert(LayoutTxn.ownerCount(dir) === 1)
    assert(postings(dir) === p0 && docStore(dir) === d0)
    // and searches still prune/answer identically
    val got = TextAnalysis.searchIndexLayout(spark, dir, Seq("alpha"))
      .orderBy(col("doc_id")).as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L), (3L, 1L), (10L, 1L)))
  }
}
