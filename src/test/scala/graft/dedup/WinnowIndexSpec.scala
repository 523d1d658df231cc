package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.layout.LayoutTxn

/** The at-rest winnowing index (contained-copy ingest — the ⊕J25 pattern
  * at the fingerprint tier): probe pairs equal the cross-split slice of
  * the batch algebra, only the batch's fb= partitions rewrite, ingests
  * compose. q193 oracle-checks the pairs end-to-end. */
class WinnowIndexSpec extends SparkSpec {
  import spark.implicits._

  // doc 10 CONTAINS a long run copied from doc 1 inside otherwise-new
  // text — the contained-copy shape whole-doc Jaccard dilutes
  private val shared =
    "the quick brown fox jumps over the lazy dog again and again today"
  private val corpus = Seq(
    1L -> s"$shared plus some trailing context of its own here",
    2L -> "completely different content about databases and indexes",
    3L -> "yet another unrelated document concerning weather patterns")
    .toDF("doc_id", "text")

  test("probe pairs equal the cross-split slice of winnowingCandidates; only the batch's partitions rewrite; ingests compose") {
    val dir = Files.createTempDirectory("winnow_idx").toString + "/idx"
    Dedup.writeWinnowIndex(corpus, "doc_id", col("text"), dir, partitions = 8)
    val v0 = LayoutTxn.currentVersion(dir)
    val delta = Seq(
      10L -> s"brand new prose surrounds $shared and continues differently",
      11L -> "nothing in common with anything previously indexed at all")
      .toDF("doc_id", "text")
    val got = Dedup.Winnow().upsert(spark, dir, delta, "doc_id", col("text"))
      .as[(Long, Long, Long)].collect().toSet
    // ground truth: the batch algebra over the FULL corpus, restricted to
    // corpus×batch pairs (normalized to (corpus, batch) order)
    val full: Set[(Long, Long, Long)] =
      Dedup.winnowingCandidates(corpus.unionByName(delta),
          "doc_id", col("text"))
        .as[(Long, Long, Long)].collect().toSet
    val want = full.collect {
      case (a, b, n) if a < 10L && b >= 10L => (a, b, n)
      case (a, b, n) if b < 10L && a >= 10L => (b, a, n)
    }
    assert(got === want, s"got $got want $want")
    assert(got.exists { case (a, b, _) => a == 1L && b == 10L },
      "the contained copy must collide with its source")
    // only the batch's fb= partitions repointed; the rest still in the
    // build's dir
    val after = LayoutTxn.resolve(dir, "").toMap
    val touched = after.filter(_._2.contains(s"_lv${v0 + 1}")).keySet
    assert(touched.nonEmpty && touched.forall(_.startsWith("fb=")))
    after.foreach { case (part, path) =>
      if (!touched.contains(part))
        assert(path.contains(s"_lv$v0/"), s"$part moved")
    }
    // compose: a second batch containing the same shared run finds BOTH
    // doc 1 (original corpus) and doc 10 (first ingest)
    val got2 = Dedup.Winnow().upsert(spark, dir,
        Seq(20L -> s"another wrapper around $shared with fresh words")
          .toDF("doc_id", "text"), "doc_id", col("text"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got2.map(t => (t._1, t._2)).intersect(Set((1L, 20L), (10L, 20L)))
      === Set((1L, 20L), (10L, 20L)), s"second ingest pairs: $got2")
    assert(LayoutTxn.currentVersion(dir) === v0 + 2)
  }
}
