package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.layout.LayoutTxn

/** RESCALE for the three at-rest dedup ingest indexes (r18 — VERDICT r17
  * task 3): re-hash a live index to a new partition count from its OWN
  * stored columns (the corpus is never re-read). Pinned here, per index
  * type: rescaled ≡ rebuilt-at-new-count (index rows AND `_docmap`
  * reverse map), post-rescale probes/ingests/deletes resolve the new
  * count from the layout itself and agree with the rebuilt index,
  * same-count rescale is a no-op, and
  * compaction folds a fragmented index with contents intact. */
class DedupIndexRescaleSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val corpus = docsOf(
    1L -> "alpha beta gamma delta epsilon zeta eta theta",
    2L -> "alpha beta gamma delta epsilon zeta eta iota",
    3L -> "one two three four five six seven eight nine",
    4L -> "one two three four five six seven eight ten",
    5L -> "completely different words live in this doc here")
  private val batch = docsOf(
    100L -> "alpha beta gamma delta epsilon zeta eta lambda",
    101L -> "one two three four five six seven eight eleven")
  private val victims = docsOf(
    2L -> "alpha beta gamma delta epsilon zeta eta iota")

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"dd_rsc_$tag").toString + "/idx"

  test("LSH: rescale == rebuild at the new count; probe/delete run at the new hash") {
    val a = fresh("lsh_a"); val b = fresh("lsh_b")
    Dedup.writeLshIndex(corpus, "doc_id", col("text"), a, partitions = 8)
    Dedup.Lsh().rescale(spark, a, "doc_id", 5)
    Dedup.writeLshIndex(corpus, "doc_id", col("text"), b, partitions = 5)
    def rows(d: String) = LayoutTxn.readLayout(spark, d, "", "lb")
      .select(col("doc_id"), col("band"), col("bucket"), col("lb"))
      .as[(Long, Int, String, Int)].collect().toSet
    assert(rows(a) === rows(b), "index rows incl. lb must match a 5-part build")
    def dm(d: String) = LayoutTxn.readLayout(spark, d, "_docmap", "dm")
      .select(col("doc_id"), col("pb"), col("dm"))
      .as[(Long, Int, Int)].collect().toSet
    assert(dm(a) === dm(b), "reverse map incl. dm must match a 5-part build")
    assert(LayoutTxn.currentProps(a).get("partitions") === Some("5"))
    // post-rescale ingest probes the NEW partitions and agrees with the
    // rebuilt index's probe
    def pairs(d: String) = Dedup.Lsh().upsert(spark, d, batch,
      "doc_id", col("text")).as[(Long, Long)].collect().toSet
    val pa = pairs(a)
    assert(pa === pairs(b) && pa.nonEmpty)
    // post-rescale delete locates rows under the re-hashed dm partitions
    // (the silent-delete-nothing hazard the post-begin resolution closes)
    assert(Dedup.Lsh().delete(spark, a,
      victims.select("doc_id"), "doc_id").nonEmpty)
    assert(LayoutTxn.readLayout(spark, a, "", "lb")
      .filter(col("doc_id") === 2L).count() === 0L)
    // same-count rescale: no commit
    val v = LayoutTxn.currentVersion(a)
    assert(Dedup.Lsh().rescale(spark, a, "doc_id", 5) === v)
  }

  test("winnow: rescale == rebuild; df-cap exactness preserved at the new count") {
    val a = fresh("win_a"); val b = fresh("win_b")
    Dedup.writeWinnowIndex(corpus, "doc_id", col("text"), a, partitions = 8)
    Dedup.Winnow().rescale(spark, a, "doc_id", 3)
    Dedup.writeWinnowIndex(corpus, "doc_id", col("text"), b, partitions = 3)
    def rows(d: String) = LayoutTxn.readLayout(spark, d, "", "fb")
      .select(col("doc_id"), col("fp"), col("fb"))
      .as[(Long, Long, Int)].collect().toSet
    assert(rows(a) === rows(b))
    def pairs(d: String) = Dedup.Winnow().upsert(spark, d, batch,
        "doc_id", col("text"))
      .select(col("a"), col("b"), col("n_shared"))
      .as[(Long, Long, Long)].collect().toSet
    val pa = pairs(a)
    assert(pa === pairs(b) && pa.nonEmpty)
    assert(Dedup.Winnow().delete(spark, a,
      victims.select("doc_id"), "doc_id").nonEmpty)
    assert(LayoutTxn.readLayout(spark, a, "", "fb")
      .filter(col("doc_id") === 2L).count() === 0L)
  }

  test("simhash: rescale == rebuild; pigeonhole probe intact at the new count") {
    val a = fresh("sim_a"); val b = fresh("sim_b")
    Dedup.writeSimhashIndex(corpus, "doc_id", col("text"), a, partitions = 8)
    Dedup.Simhash.rescale(spark, a, "doc_id", 6)
    Dedup.writeSimhashIndex(corpus, "doc_id", col("text"), b, partitions = 6)
    def rows(d: String) = LayoutTxn.readLayout(spark, d, "", "sb")
      .select(col("doc_id"), col("sh"), col("band"), col("bval"), col("sb"))
      .as[(Long, String, Int, String, Int)].collect().toSet
    assert(rows(a) === rows(b))
    def pairs(d: String) = Dedup.Simhash.upsert(spark, d, batch,
        "doc_id", col("text"))
      .select(col("a"), col("b"), col("dist"))
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs(a) === pairs(b))
    assert(Dedup.Simhash.delete(spark, a,
      victims.select("doc_id"), "doc_id").nonEmpty)
    assert(LayoutTxn.readLayout(spark, a, "", "sb")
      .filter(col("doc_id") === 2L).count() === 0L)
  }

  test("streaming ingest watermark survives a rescale; compaction folds a fragmented index") {
    val d = fresh("lsh_stream")
    Dedup.writeLshIndex(corpus, "doc_id", col("text"), d, partitions = 8)
    Dedup.Lsh().ingestBatch(spark, d, batch, "doc_id", col("text"), batchId = 0L)
    Dedup.Lsh().rescale(spark, d, "doc_id", 4)
    assert(LayoutTxn.lastBatchId(d) === 0L,
      "replay watermark must survive the rescale")
    // a replayed batch 0 is still skipped WHOLE after the rescale
    val n0 = LayoutTxn.readLayout(spark, d, "", "lb").count()
    Dedup.Lsh().ingestBatch(spark, d, batch, "doc_id", col("text"), batchId = 0L)
    assert(LayoutTxn.readLayout(spark, d, "", "lb").count() === n0)
    // fresh batches land under the new count; fragmentation then folds
    Dedup.Lsh().ingestBatch(spark, d,
      docsOf(200L -> "alpha beta gamma delta epsilon zeta eta mu"),
      "doc_id", col("text"), batchId = 1L)
    Dedup.Lsh().ingestBatch(spark, d,
      docsOf(201L -> "one two three four five six seven eight twelve"),
      "doc_id", col("text"), batchId = 2L)
    assert(LayoutTxn.ownerCount(d) > 1)
    val rows0 = LayoutTxn.readLayout(spark, d, "", "lb")
      .select(col("doc_id"), col("band"), col("bucket"))
      .as[(Long, Int, String)].collect().toSet
    val pairs0 = Dedup.ingestPairs(spark, d)
      .select(col("batch"), col("a"), col("b"))
      .as[(Long, Long, Long)].collect().toSet
    Dedup.Lsh().compact(spark, d, "doc_id", maxOwners = 1, txnGraceMs = 0L)
    assert(LayoutTxn.ownerCount(d) === 1)
    assert(LayoutTxn.readLayout(spark, d, "", "lb")
      .select(col("doc_id"), col("band"), col("bucket"))
      .as[(Long, Int, String)].collect().toSet === rows0)
    assert(Dedup.ingestPairs(spark, d)
      .select(col("batch"), col("a"), col("b"))
      .as[(Long, Long, Long)].collect().toSet === pairs0)
    assert(LayoutTxn.lastBatchId(d) === 2L)
    assert(LayoutTxn.currentProps(d).get("partitions") === Some("4"))
  }
}
