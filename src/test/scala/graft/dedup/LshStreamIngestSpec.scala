package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.layout.LayoutTxn

/** Exactly-once STREAMING near-dup ingest (⊕K8 × ⊕J25, q200): each
  * micro-batch's index append and candidate-pair delivery share ONE
  * LayoutTxn commit keyed by the batchId. Pinned here: atomic two-group
  * commit, whole-batch replay skip (the crash-after-commit window), the
  * batchId staying monotone across interleaved non-stream commits, and
  * the end-to-end file-stream run against a restart on the same
  * checkpoint. */
class LshStreamIngestSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val corpus = docsOf(
    1L -> "alpha beta gamma delta epsilon zeta",
    2L -> "alpha beta gamma delta epsilon eta",
    3L -> "one two three four five six seven")

  test("per-batch commits are atomic (index + pairs); a replayed batch skips WHOLE") {
    val dir = Files.createTempDirectory("lsh_si").toString + "/idx"
    Dedup.writeLshIndex(corpus, "doc_id", col("text"), dir, partitions = 8)
    val d0 = docsOf(10L -> "alpha beta gamma delta epsilon theta")
    val d1 = docsOf(20L -> "alpha beta gamma delta epsilon iota")
    Dedup.Lsh().ingestBatch(spark, dir, d0, "doc_id", col("text"), batchId = 0L)
    Dedup.Lsh().ingestBatch(spark, dir, d1, "doc_id", col("text"), batchId = 1L)
    val pairs = Dedup.ingestPairs(spark, dir)
      .as[(Int, Long, Long)].collect().toSet
    // batch 0 collides with its corpus clones; batch 1 additionally sees
    // batch 0's doc (ingests compose through the shared index)
    assert(pairs.exists { case (b, _, n) => b == 0 && n == 10L })
    assert(pairs.contains((1, 10L, 20L)),
      s"batch 1 must see batch 0's near-dup: $pairs")
    assert(LayoutTxn.lastBatchId(dir) === 1L)
    val v = LayoutTxn.currentVersion(dir)
    val idxRows = LayoutTxn.readLayout(spark, dir, "", "lb").count()
    // the crash-after-commit window: the stream restarts and re-delivers
    // batch 1 — the sink must skip it WHOLE (no duplicate band rows, no
    // duplicate pairs, no new version)
    Dedup.Lsh().ingestBatch(spark, dir, d1, "doc_id", col("text"), batchId = 1L)
    assert(LayoutTxn.currentVersion(dir) === v)
    assert(LayoutTxn.readLayout(spark, dir, "", "lb").count() === idxRows)
    assert(Dedup.ingestPairs(spark, dir)
      .as[(Int, Long, Long)].collect().toSet === pairs)
  }

  test("a batch whose commit CRASHED between claim and publish replays exactly-once") {
    val dir = Files.createTempDirectory("lsh_cw").toString + "/idx"
    Dedup.writeLshIndex(corpus, "doc_id", col("text"), dir, partitions = 8)
    val d0 = docsOf(10L -> "alpha beta gamma delta epsilon theta")
    val d1 = docsOf(20L -> "alpha beta gamma delta epsilon iota")
    Dedup.Lsh().ingestBatch(spark, dir, d0, "doc_id", col("text"), batchId = 0L)
    val prior = graft.layout.TxnCrashTestOps.saveVersionFile(dir)
    Dedup.Lsh().ingestBatch(spark, dir, d1, "doc_id", col("text"), batchId = 1L)
    val wantV = LayoutTxn.currentVersion(dir)
    val wantRows = LayoutTxn.readLayout(spark, dir, "", "lb").count()
    val wantPairs = Dedup.ingestPairs(spark, dir)
      .as[(Int, Long, Long)].collect().toSet
    // crash window: batch 1's commit is CLAIMED but not PUBLISHED — the
    // published state still reads batchId 0, so the pre-begin() guard is
    // blind to it (ADVICE r16 high). The replay's begin() rolls the claim
    // forward; the post-begin() guard must then skip the batch WHOLE
    // instead of re-committing it on top of its own rolled-forward rows.
    graft.layout.TxnCrashTestOps.unpublishLast(dir, prior)
    assert(LayoutTxn.lastBatchId(dir) === 0L,
      "crash state: the claim must be invisible to the published batchId")
    Dedup.Lsh().ingestBatch(spark, dir, d1, "doc_id", col("text"), batchId = 1L)
    assert(LayoutTxn.currentVersion(dir) === wantV, "no extra version")
    assert(LayoutTxn.readLayout(spark, dir, "", "lb").count() === wantRows,
      "no duplicate band rows")
    assert(Dedup.ingestPairs(spark, dir)
      .as[(Int, Long, Long)].collect().toSet === wantPairs,
      "no duplicate or self-colliding pairs")
  }

  test("an interleaved NON-stream upsert never lowers the recorded batchId") {
    val dir = Files.createTempDirectory("lsh_si2").toString + "/idx"
    Dedup.writeLshIndex(corpus, "doc_id", col("text"), dir, partitions = 8)
    Dedup.Lsh().ingestBatch(spark, dir,
      docsOf(10L -> "alpha beta gamma delta epsilon theta"),
      "doc_id", col("text"), batchId = 3L)
    // a batch-API upsert (no batchId) commits between micro-batches
    Dedup.Lsh().upsert(spark, dir,
      docsOf(30L -> "totally different words here now folks"),
      "doc_id", col("text"))
    assert(LayoutTxn.lastBatchId(dir) === 3L,
      "the non-stream commit must carry the batchId forward")
    val pairsBefore = Dedup.ingestPairs(spark, dir).count()
    Dedup.Lsh().ingestBatch(spark, dir,
      docsOf(10L -> "alpha beta gamma delta epsilon theta"),
      "doc_id", col("text"), batchId = 2L) // stale replay
    assert(Dedup.ingestPairs(spark, dir).count() === pairsBefore)
  }

  test("end-to-end file stream: two micro-batches, then a restart on the same checkpoint re-delivers nothing") {
    val root = Files.createTempDirectory("lsh_si3").toString
    val dir = s"$root/idx"
    Dedup.writeLshIndex(corpus, "doc_id", col("text"), dir, partitions = 8)
    val files = new java.io.File(s"$root/files"); files.mkdirs()
    Seq(
      docsOf(10L -> "alpha beta gamma delta epsilon theta"),
      docsOf(20L -> "alpha beta gamma delta epsilon iota")
    ).zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$root/tmp$i"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(files, s"b$i.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    val ck = s"$root/ck"
    graft.streaming.EventStreams.fileIngestStream(spark, files.toString,
      Dedup.Lsh().ingestSink(dir, "doc_id", col("text")),
      checkpoint = Some(ck))
    val pairs = Dedup.ingestPairs(spark, dir)
      .as[(Int, Long, Long)].collect().toSet
    assert(pairs.nonEmpty && pairs.contains((1, 10L, 20L)))
    val v = LayoutTxn.currentVersion(dir)
    // restart on the SAME checkpoint with no new files: nothing re-delivers
    graft.streaming.EventStreams.fileIngestStream(spark, files.toString,
      Dedup.Lsh().ingestSink(dir, "doc_id", col("text")),
      checkpoint = Some(ck))
    assert(LayoutTxn.currentVersion(dir) === v)
    assert(Dedup.ingestPairs(spark, dir)
      .as[(Int, Long, Long)].collect().toSet === pairs)
  }
}
