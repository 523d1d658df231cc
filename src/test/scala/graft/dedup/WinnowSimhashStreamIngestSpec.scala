package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.layout.LayoutTxn

/** Exactly-once STREAMING ingest at the fingerprint (⊕J26, q210) and
  * Hamming (⊕J27, q211) tiers — the q200 LSH discipline replayed: per
  * micro-batch, index rows + pair log + `_docmap` share ONE LayoutTxn CAS
  * keyed by the batchId. Pinned here: atomic multi-group commit,
  * whole-batch replay skip, the claim-without-publish crash window
  * (ADVICE r16 high — authoritative re-check after begin()), and the
  * end-to-end file-stream restart. */
class WinnowSimhashStreamIngestSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val corpus = docsOf(
    1L -> "alpha beta gamma delta epsilon zeta eta theta",
    2L -> "alpha beta gamma delta epsilon zeta eta iota",
    3L -> "one two three four five six seven eight nine")

  test("winnow: replayed batch skips whole, incl. the claim-without-publish crash window") {
    val dir = Files.createTempDirectory("win_si").toString + "/idx"
    Dedup.writeWinnowIndex(corpus, "doc_id", col("text"), dir, partitions = 8)
    val d0 = docsOf(10L -> "alpha beta gamma delta epsilon zeta eta kappa")
    val d1 = docsOf(20L -> "alpha beta gamma delta epsilon zeta eta lambda")
    val win = Dedup.Winnow(minShared = 1)
    win.ingestBatch(spark, dir, d0, "doc_id", col("text"),
      batchId = 0L)
    val prior = graft.layout.TxnCrashTestOps.saveVersionFile(dir)
    win.ingestBatch(spark, dir, d1, "doc_id", col("text"),
      batchId = 1L)
    val wantV = LayoutTxn.currentVersion(dir)
    val wantRows = LayoutTxn.readLayout(spark, dir, "", "fb").count()
    val wantPairs = Dedup.ingestPairs(spark, dir)
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(wantPairs.exists { case (b, a, n, _) => b == 1 && n == 20L },
      s"batch 1 must deliver pairs: $wantPairs")
    // plain replay (crash after publish)
    win.ingestBatch(spark, dir, d1, "doc_id", col("text"),
      batchId = 1L)
    assert(LayoutTxn.currentVersion(dir) === wantV)
    // claim-without-publish window (crash between CAS and publish)
    graft.layout.TxnCrashTestOps.unpublishLast(dir, prior)
    assert(LayoutTxn.lastBatchId(dir) === 0L)
    win.ingestBatch(spark, dir, d1, "doc_id", col("text"),
      batchId = 1L)
    assert(LayoutTxn.currentVersion(dir) === wantV, "no extra version")
    assert(LayoutTxn.readLayout(spark, dir, "", "fb").count() === wantRows,
      "no duplicate fingerprint rows")
    assert(Dedup.ingestPairs(spark, dir)
      .as[(Int, Long, Long, Long)].collect().toSet === wantPairs)
    // the _docmap composed through the stream: the ingested docs delete
    Dedup.Winnow().delete(spark, dir,
      Seq(10L, 20L).toDF("doc_id"), "doc_id")
    assert(LayoutTxn.readLayout(spark, dir, "", "fb")
      .filter(col("doc_id").isin(10L, 20L)).count() === 0)
  }

  test("simhash: end-to-end file stream + restart re-delivers nothing; pairs are stage-ordered") {
    val root = Files.createTempDirectory("sh_si").toString
    val dir = s"$root/idx"
    Dedup.writeSimhashIndex(corpus, "doc_id", col("text"), dir,
      partitions = 8)
    val files = new java.io.File(s"$root/files"); files.mkdirs()
    Seq(
      docsOf(10L -> "alpha beta gamma delta epsilon zeta eta theta"),
      docsOf(20L -> "alpha beta gamma delta epsilon zeta eta theta x"))
      .zipWithIndex.foreach { case (df, i) =>
        val tmp = s"$root/tmp$i"
        df.coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(files, s"b$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + i * 60000L)
        ()
      }
    val ck = s"$root/ck"
    graft.streaming.EventStreams.fileIngestStream(spark, files.toString,
      Dedup.Simhash.ingestSink(dir, "doc_id", col("text")),
      checkpoint = Some(ck))
    val pairs = Dedup.ingestPairs(spark, dir)
      .as[(Int, Long, Long, Long)].collect().toSet
    // doc 10 is corpus doc 1's exact simhash twin (same text): batch 0
    // delivers (1, 10); batch 1 sees BOTH as existing
    assert(pairs.exists { case (b, a, x, _) => b == 0 && a == 1L && x == 10L },
      s"stage order broken: $pairs")
    val v = LayoutTxn.currentVersion(dir)
    // restart on the SAME checkpoint: AvailableNow re-delivers nothing
    graft.streaming.EventStreams.fileIngestStream(spark, files.toString,
      Dedup.Simhash.ingestSink(dir, "doc_id", col("text")),
      checkpoint = Some(ck))
    assert(LayoutTxn.currentVersion(dir) === v)
    assert(Dedup.ingestPairs(spark, dir)
      .as[(Int, Long, Long, Long)].collect().toSet === pairs)
  }
}
