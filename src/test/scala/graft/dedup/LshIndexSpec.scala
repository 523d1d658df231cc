package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.layout.LayoutTxn

/** The at-rest LSH index (⊕J8 × ⊕K10): corpus band buckets partitioned by
  * a band-bucket hash; a new batch probes only its own partitions and
  * appends through the LayoutTxn protocol. q192 oracle-checks the probe's
  * verified pairs end-to-end; THIS spec pins the file-level and
  * composition claims. */
class LshIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  // near-dup clones share most words; unrelated docs share none
  private val corpus = docsOf(
    1L -> "alpha beta gamma delta epsilon zeta",
    2L -> "alpha beta gamma delta epsilon eta",
    3L -> "one two three four five six seven",
    4L -> "red orange yellow green blue indigo")

  test("upsert probes and rewrites ONLY the batch's lb partitions; pairs match the batch-vs-corpus slice of full LSH") {
    val dir = Files.createTempDirectory("lsh_idx").toString + "/idx"
    Dedup.writeLshIndex(corpus, "doc_id", col("text"), dir, partitions = 8)
    val v0 = LayoutTxn.currentVersion(dir)
    val before = LayoutTxn.resolve(dir, "").toMap
    // the delta: a near-clone of doc 1/2 plus an unrelated doc
    val delta = docsOf(
      10L -> "alpha beta gamma delta epsilon theta",
      11L -> "completely unrelated words entirely different here now")
    val pairs = Dedup.Lsh().upsert(spark, dir, delta, "doc_id", col("text"))
      .as[(Long, Long)].collect().toSet
    // ground truth: full-corpus LSH pairs restricted to corpus×delta
    val all = Dedup.lshCandidates(
        Dedup.minhashSignature(corpus.unionByName(delta), "doc_id", col("text")),
        "doc_id", bands = 4, rowsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    val want = all.collect {
      case (a, b) if a < 10L && b >= 10L => (a, b)
      case (a, b) if b < 10L && a >= 10L => (b, a)
    }
    assert(pairs === want, s"pairs $pairs vs full-LSH slice $want")
    assert(pairs.nonEmpty, "the near-clone must collide with its source")
    // file-level: untouched lb partitions still resolve to their ORIGINAL
    // (build) dirs; only the batch's partitions repointed into the
    // ingest's version dir
    val after = LayoutTxn.resolve(dir, "").toMap
    val touched = after.filter { case (_, p) => p.contains(s"_lv${v0 + 1}") }.keySet
    val batchLbs = Dedup.Lsh().rows(delta, "doc_id", col("text"),
        Map("numHashes" -> 8, "bands" -> 4, "k" -> 3, "partitions" -> 8))
      .select("lb").distinct().collect().map(_.getInt(0)).toSet
    assert(touched === batchLbs.map(b => s"lb=$b").toSet)
    before.foreach { case (part, path) =>
      if (!touched.contains(part))
        assert(after(part) === path, s"untouched $part must not move")
    }
    // the index now CONTAINS the delta: a second batch near-duping doc 10
    // finds it (ingests compose)
    val pairs2 = Dedup.Lsh().upsert(spark, dir,
        docsOf(20L -> "alpha beta gamma delta epsilon theta"),
        "doc_id", col("text"))
      .as[(Long, Long)].collect().toSet
    assert(pairs2.contains((10L, 20L)),
      s"second ingest must see the first's docs: $pairs2")
    assert(LayoutTxn.currentVersion(dir) === v0 + 2)
  }

  test("a live concurrent ingest CONFLICTS loudly; the index and the failed batch leave no trace") {
    val dir = Files.createTempDirectory("lsh_conflict").toString + "/idx"
    Dedup.writeLshIndex(corpus, "doc_id", col("text"), dir, partitions = 8)
    val next = LayoutTxn.currentVersion(dir) + 1
    Files.writeString(java.nio.file.Paths.get(dir, s"_layout_commit_v$next"),
      s"version=$next\n")
    val before = LayoutTxn.readLayout(spark, dir, "", "lb").count()
    intercept[LayoutTxn.ConflictException] {
      Dedup.Lsh().upsert(spark, dir,
        docsOf(10L -> "alpha beta gamma delta epsilon theta"),
        "doc_id", col("text"))
    }
    assert(LayoutTxn.readLayout(spark, dir, "", "lb").count() === before)
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("_lstage_")), "no stage residue")
  }
}
