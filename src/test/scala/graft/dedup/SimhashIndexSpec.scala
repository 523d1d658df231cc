package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.layout.LayoutTxn

/** The at-rest SimHash index (⊕J12 × ⊕K10, the ⊕J25 pattern at the
  * Hamming tier): corpus pigeonhole band rows partitioned by the
  * band-value hash; a new batch probes only its own partitions (each row
  * carries the full fingerprint, so the exact Hamming verify needs no
  * second corpus read) and appends through the LayoutTxn protocol. q195
  * oracle-checks the probe's verified pairs end-to-end against a brute
  * cross-split Hamming recompute; THIS spec pins the file-level and
  * composition claims. */
class SimhashIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  // near-dup clones share most words (small Hamming distance between
  // their word-multiset fingerprints); unrelated docs share none
  private val corpus = docsOf(
    1L -> "alpha beta gamma delta epsilon zeta",
    2L -> "alpha beta gamma delta epsilon eta",
    3L -> "one two three four five six seven",
    4L -> "red orange yellow green blue indigo")

  test("upsert probes and rewrites ONLY the batch's sb partitions; pairs match the batch-vs-corpus slice of full simhashPairs") {
    val dir = Files.createTempDirectory("sh_idx").toString + "/idx"
    Dedup.writeSimhashIndex(corpus, "doc_id", col("text"), dir,
      maxDist = 2, partitions = 8)
    val v0 = LayoutTxn.currentVersion(dir)
    val before = LayoutTxn.resolve(dir, "").toMap
    // doc 10 is doc 1 REORDERED: the word-multiset simhash is
    // order-invariant, so its distance to doc 1 is exactly 0 (a one-word
    // swap can flip several of 16 bits — reordering is the deterministic
    // way to land inside maxDist)
    val delta = docsOf(
      10L -> "zeta epsilon delta gamma beta alpha",
      11L -> "completely unrelated words entirely different here now")
    val pairs = Dedup.Simhash.upsert(spark, dir, delta, "doc_id",
        col("text"))
      .as[(Long, Long, Long)].collect().toSet
    // ground truth: full-corpus simhashPairs restricted to corpus×delta
    val all = Dedup.simhashPairs(corpus.unionByName(delta), "doc_id",
        col("text"), maxDist = 2)
      .as[(Long, Long, Long)].collect().toSet
    val want = all.collect {
      case (a, b, dd) if a < 10L && b >= 10L => (a, b, dd)
      case (a, b, dd) if b < 10L && a >= 10L => (b, a, dd)
    }
    assert(pairs === want, s"pairs $pairs vs full slice $want")
    assert(pairs.nonEmpty, "the near-clone must land within maxDist")
    // file-level: only the batch's band partitions repointed into the
    // ingest's version dir
    val cuts = Dedup.simhashBandCuts(3)
    val batchSbs = delta
      .select(Dedup.simhash16(col("text")).as("sh"))
      .select(posexplode(array(cuts.map { case (st, ln) =>
        substring(col("sh"), st, ln) }: _*)).as(Seq("band", "bval")))
      .select(pmod(hash(col("band"), col("bval")), lit(8)))
      .distinct().collect().map(_.getInt(0)).toSet
    val after = LayoutTxn.resolve(dir, "").toMap
    val touched = after.filter { case (_, p) => p.contains(s"_lv${v0 + 1}") }.keySet
    assert(touched === batchSbs.map(b => s"sb=$b"))
    before.foreach { case (part, path) =>
      if (!touched.contains(part))
        assert(after(part) === path, s"untouched $part must not move")
    }
    // ingests compose: a second batch duplicating doc 10 finds it at
    // distance 0
    val pairs2 = Dedup.Simhash.upsert(spark, dir,
        docsOf(20L -> "zeta epsilon delta gamma beta alpha"),
        "doc_id", col("text"))
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs2.contains((10L, 20L, 0L)),
      s"second ingest must see the first's docs: $pairs2")
    assert(LayoutTxn.currentVersion(dir) === v0 + 2)
  }

  test("a live concurrent ingest CONFLICTS loudly; no stage residue") {
    val dir = Files.createTempDirectory("sh_conflict").toString + "/idx"
    Dedup.writeSimhashIndex(corpus, "doc_id", col("text"), dir,
      maxDist = 2, partitions = 8)
    val next = LayoutTxn.currentVersion(dir) + 1
    Files.writeString(java.nio.file.Paths.get(dir, s"_layout_commit_v$next"),
      s"version=$next\n")
    val before = LayoutTxn.readLayout(spark, dir, "", "sb").count()
    intercept[LayoutTxn.ConflictException] {
      Dedup.Simhash.upsert(spark, dir,
        docsOf(10L -> "alpha beta gamma delta epsilon theta"),
        "doc_id", col("text"))
    }
    assert(LayoutTxn.readLayout(spark, dir, "", "sb").count() === before)
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("_lstage_")), "no stage residue")
  }

  test("probe parameters come from the index metadata, not the caller") {
    val dir = Files.createTempDirectory("sh_meta").toString + "/idx"
    intercept[IllegalArgumentException] {
      Dedup.Simhash.upsert(spark, dir,
        docsOf(10L -> "alpha beta"), "doc_id", col("text"))
    }
  }
}
