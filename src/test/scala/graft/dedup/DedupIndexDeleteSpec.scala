package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.layout.LayoutTxn

/** DELETE(ids) for the three at-rest dedup ingest indexes (⊕J25/⊕J26/⊕J27,
  * r17 — VERDICT r16 task 2). Pinned here: maintained-after-delete equals
  * a rebuild without the victims (content, per index type), deletes
  * compose with upserts through the `_docmap` reverse map, post-delete
  * probes equal probes against the rebuilt index, and emptied partitions
  * leave the snapshot. */
class DedupIndexDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  // near-dup families so probes have real candidates; 30x ids are victims
  private val corpus = docsOf(
    1L -> "alpha beta gamma delta epsilon zeta eta theta",
    2L -> "alpha beta gamma delta epsilon zeta eta iota",
    30L -> "alpha beta gamma delta epsilon zeta eta kappa",
    31L -> "one two three four five six seven eight nine",
    4L -> "one two three four five six seven eight ten",
    5L -> "completely different words live in this doc here")
  private val victims = docsOf(
    30L -> "alpha beta gamma delta epsilon zeta eta kappa",
    31L -> "one two three four five six seven eight nine")
  private val keep = corpus.filter(!col("doc_id").isin(30L, 31L))
  private val probe = docsOf(
    100L -> "alpha beta gamma delta epsilon zeta eta lambda",
    101L -> "one two three four five six seven eight eleven")

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"dd_del_$tag").toString + "/idx"

  test("LSH: delete(ids) == rebuild without them; probes agree; victims' map rows gone") {
    val a = fresh("lsh_a"); val b = fresh("lsh_b")
    Dedup.writeLshIndex(corpus, "doc_id", col("text"), a, partitions = 8)
    val touched = Dedup.Lsh().delete(spark, a,
      victims.select("doc_id"), "doc_id")
    assert(touched.nonEmpty)
    Dedup.writeLshIndex(keep, "doc_id", col("text"), b, partitions = 8)
    def rows(d: String) = LayoutTxn.readLayout(spark, d, "", "lb")
      .select(col("doc_id"), col("band"), col("bucket"))
      .as[(Long, Int, String)].collect().toSet
    assert(rows(a) === rows(b))
    def dm(d: String) = LayoutTxn.readLayout(spark, d, "_docmap", "dm")
      .select(col("doc_id"), col("pb")).as[(Long, Int)].collect().toSet
    assert(dm(a) === dm(b))
    // probing the maintained index equals probing the rebuilt one — and
    // neither ever returns a victim as candidate `a`
    def pairs(d: String) = Dedup.Lsh().upsert(spark, d, probe,
      "doc_id", col("text")).as[(Long, Long)].collect().toSet
    val pa = pairs(a)
    assert(pa === pairs(b))
    assert(!pa.exists { case (x, _) => x == 30L || x == 31L },
      s"a deleted id must never surface as a candidate: $pa")
  }

  test("LSH: delete composes with upsert — rows ingested AFTER the build are locatable and deletable") {
    val d = fresh("lsh_c")
    Dedup.writeLshIndex(keep, "doc_id", col("text"), d, partitions = 8)
    Dedup.Lsh().upsert(spark, d, victims, "doc_id", col("text"))
    assert(LayoutTxn.readLayout(spark, d, "", "lb")
      .filter(col("doc_id").isin(30L, 31L)).count() > 0)
    Dedup.Lsh().delete(spark, d, victims.select("doc_id"), "doc_id")
    assert(LayoutTxn.readLayout(spark, d, "", "lb")
      .filter(col("doc_id").isin(30L, 31L)).count() === 0)
    assert(LayoutTxn.readLayout(spark, d, "_docmap", "dm")
      .filter(col("doc_id").isin(30L, 31L)).count() === 0)
    // deleting ids with no indexed rows is a no-op (no commit, no throw)
    val v0 = LayoutTxn.currentVersion(d)
    assert(Dedup.Lsh().delete(spark, d,
      Seq(999L).toDF("doc_id"), "doc_id") === Seq.empty)
    assert(LayoutTxn.currentVersion(d) === v0)
  }

  test("LSH: victim ids of a NARROWER type still delete (hash runs in the index's id type)") {
    val d = fresh("lsh_int")
    Dedup.writeLshIndex(corpus, "doc_id", col("text"), d, partitions = 8)
    // Murmur3 of INT 30 != Murmur3 of LONG 30: pre-fix this probed the
    // wrong dm= partitions and silently deleted NOTHING
    val intVictims = Seq(30, 31).toDF("doc_id") // IntegerType
    val touched = Dedup.Lsh().delete(spark, d, intVictims, "doc_id")
    assert(touched.nonEmpty, "int-typed victims must still locate rows")
    assert(LayoutTxn.readLayout(spark, d, "", "lb")
      .filter(col("doc_id").isin(30L, 31L)).count() === 0)
  }

  test("LSH: a narrower-typed ingest batch still lands docmap rows a later delete finds") {
    // ADVICE r17 medium: a batch ingested with INT ids into a LONG index
    // must hash its _docmap dm partitions with the PERSISTED long type —
    // Murmur3(int 30) != Murmur3(long 30), so the un-cast form would
    // store the rows under the int-hash partition and a later delete
    // (which casts victims to long, the 47673e0 fix) would probe the
    // long-hash partition and silently delete NOTHING
    val a = fresh("lsh_nt_a"); val b = fresh("lsh_nt_b")
    val base = docsOf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "one two three four five six seven eight nine")
    Dedup.writeLshIndex(base, "doc_id", col("text"), a, partitions = 8)
    val intBatch = Seq(
      (30, "alpha beta gamma delta epsilon zeta eta kappa"),
      (31, "one two three four five six seven eight ten"))
      .toDF("doc_id", "text") // IntegerType ids
    Dedup.Lsh().upsert(spark, a, intBatch, "doc_id", col("text"))
    // delete the two int-ingested docs by (long-typed) id
    val touched = Dedup.Lsh().delete(spark, a,
      Seq(30L, 31L).toDF("doc_id"), "doc_id")
    assert(touched.nonEmpty, "delete found no rows — the docmap rows " +
      "were hashed with the batch's own (narrower) id type")
    Dedup.writeLshIndex(base, "doc_id", col("text"), b, partitions = 8)
    def rows(d: String) = LayoutTxn.readLayout(spark, d, "", "lb")
      .select(col("doc_id"), col("band"), col("bucket"))
      .as[(Long, Int, String)].collect().toSet
    assert(rows(a) === rows(b))
    def dm(d: String) = LayoutTxn.readLayout(spark, d, "_docmap", "dm")
      .select(col("doc_id"), col("pb")).as[(Long, Int)].collect().toSet
    assert(dm(a) === dm(b))
  }

  test("winnowing: delete(ids) == rebuild without them; df-cap recomputes over survivors") {
    val a = fresh("win_a"); val b = fresh("win_b")
    Dedup.writeWinnowIndex(corpus, "doc_id", col("text"), a, partitions = 8)
    Dedup.Winnow().delete(spark, a, victims.select("doc_id"), "doc_id")
    Dedup.writeWinnowIndex(keep, "doc_id", col("text"), b, partitions = 8)
    def rows(d: String) = LayoutTxn.readLayout(spark, d, "", "fb")
      .select(col("doc_id"), col("fp")).as[(Long, Long)].collect().toSet
    assert(rows(a) === rows(b))
    def pairs(d: String) = Dedup.Winnow(minShared = 1).upsert(spark, d, probe,
      "doc_id", col("text"))
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs(a) === pairs(b))
  }

  test("simhash: delete(ids) == rebuild without them; emptied sb partitions leave the snapshot") {
    val a = fresh("sh_a"); val b = fresh("sh_b")
    Dedup.writeSimhashIndex(corpus, "doc_id", col("text"), a, partitions = 8)
    Dedup.Simhash.delete(spark, a, victims.select("doc_id"), "doc_id")
    Dedup.writeSimhashIndex(keep, "doc_id", col("text"), b, partitions = 8)
    def rows(d: String) = LayoutTxn.readLayout(spark, d, "", "sb")
      .select(col("doc_id"), col("band"), col("bval"))
      .as[(Long, Int, String)].collect().toSet
    assert(rows(a) === rows(b))
    // the committed snapshots expose the same partition SET: a partition
    // whose every row was a victim's must have left the version map
    assert(LayoutTxn.resolve(a, "").map(_._1).toSet ===
      LayoutTxn.resolve(b, "").map(_._1).toSet)
    def pairs(d: String) = Dedup.Simhash.upsert(spark, d, probe,
      "doc_id", col("text")).as[(Long, Long, Long)].collect().toSet
    assert(pairs(a) === pairs(b))
  }

  test("an index EMPTIED by deletes stays alive: reads typed-empty, later ingests work (r18, fuzz-found)") {
    // before r18's schema-in-version-state fix this sequence WEDGED the
    // index: the emptied layout had no parquet file left to infer a
    // schema from, so the next probe read threw UNABLE_TO_INFER_SCHEMA
    // (IndexFuzzSpec found it on its first 100-seed run)
    val d = fresh("lsh_empty")
    Dedup.writeLshIndex(corpus, "doc_id", col("text"), d, partitions = 8)
    Dedup.Lsh().delete(spark, d, corpus.select("doc_id"), "doc_id")
    assert(LayoutTxn.readLayout(spark, d, "", "lb").count() === 0L,
      "emptied index must read as a typed empty relation")
    assert(LayoutTxn.readLayout(spark, d, "_docmap", "dm").count() === 0L)
    // the index is still a living layout: a fresh batch ingests cleanly
    // and a near-dup pair within the batch's own corpus side is empty
    // (nothing to collide with), then a second batch collides with it
    val pairs1 = Dedup.Lsh().upsert(spark, d,
        docsOf(50L -> "alpha beta gamma delta epsilon zeta eta theta"),
        "doc_id", col("text"))
      .as[(Long, Long)].collect().toSet
    assert(pairs1.isEmpty)
    val pairs2 = Dedup.Lsh().upsert(spark, d,
        docsOf(51L -> "alpha beta gamma delta epsilon zeta eta iota"),
        "doc_id", col("text"))
      .as[(Long, Long)].collect().toSet
    assert(pairs2 === Set((50L, 51L)),
      s"post-empty ingests must compose: $pairs2")
    // the text tier heals the same way
    val t = fresh("txt_empty")
    graft.text.TextAnalysis.writeIndexLayout(corpus, "doc_id", col("text"),
      t, 8)
    graft.text.TextAnalysis.indexDeleteLayout(spark, t,
      corpus.select("doc_id"), "doc_id")
    // merge-on-read (r20): the rows stay PHYSICALLY until materialization,
    // but the logical read — what every search observes — is empty
    assert(graft.text.TextAnalysis.readIndexPostings(spark, t).count() === 0L)
    graft.text.TextAnalysis.indexUpsertLayout(spark, t,
      docsOf(60L -> "alpha beta"), "doc_id", col("text"))
    assert(graft.text.TextAnalysis.searchIndexLayout(spark, t,
        Seq("alpha", "beta"))
      .as[(Long, Long)].collect().toSeq === Seq((60L, 2L)))
  }
}
