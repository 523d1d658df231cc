package graft.text

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.layout.LayoutTxn

/** A layout comes into being only through a commit: a rebuild is the next
  * version of the layout, so a reader that resolved the previous build
  * keeps its snapshot, and a dir no commit wrote is refused loudly rather
  * than read as an empty index. */
class IndexRebuildSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(tag).toString + "/idx"

  private def canon(df: DataFrame): Set[(String, Long, Seq[Row])] =
    df.select("term", "df", "postings").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Row](2))).toSet

  test("a rebuild under a live reader: the old plan keeps its rows, the version advances, earlier deletes stay with the old build") {
    val dir = newDir("idx_rebuild_reader")
    val first = Seq(1L -> "alpha beta", 2L -> "beta gamma", 3L -> "gamma delta")
      .toDF("doc_id", "text")
    val second = Seq(2L -> "delta epsilon", 4L -> "alpha epsilon",
      5L -> "zeta eta").toDF("doc_id", "text")
    TextAnalysis.writeIndexLayout(first, "doc_id", col("text"), dir, 4)
    val plan = TextAnalysis.readIndexPostings(spark, dir)
    // a delete and a stream window land between the plan and the rebuild
    TextAnalysis.indexDeleteLayout(spark, dir, Seq(2L).toDF("doc_id"), "doc_id")
    TextAnalysis.indexApplyLayout(spark, dir, first.limit(0), None, "doc_id",
      col("text"), batchId = 3L)
    assert(LayoutTxn.lastBatchId(dir) === 3L)
    val before = LayoutTxn.currentVersion(dir)
    TextAnalysis.writeIndexLayout(second, "doc_id", col("text"), dir, 4)
    assert(canon(plan) ===
      canon(TextAnalysis.invertedIndex(first, "doc_id", col("text"))),
      "a plan resolved before the rebuild must keep reading its snapshot")
    assert(LayoutTxn.currentVersion(dir) === before + 1)
    // the new build starts clean: no tombstone of the old build hides its
    // doc 2, and the old stream's watermark is gone with the old build
    assert(canon(TextAnalysis.readIndexPostings(spark, dir)) ===
      canon(TextAnalysis.invertedIndex(second, "doc_id", col("text"))))
    assert(TextAnalysis.bm25SearchLayout(spark, dir, Seq("delta", "epsilon"))
      .select("doc_id").as[Long].collect().toSet === Set(2L, 4L))
    assert(LayoutTxn.lastBatchId(dir) === -1L)
  }

  test("a plain hive dir with no committed layout is refused loudly, never searched as an empty index") {
    val dir = newDir("idx_plain")
    TextAnalysis.invertedIndex(
        Seq(1L -> "alpha beta", 2L -> "beta gamma").toDF("doc_id", "text"),
        "doc_id", col("text"))
      .withColumn("tb", lit(0L))
      .write.partitionBy("tb").parquet(dir)
    def refused(what: => Any): Unit = {
      val e = intercept[IllegalArgumentException](what)
      assert(e.getMessage.contains(s"no committed layout at $dir"),
        e.getMessage)
    }
    refused(TextAnalysis.bm25SearchLayout(spark, dir, Seq("beta")))
    refused(TextAnalysis.indexUpsertLayout(spark, dir,
      Seq(3L -> "gamma delta").toDF("doc_id", "text"), "doc_id", col("text")))
    refused(LayoutTxn.readLayout(spark, dir, "", "tb"))
  }
}
