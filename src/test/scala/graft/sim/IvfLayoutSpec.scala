package graft.sim

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.layout.{DataLayout, LayoutTxn}
import graft.model.Tables

/** The ANN-at-rest layout (VERDICT r3 "What's missing" #3): IVF-assigned
  * corpus written hive-partitioned by cell, probes pruned to the matching
  * cell directories. */
class IvfLayoutSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val cents = Similarity.ivfCentroids(emb, k = 8, iters = 2)
  private lazy val layoutDir = {
    val d = Files.createTempDirectory("ivf_layout").toString + "/ivf"
    Similarity.writeIvfLayout(emb, cents, d)
    d
  }

  test("layout write is lossless and one directory per cell") {
    val back = LayoutTxn.readLayout(spark, layoutDir, "", "cell")
    assert(back.count() === emb.count())
    val cellDirs = LayoutTxn.resolve(layoutDir, "").map(_._1).sorted
    val cells = back.select("cell").distinct().as[Int].collect().sorted
    assert(cellDirs.toSeq === cells.toSeq.map(c => s"cell=$c"))
  }

  // recursive scan finder: after execution AQE nests the parquet scan
  // inside materialized query stages, which collectLeaves() won't descend
  private def findScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    p match {
      case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => findScans(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => findScans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(findScans)
    }

  test("layout probe scans ONLY the probed cell directories (PartitionFilters)") {
    val queries = emb.filter(col("vec_id") < 5)
    val out = Similarity.ivfTopKFromLayout(queries, layoutDir, cents, k = 3, nprobe = 2)
    assert(out.collect().nonEmpty)
    val scans = findScans(out.queryExecution.executedPlan)
    // exactly one parquet scan: the layout read (queries/centroid sides are
    // checkpointed RDDs by this point)
    val scan = scans.find(_.metadata.get("Location").exists(_.contains("ivf_layout")))
      .getOrElse(fail(s"no layout scan among ${scans.map(_.metadata.get("Location"))}"))
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell")),
      s"no partition filter on cell: ${scan.partitionFilters}")
    // post-execution metrics: only the probed cells' files were read
    val probed = Similarity.probeCells(queries, cents, 2)
      .select("cell").distinct().as[Int].collect()
    val cellPaths = LayoutTxn.resolve(layoutDir, "").toMap
    val probedFiles = probed.map(c =>
      DataLayout.fileStats(spark, cellPaths(s"cell=$c"))._1).sum
    assert(scan.metrics("numFiles").value === probedFiles)
    val (allFiles, _) = DataLayout.fileStats(spark, layoutDir)
    assert(probedFiles < allFiles, "probe read every file - nothing pruned")
  }

  test("layout path is semantically identical to the in-memory IVF path") {
    val queries = emb.filter(col("vec_id") < 20)
    val viaLayout = Similarity.ivfTopKFromLayout(queries, layoutDir, cents, k = 5, nprobe = 3)
      .select("qid", "nid", "sim", "rank").as[(Long, Long, Double, Long)].collect().toSet
    val inMemory = {
      val c = Similarity.ivfAssign(emb, cents)
        .select(col("vec_id").as("nid"), col("embedding").as("__ce"), col("cell"))
      // same scoring applied to the unwritten assignment
      val scored = c.join(Similarity.probeCells(queries, cents, 3), Seq("cell"))
        .filter(col("qid") =!= col("nid"))
        .withColumn("sim", round(Similarity.cosine(col("__qe"), col("__ce")), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("qid"), col("nid"), col("sim"), col("rank").cast("long").as("rank"))
        .as[(Long, Long, Double, Long)].collect().toSet
    }
    assert(viaLayout === inMemory)
  }
}
