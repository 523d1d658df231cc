package graft

import org.apache.spark.scheduler._
import java.util.concurrent.ConcurrentHashMap

/** Scratch profiler for the r19 optimization round (not part of the
  * driver contract): runs named queries with a job-level listener and
  * prints per-Spark-job wall time + call site, so protocol-heavy queries
  * (merge commits, streaming replays) can be broken down phase by phase.
  */
object ProfR19 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.SessionTuning.session(cpus.toInt,
      graft.util.SessionTuning.shufflePartitionsConf(sfDir).toInt)
    spark.sparkContext.setLogLevel("WARN")
    graft.model.Contracts.preflight(spark, sfDir)
    graft.model.Tables.ensureSpool(spark, sfDir)

    val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
    // (jobId, startNanos, durMs, what) — always recorded, window-filtered later
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties.getProperty("spark.job.description"))
          .getOrElse("")
        val site = Option(e.properties.getProperty("callSite.short")).getOrElse("")
        jobStart.put(e.jobId, (System.nanoTime(), s"$site | $desc"))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(e.jobId)).foreach { case (t0, what) =>
          ended.add((e.jobId, t0, (System.nanoTime() - t0) / 1e6, what))
        }
      }
    })

    // warmup: same shapes bench warms
    try {
      graft.model.Tables.all.foreach { t =>
        graft.model.Tables(spark, sfDir, t).groupBy().count().collect()
      }
      graft.streaming.EventStreams.runToCompletion(spark, sfDir)(
        _.groupBy(org.apache.spark.sql.functions.col("event_type")).count())
      SparkEntry.warmFixtures(spark, sfDir)
    } catch { case e: Throwable => System.err.println(s"warm: $e") }

    if (args.headOption.contains("mergeplan")) {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val df = spark.range(10000).select(col("id").as("k"),
        (col("id") * 2).as("v"), lit("create").as("__op"),
        pmod(hash(col("id")), lit(8)).as("b"))
      val obs = new org.apache.spark.sql.Observation
      val chC = df.repartition(8, col("b"))
        .withColumn("d", count(lit(1)).over(Window.partitionBy("b", "k")))
        .observe(obs, max(col("d")).as("max_dup"), count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"cache-build count: ${chC.count()}")
      println(s"observed: ${obs.get}")
      val ch = chC.drop("d")
      val tgt = spark.range(5000).select(col("id").as("tk"),
          (col("id") * 3).as("tv"), pmod(hash(col("id")), lit(8)).as("tb"))
        .repartition(8, col("tb"))
      val j = ch.join(tgt, col("b") === col("tb") && col("k") === col("tk"),
        "full_outer")
      j.explain("formatted")
      spark.stop(); return
    }
    val names = if (args.nonEmpty) args.toSeq else Seq("q63_merge_upsert")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      // one untimed run to absorb JIT
      try {
        SparkEntry.materializeOrdered(fn(spark, sfDir))
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable => System.err.println(s"warm $n: $e") }
      graft.util.Cleanup.drain()
      val t0 = System.nanoTime()
      SparkEntry.materializeOrdered(fn(spark, sfDir))
        .write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      val t = (t1 - t0) / 1e9
      Thread.sleep(1000) // let the async listener bus drain
      println(f"== $n%-28s total $t%7.3f s")
      val inWindow = ended.toArray(Array.empty[(Int, Long, Double, String)])
        .filter { case (_, s, _, _) => s >= t0 && s <= t1 }.sortBy(_._2)
      var covered = 0.0
      inWindow.foreach { case (id, _, d, what) =>
        covered += d
        println(f"    job $id%4d $d%8.1f ms  ${what.take(140)}")
      }
      println(f"    jobs ${inWindow.length}, job-covered ${covered / 1000}%.3f s of $t%.3f s")
      graft.util.Cleanup.drain()
    }
    spark.stop()
  }
}
