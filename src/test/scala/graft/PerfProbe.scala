package graft

import org.apache.spark.sql.functions._

/** Ad-hoc stage-timing probe for local perf iteration (test scope only —
  * never shipped). Edit the body to time the plan under investigation;
  * `sbt "Test/runMain graft.PerfProbe"`. */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val d = "/root/testdata/sf0.1"
    val spark = graft.util.SessionTuning.session(cpus = 32, shufflePartitions = 32)
    spark.sparkContext.setLogLevel("WARN")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.model.Tables.ensureSpool(spark, d)

    // representative mid-size plan: per-event projection over events
    def base() = graft.model.Tables.events(spark, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("value") * 2).as("v2"))
    for (r <- 1 to 3) {
      time(s"r$r orderBy")(base().orderBy(col("event_id"))
        .write.format("noop").mode("overwrite").save())
      time(s"r$r repart1_sortWithin")(base().repartition(1)
        .sortWithinPartitions(col("event_id"))
        .write.format("noop").mode("overwrite").save())
      time(s"r$r no_sort")(base()
        .write.format("noop").mode("overwrite").save())
    }
  }
}
