package graft

/** Prints formatted physical plans of selected queries — the plan-quality
  * feedback loop (pushdown / pruning / broadcast / shuffle count). Plans
  * under Bench's session: its cores and the partitions derived from the
  * sf dir (SPARK_GRAFT_CPUS / SPARK_GRAFT_SHUFFLE override both, as there). */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val d = "/root/testdata/sf0.01"
    val spark = graft.util.SessionTuning.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      graft.util.SessionTuning.shufflePartitionsConf(d).toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q01_filter_project", "q02_lookup_join", "q03_merge_diff", "q06_agg_pricing")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
