package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Bench's session: Verify must hash-check the same plan shapes Bench
    // times
    val spark = graft.util.SessionTuning.session(cpus.toInt,
      graft.util.SessionTuning.shufflePartitionsConf(sfDir).toInt)
    spark.sparkContext.setLogLevel("WARN")
    // ingestion contract first: schema drift in the inputs must fail loud
    // and named BEFORE 133 queries run against it (round 6 lost 11 queries
    // to a silently re-encoded events.ts)
    graft.model.Contracts.preflight(spark, sfDir)
    // one-time scan-parallelism re-layout (Tables.ensureSpool scaladoc):
    // Verify shares Bench's table access path so correctness covers the
    // exact layout the bench times
    graft.model.Tables.ensureSpool(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q93_...,q96_... restricts the dump for local
    // iteration; unset (the driver's mode) runs everything
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // materializeOrdered replaces the old `.coalesce(1)`: the top-level
      // global sort becomes a 1-partition local sort (identical total
      // order, no sampling job), already single-file for the write
      try SparkEntry.materializeOrdered(fn(spark, sfDir)).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // deterministic release of the query's broadcasts/scratch dirs (the
      // write above is the terminal action, so nothing references them)
      graft.util.Cleanup.drain()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // tier-dependent fixture paths (q94) must follow THIS run's tier even
    // when a restricted run never executed the query that sets them
    SparkEntry.setOracleTier(sfDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
