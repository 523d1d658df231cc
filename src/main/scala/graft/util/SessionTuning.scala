package graft.util

import org.apache.spark.sql.SparkSession

/** The one session factory ([[session]]) and its scale-adaptive shuffle
  * partition default (r20 — VERDICT r19 task 5, guide §2.2).
  *
  * `spark.sql.shuffle.partitions` was pinned to the CORE COUNT, which is
  * guide-§2.2 over-parallelization on kilobyte inputs: at sf0.1 the
  * 32-core bench paid ~10% scheduling tax over the 8-core run on
  * UNCHANGED plans (BENCH_r19: 133.1 s at 32 cores vs 119.9 s at 8), and
  * a constant tied to the local core count is exactly the "tuned for
  * either local mode or the cluster" anti-pattern. The default now
  * derives from the INPUT BYTES with a floor and a cap:
  *
  *   partitions = clamp(ceil(inputBytes / 8 MB), 8, 4096)
  *
  * - 8 MB of compressed parquet input per partition ≈ 40-80 MB in
  *   flight after decompression — the guide's partition-size band from
  *   the input side. At sf0.1 (17.5 MB on disk) this derives the floor
  *   (8); at sf1 it derives ~22; on a 100 TB table it saturates the cap
  *   and AQE's coalescing (enabled everywhere here) owns the downward
  *   sizing, exactly the §2.2 posture.
  * - The floor (8) keeps a few concurrent reducer tasks for the
  *   sub-second pipelines; any real input exceeds it, so it is not a
  *   scale constant.
  * - The cap (4096) bounds the M×R shuffle-block blowup (§2.2) and is
  *   the "set it high-ish, let AQE coalesce" production posture; a
  *   deployment with more executors raises it via SPARK_GRAFT_SHUFFLE —
  *   the explicit override every caller keeps honoring.
  *
  * The derived value is CORE-COUNT-INDEPENDENT on purpose: the driver
  * re-runs the bench at a lower core count to measure scaling, and a
  * partitioning that follows data (not cores) keeps those two runs'
  * plans comparable. Measured (full 216-query bench at 32 cores, equal
  * methodology): 121.9 s at partitions=32 → 99.3 s at the derived 8,
  * geomean per-query ratio 0.823.
  */
object SessionTuning {
  /** A local graft session on `cpus` cores: every main and the test
    * harness builds through here, so they all plan under the same confs.
    * perfbench's session sets exactly these confs too (plus its work-dir
    * paths); keep the two in step. */
  def session(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // static conf, default 100: a 216-query suite generates thousands of
      // codegen units, so the default cache thrashes — every eviction is a
      // janino recompile charged to whichever later query re-plans the
      // shape, and the dead duplicate classes pile into the JIT code cache
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    graft.plans.ElementAtNullIndexGuard.ensureInjected(spark)
    spark
  }

  /** The derived count over every `*.parquet` file under `sfDir`, at any
    * depth: a table may be one file or a directory of part files. */
  def shufflePartitions(sfDir: String): Int = {
    def parquetBytes(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(parquetBytes).sum
      else if (f.getName.endsWith(".parquet")) f.length
      else 0L
    val bytes = parquetBytes(new java.io.File(sfDir))
    if (bytes == 0L)
      System.err.println(s"[session] WARNING: no parquet bytes under " +
        s"$sfDir; shuffle partitions fall back to the floor (8)")
    val derived = math.ceil(bytes / (8.0 * (1 << 20))).toInt
    math.min(4096, math.max(8, derived))
  }

  /** The shared default: the env override wins, else the derived value. */
  def shufflePartitionsConf(sfDir: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      shufflePartitions(sfDir).toString)
}
