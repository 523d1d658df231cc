package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.9): the reference is a
  * rerunnable one-shot batch job; its "refresh" semantics map onto
  * `Trigger.AvailableNow` — process everything currently available, then
  * stop — which is exactly how we expose streaming results to the batch
  * driver contract.
  *
  * Scale notes: watermark + windowed aggregation is the standard unbounded
  * pattern (state pruned past the watermark); `dropDuplicates` within the
  * watermark bounds dedup state. On a cluster the memory sink becomes a
  * parquet/Kafka sink; nothing else changes.
  */
object EventStreams {

  /** Stream-stream interval join (§2.9): pair every `leftType` event with
    * the same user's `rightType` events that follow within `within`. Both
    * sides are branches of ONE streaming source (Spark plans a genuine
    * stream-stream join with two scans); the watermarks plus the range
    * bound on the join condition are what let the join PRUNE buffered
    * state — without them a stream-stream join buffers both sides forever.
    * At scale this is the standard funnel/attribution shape: state per key
    * is bounded by (watermark + interval) of events, not history. Append
    * mode: each match is emitted exactly once. */
  def intervalJoin(events: DataFrame, leftType: String, rightType: String,
                   within: String = "30 minutes",
                   watermark: String = "1 hour"): DataFrame = {
    val l = events.filter(col("event_type") === leftType)
      .select(col("event_id").as("l_id"), col("user_id"), col("ts").as("l_ts"))
      .withWatermark("l_ts", watermark)
    val r = events.filter(col("event_type") === rightType)
      .select(col("event_id").as("r_id"), col("user_id").as("__ru"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", watermark)
    l.join(r,
        col("user_id") === col("__ru") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("l_id"), col("r_id"),
        (unix_micros(col("r_ts")) - unix_micros(col("l_ts"))).as("lag_us"))
  }

  /** Streaming source over a parquet directory with event-time
    * normalization. Streaming sources need an explicit schema, so we take it
    * from a cheap batch footer read of the same path — that way the stream
    * accepts every `ts` encoding [[graft.model.Tables.normalizeTs]] accepts
    * (INT64 nanos, timestamp NTZ, timestamp) instead of hardcoding one.
    * Round 6 lost six streaming queries to a hardcoded `ts: LongType` +
    * `div 1000` silently compressing microsecond timestamps 1000×; the
    * decode now lives in exactly one place, shared with the batch loader. */
  private def streamSource(spark: SparkSession, path: String): DataFrame =
    graft.model.Tables.normalizeTs(
      spark.readStream.schema(srcSchema(spark, path)).parquet(path))

  /** Memoized batch-footer schema per source path (r19): every streaming
    * run was paying a 60-110 ms parquet footer read just to declare its
    * source schema, repeated per query per bench run. Source dirs here
    * are either the memoized read-only landing fixtures or per-case
    * scratch dirs with unique paths, so a path's schema never changes
    * within a session. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private def srcSchema(spark: SparkSession, path: String): StructType =
    schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)

  private val sinkId = new AtomicInteger(0)

  /** One scratch source dir per sfDir, shared by every streaming query and
    * every bench re-run: `$dir/events.parquet` is a single file and
    * FileStreamSource needs a directory to scan, so the file is copied into
    * a scratch dir ONCE (a copy, not a symlink: the source lives on
    * read-only storage in the harness; at cluster scale the stream reads a
    * real landing directory and this shim disappears). Before round 5 each
    * query run paid its own copy + delete — ~0.5 s of the per-query
    * streaming spin-up floor measured at sf0.1. The dir is read-only after
    * creation, survives Cleanup.drain (exit-scoped), and is safe to share
    * across concurrent queries. */
  private val srcDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private def sharedEventsDir(dir: String): java.nio.file.Path =
    srcDirs.computeIfAbsent(dir, _ => {
      val d = graft.util.Cleanup.registerExitDir(
        java.nio.file.Files.createTempDirectory("graft_stream_src"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(dir, "events.parquet"),
        d.resolve("events.parquet"))
      d
    })

  /** Run a streaming transform over the events parquet to completion
    * (AvailableNow) and return the materialized result.
    *
    * The sink is a foreachBatch parquet spool, NOT the memory sink: the
    * memory sink collects every row to the driver, which is fine for
    * window×group aggregates at test scale but unbounded in principle —
    * at 100× key cardinality the "small" aggregate scales with distinct
    * keys. Spooling keeps the result distributed end to end; the returned
    * DataFrame is a plain parquet scan of the spool.
    *
    * Output-mode reconstruction mirrors the sink contract exactly:
    * `complete` delivers the FULL result each trigger → overwrite one
    * directory, last trigger wins; `append` delivers each finalized row
    * exactly once → per-batch directories, union; `update` delivers the
    * rows changed in that trigger → per-batch directories, and a later
    * update for a key supersedes earlier ones — pass the result's key
    * columns as `updateKeys` and reconstruction keeps only each key's
    * newest row (by batch id). Update mode without `updateKeys` returns
    * the raw per-batch updates in batch order, superseded rows included —
    * only correct when the caller dedups or when keys never re-emit.
    *
    * `updateKeys` reconstruction ASSUMES at most one row per key per
    * micro-batch — true for streaming aggregations (one updated row per
    * changed group per trigger), which is every transform here. A
    * `flatMapGroupsWithState` transform that emits several rows for one
    * key within a single batch would make the batch-id tie-break
    * nondeterministic; such callers must fold the per-batch rows to one
    * per key inside the transform (or extend the tie-break with a
    * deterministic secondary column). */
  def runToCompletion(spark: SparkSession, dir: String,
                      outputMode: String = "complete",
                      updateKeys: Seq[String] = Nil,
                      noDataBatch: Boolean = true)
                     (transform: DataFrame => DataFrame): DataFrame =
    spoolRun(spark, sharedEventsDir(dir).toString, outputMode, updateKeys,
      noDataBatch = noDataBatch)(transform)

  /** [[runToCompletion]] over an arbitrary parquet directory (one file per
    * micro-batch when `maxFilesPerTrigger=Some(1)`) — the path-level entry,
    * used directly by specs that need to force multi-batch behavior. */
  /** `noDataBatch = false` skips the AvailableNow final no-data
    * micro-batch (spark.sql.streaming.noDataMicroBatches.enabled). That
    * batch exists to advance the watermark one last time and FLUSH
    * results whose emission depends on it — required for append-mode
    * windowed aggregations (q38 session windows), timeout-driven
    * flatMapGroupsWithState (q39), and outer joins' null side (q156).
    * For transforms that emit eagerly in data batches — inner
    * stream-stream joins, watermarked dropDuplicates — it only evicts
    * state the terminating query no longer needs, at a measured
    * ~0.6-0.8 s per query of empty-batch state-store commits; those call
    * sites opt out (oracle-checked identical either way). */
  def spoolRun(spark: SparkSession, srcPath: String,
               outputMode: String = "complete",
               updateKeys: Seq[String] = Nil,
               maxFilesPerTrigger: Option[Int] = None,
               noDataBatch: Boolean = true)
              (transform: DataFrame => DataFrame): DataFrame = {
    // env-gated phase tracer (optimization guide §1: measure first) —
    // attributes the non-job driver time of a streaming run to its phases
    val prof = sys.env.contains("SPARK_GRAFT_PROF")
    var tMark = System.nanoTime()
    def mark(s: String): Unit = if (prof) {
      val now = System.nanoTime()
      System.err.println(f"[spool] $s%-22s ${(now - tMark) / 1e6}%8.1f ms")
      tMark = now
    }
    def source(): DataFrame = {
      val rdr = spark.readStream.schema(srcSchema(spark, srcPath))
      maxFilesPerTrigger.foreach(n => rdr.option("maxFilesPerTrigger", n.toString))
      graft.model.Tables.normalizeTs(rdr.parquet(srcPath))
    }
    val src = source()
    mark("source schema")
    val spool = graft.util.Cleanup.registerTempDir(
      java.nio.file.Files.createTempDirectory(
        s"graft_stream_spool_${sinkId.incrementAndGet()}_"))
    val outDir = s"$spool/out"
    val perBatch = outputMode != "complete"
    // Streaming aggregations allocate one state-store instance per shuffle
    // partition per operator, and every micro-batch COMMITS every store (a
    // delta file + rename each): the stream-stream join's 4 stores ×
    // partitions × batches dominates the replay protocols' fixed cost. 4
    // partitions cut that 8x vs the session's 32 with no parallelism loss
    // at bench scale (measured: q156 10.5 → 8.0 s; q35/q37/q58 flat) —
    // at 100 TB this knob follows state size, not a constant. Restored
    // only after awaitTermination: the stream thread clones the session
    // conf asynchronously after start() returns, so restoring in a finally
    // on start() races the clone and the first micro-batch can plan with
    // the restored value.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = spark.conf.get(
      "spark.sql.streaming.noDataMicroBatches.enabled", "true")
    // 4 state-store partitions by default (r10 rationale above);
    // SPARK_GRAFT_STREAM_PARTS overrides for A/B runs (r11 measured 2 ≈ 4
    // at bench scale — the floor is planning + batch + spool round-trip,
    // not store count)
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "4"))
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      noDataBatch.toString)
    val tdf = transform(src)
    try {
      val q = tdf.writeStream
        .outputMode(outputMode)
        .option("checkpointLocation", s"$spool/ck")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val target = if (perBatch) s"$outDir/batch_id=$id" else outDir
          // NOT coalesce(1): folding the spool write to one task pulls the
          // stateful stage into that task too (no shuffle boundary between
          // state ops and the sink), serializing the state-store work —
          // measured 13.6 s vs 11.3 s on the 6-query streaming set
          // (BASELINE.md r13 A/B). The per-batch write-job overhead is not
          // the floor; per-batch planning + state commits are.
          batch.write.mode("overwrite").parquet(target)
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      mark("plan+start")
      q.awaitTermination()
      mark("run+terminate")
      if (prof) q.recentProgress.foreach { p =>
        System.err.println(s"[spool]   batch ${p.batchId} rows=${p.numInputRows} " +
          s"durations=${p.durationMs}")
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
    if (!new java.io.File(outDir).exists())
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tdf.schema)
    // complete mode: the spool holds exactly one directory of files with
    // the transform's own schema — declare it instead of paying a footer
    // inference read. Per-batch modes keep inference: the batch_id
    // partition column's inferred type is part of the downstream plan.
    val all =
      if (perBatch) spark.read.parquet(outDir)
      else spark.read.schema(tdf.schema).parquet(outDir)
    mark("spool re-read")
    if (perBatch && updateKeys.nonEmpty)
      graft.ops.Relational.dedupKeepFirst(all, updateKeys,
        Seq(col("batch_id").desc)).drop("batch_id")
    else if (perBatch) all.orderBy(col("batch_id")).drop("batch_id")
    else all
  }

  /** Tumbling-window counts/sums per event_type with a watermark. */
  def tumblingCounts(events: DataFrame, width: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // decimal sum -> order-independent, matches the batch oracle exactly
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("total"))

  /** Sliding-window counts (width/slide) per event_type. */
  def slidingCounts(events: DataFrame, width: String, slide: String): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"))

  /** Session windows (gap-merged): consecutive events of a user closer than
    * `gap` coalesce into one session. Works identically in batch and
    * streaming plans (streaming adds watermark-driven state eviction). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: Option[String] = None): DataFrame =
    watermark.fold(events)(events.withWatermark("ts", _))
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
        col("user_id"), col("n_events"), col("total"))

  /** Streaming load path (the reference's K1 sink as a stream): foreachBatch
    * writing each micro-batch to a batch-id-keyed directory with overwrite —
    * replaying a batch after failure rewrites the same directory, giving
    * exactly-once output on top of at-least-once delivery (the standard
    * idempotent-sink recipe; swap the directory write for a MERGE INTO on a
    * transactional table without touching the query). */
  def streamToParquet(spark: SparkSession, dir: String, outDir: String,
                      transform: DataFrame => DataFrame = identity): Unit = {
    val srcDir = sharedEventsDir(dir)
    val src = streamSource(spark, srcDir.toString)
    val q = transform(src).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Streaming MERGE load (§2.9 × the transactional sink): each micro-batch
    * upserts into a [[graft.layout.MergeTable]] via foreachBatch — batchId
    * replay protection makes the sink exactly-once, and the newer-wins
    * `updateWhen` condition makes the final table independent of batch
    * arrival order (each key ends at its max-(ts, event_id) event — the
    * streaming materialized-view shape: "current state per key" maintained
    * incrementally, merge cost per batch proportional to the batch's
    * buckets, not the table). The events file is split into `nFiles`
    * range-partitioned files streamed one per micro-batch, so the merge
    * genuinely runs multiple incremental commits. */
  /** The range-partitioned micro-batch files for [[streamUpsert]], built
    * ONCE per (sfDir, nFiles) and shared across queries and bench re-runs
    * (read-only after creation). The CHECKPOINT stays per-call — reusing a
    * checkpoint would mark the batches already-processed and skip them. */
  private val splitDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private def sharedSplitDir(spark: SparkSession, dir: String,
                             nFiles: Int): java.nio.file.Path =
    splitDirs.computeIfAbsent(s"$dir|$nFiles", _ => {
      val d = graft.util.Cleanup.registerExitDir(
        java.nio.file.Files.createTempDirectory("graft_stream_upsert_files"))
      // normalize BEFORE writing: the split files carry TimestampType, so
      // the stream below needs no per-encoding logic of its own
      graft.model.Tables.events(spark, dir)
        .repartitionByRange(nFiles, col("event_id"))
        .write.mode("overwrite").parquet(s"$d/files")
      d
    })

  /** Pre-materialize [[streamUpsert]]'s shared split files without running
    * a stream — for harnesses (ScaleCheck) that want to time the
    * micro-batch MERGE path alone, not the one-time repartition+rewrite of
    * the source table the first call pays. */
  def warmStreamUpsertFiles(spark: SparkSession, dir: String,
                            nFiles: Int = 2): Unit = {
    sharedSplitDir(spark, dir, nFiles); ()
  }

  /** The upsert micro-batch body shared by [[streamUpsert]] and
    * [[streamUpsertCrashResume]]: keep the batch's newest row per key
    * (single OR composite — the tuple-hashed ⊕K8 form, r15), MERGE with
    * newer-wins semantics and the batch id for idempotence. */
  private def mergeUpsertBatch(tableDir: String, keys: Seq[String])
                              (batch: DataFrame, id: Long): Unit = {
    import graft.layout.MergeTable
    val newerWins = Some((s: String => org.apache.spark.sql.Column,
                          t: String => org.apache.spark.sql.Column) =>
      s("ts") > t("ts") || (s("ts") === t("ts") && s("event_id") > t("event_id")))
    // MERGE wants one row per key TUPLE per batch: keep the batch's newest
    val latest = graft.ops.Relational.dedupKeepFirst(batch, keys,
        Seq(col("ts").desc, col("event_id").desc))
      .withColumn("op_flag", lit("update")) // update-of-unmatched inserts
    // 4 buckets: the upsert table is keyed by user_id (~150 keys at the
    // bench tier); the default 16 quadruples per-commit file+stats I/O
    // across the 3+ replay commits for nothing. Bucket count pins at
    // table creation — size it to the table, not a constant.
    MergeTable.mergeKeys(batch.sparkSession, tableDir, latest, keys,
      numBuckets = 4, batchId = id, updateWhen = newerWins)
    ()
  }

  private def upsertSource(spark: SparkSession, filesPath: String): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(filesPath).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(filesPath)
      .select("user_id", "event_id", "ts", "event_type", "value")

  // nFiles = replay granularity, not a correctness knob (the oracle's
  // latest-per-key argmax is batch-count-invariant); 2 micro-batches
  // demonstrate the multi-commit replay protocol at half of 3's fixed
  // per-batch MERGE cost
  def streamUpsert(spark: SparkSession, dir: String, tableDir: String,
                   nFiles: Int = 2,
                   keys: Seq[String] = Seq("user_id")): DataFrame = {
    import graft.layout.MergeTable
    val filesDir = sharedSplitDir(spark, dir, nFiles)
    val srcDir = graft.util.Cleanup.registerTempDir(
      java.nio.file.Files.createTempDirectory("graft_stream_upsert"))
    val q = upsertSource(spark, s"$filesDir/files").writeStream
      .option("checkpointLocation", s"$srcDir/ck")
      .foreachBatch(mergeUpsertBatch(tableDir, keys) _)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    MergeTable.read(spark, tableDir)
  }

  /** The K8 exactly-once claim, PROVEN by crashing: run the same upsert
    * stream but kill the query immediately AFTER the MERGE of batch
    * `crashAfterBatch` has committed — the worst-case failure window
    * (sink transaction landed, streaming checkpoint did not). The restart
    * on the same checkpoint replays that batch with the SAME batchId (the
    * Structured Streaming replay contract for a replayable source +
    * AvailableNow); `MergeTable.merge` sees `manifest.batchId >= id` and
    * returns None (idempotent skip), so the doubled delivery collapses to
    * exactly-once and the final table is identical to an uninterrupted
    * run — asserted in MergeTableSpec and oracle-checked end-to-end
    * (q141, same latest-per-key oracle as q64). */
  def streamUpsertCrashResume(spark: SparkSession, dir: String,
                              tableDir: String, nFiles: Int = 2,
                              crashAfterBatch: Long = 0L,
                              keys: Seq[String] = Seq("user_id")): DataFrame = {
    import graft.layout.MergeTable
    val filesDir = sharedSplitDir(spark, dir, nFiles)
    val srcDir = graft.util.Cleanup.registerTempDir(
      java.nio.file.Files.createTempDirectory("graft_stream_upsert_crash"))
    val crashMsg = "graft: injected post-commit crash"
    def run(bomb: Boolean): Unit = {
      val q = upsertSource(spark, s"$filesDir/files").writeStream
        .option("checkpointLocation", s"$srcDir/ck")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          mergeUpsertBatch(tableDir, keys)(batch, id)
          // crash AFTER the sink commit, BEFORE the checkpoint records
          // the batch — the replay-window failure
          if (bomb && id == crashAfterBatch) throw new RuntimeException(crashMsg)
        }
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          var cause: Throwable = e
          var injected = false
          while (cause != null && !injected) {
            injected = Option(cause.getMessage).exists(_.contains(crashMsg))
            cause = cause.getCause
          }
          if (!injected) throw e // a real failure, not our bomb
      }
    }
    run(bomb = true)
    // the bomb must actually have interrupted mid-stream: only the batches
    // up to the crash committed (one table version per applied batch)
    val afterCrash = MergeTable.versions(tableDir).length
    require(afterCrash == crashAfterBatch + 1,
      s"crash-resume harness: expected ${crashAfterBatch + 1} committed " +
        s"versions at the crash point, found $afterCrash")
    run(bomb = false)
    // exactly-once: the replayed batch was SKIPPED (no extra version), the
    // remaining batches each committed once
    val afterResume = MergeTable.versions(tableDir).length
    require(afterResume == nFiles,
      s"crash-resume harness: expected $nFiles total versions after " +
        s"resume (replay must not double-commit), found $afterResume")
    MergeTable.read(spark, tableDir)
  }

  /** The static dimension for [[streamStaticEnrich]]: event_type →
    * (category, weight). Tiny and literal here; at scale this is any
    * batch table — the join mechanics are identical. */
  def typeDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("click", "engagement", 1L), ("view", "engagement", 1L),
      ("signup", "conversion", 5L), ("purchase", "conversion", 10L),
      ("error", "ops", 0L)).toDF("event_type", "category", "weight")
  }

  /** Stream-static enrichment join (§2.9): every micro-batch of the stream
    * hash-joins against a STATIC batch table, then aggregates per window ×
    * dimension attribute. Unlike a stream-stream join this needs NO join
    * state at all — the static side is simply (re)planned per micro-batch
    * and broadcast when small, the standard "enrich the stream with a dim
    * table" shape (at 100 TB: a slowly-changing dim republished between
    * runs; each micro-batch sees the version current at batch planning).
    * The weighted sum stays in DECIMAL × integer weights — exact, so the
    * batch oracle hashes identically. */
  def streamStaticEnrich(events: DataFrame, dim: DataFrame,
                         width: String = "15 minutes"): DataFrame =
    events.join(broadcast(dim), Seq("event_type"))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), width), col("category"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * col("weight")).cast("double").as("wtotal"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("category"), col("n"), col("wtotal"))

  /** Streaming dedup on the natural key within the watermark — the
    * reference's re-run idempotency (main.py re-create semantics),
    * expressed as exactly-once-per-key. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .dropDuplicates("event_id")

  /** One scratch dir per sfDir holding TWO copies of events.parquet — a
    * deliberately duplicated landing directory for [[streamingDedupRun]]
    * (at-least-once upstream delivery: every event arrives twice). The
    * copies get distinct mtimes so FileStreamSource orders them into
    * separate micro-batches (same result either way — the dedup state is
    * cross-batch). Read-only after creation, exit-scoped, shared across
    * bench re-runs like [[sharedEventsDir]]. */
  private val dupDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private def duplicatedEventsDir(dir: String): java.nio.file.Path =
    dupDirs.computeIfAbsent(dir, _ => {
      val d = graft.util.Cleanup.registerExitDir(
        java.nio.file.Files.createTempDirectory("graft_stream_dup_src"))
      val src = java.nio.file.Paths.get(dir, "events.parquet")
      val a = d.resolve("events_copy_a.parquet")
      val b = d.resolve("events_copy_b.parquet")
      java.nio.file.Files.copy(src, a)
      java.nio.file.Files.copy(src, b)
      a.toFile.setLastModified(1000000000000L)
      b.toFile.setLastModified(1000000060000L)
      d
    })

  /** Streaming exact dedup with WATERMARK-BOUNDED state, run to
    * completion over a doubled landing directory: every event is
    * delivered twice (the at-least-once upstream), and
    * `dropDuplicatesWithinWatermark` collapses redelivery to
    * exactly-one-per-key. The scale property vs plain `dropDuplicates`:
    * per-key state EXPIRES once the watermark passes the key's event time
    * + delay, so state is bounded by the redelivery horizon (delay × event
    * rate), not corpus history — the only shape that survives an unbounded
    * stream. A redelivery older than the watermark is dropped as late
    * input before it ever probes state, which is the same exactly-once
    * outcome by a cheaper path. Append mode: each key's first arrival is
    * emitted exactly once, so the spool IS the deduplicated stream. */
  def streamingDedupRun(spark: SparkSession, dir: String,
                        delay: String = "10 minutes"): DataFrame =
    // noDataBatch off: dedup emits each first arrival eagerly in its data
    // batch; the final empty batch would only evict state (spoolRun doc)
    spoolRun(spark, duplicatedEventsDir(dir).toString, "append",
        maxFilesPerTrigger = Some(1), noDataBatch = false) { ev =>
      ev.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark("event_id")
    }

  /** The STATE-STORE sibling of [[streamUpsertCrashResume]]'s exactly-once
    * proof: crash the watermarked dedup stream right after batch 0's sink
    * write lands but BEFORE the checkpoint records it (the replay window),
    * then resume from the same checkpoint. The restart replays batch 0
    * with the same batchId against the version-0 state store — the
    * replayed emission overwrites the same `batch_id=0` directory
    * (idempotent sink), the rebuilt dedup state then absorbs the doubled
    * batch-1 delivery, and the final spool must equal the original table
    * exactly (asserted in EventStreamsSpec). This covers the failure mode
    * K8's MergeTable-manifest proof cannot: correctness of HDFS-backed
    * state-store version replay, not sink-side idempotence alone. */
  def streamingDedupCrashResume(spark: SparkSession, dir: String,
                                delay: String = "10 minutes"): DataFrame = {
    val srcPath = duplicatedEventsDir(dir).toString
    val spool = graft.util.Cleanup.registerTempDir(
      java.nio.file.Files.createTempDirectory("graft_sdedup_crash"))
    val outDir = s"$spool/out"
    val crashMsg = "graft: injected post-sink crash (stateful dedup)"
    def run(bomb: Boolean): Unit = {
      val src = spark.readStream
        .schema(spark.read.parquet(srcPath).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcPath)
      // restore after awaitTermination (same async-clone race as the
      // outer-join harness — see streamOuterJoinCrashResume); the try
      // opens at the conf.set so a start()-time failure (analysis error,
      // bad checkpoint) cannot leave the session pinned at 4 partitions
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        val q = graft.model.Tables.normalizeTs(src)
            .withWatermark("ts", delay)
            .dropDuplicatesWithinWatermark("event_id")
            .writeStream.outputMode("append")
            .option("checkpointLocation", s"$spool/ck")
            .foreachBatch { (batch: DataFrame, id: Long) =>
              batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
              if (bomb && id == 0L) throw new RuntimeException(crashMsg)
            }
            .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination()
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException =>
            var cause: Throwable = e
            var injected = false
            while (cause != null && !injected) {
              injected = Option(cause.getMessage).exists(_.contains(crashMsg))
              cause = cause.getCause
            }
            if (!injected) throw e // a real failure, not our bomb
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    def batchDirs(): Int = {
      val d = new java.io.File(outDir)
      if (!d.exists()) 0 else d.listFiles().count(_.getName.startsWith("batch_id="))
    }
    run(bomb = true)
    // the bomb must actually have interrupted mid-stream: batch 0's sink
    // write landed, batch 1 never ran
    require(batchDirs() == 1,
      s"crash harness: expected exactly batch 0 spooled at the crash " +
        s"point, found ${batchDirs()} batch dirs")
    run(bomb = false)
    // the resume replayed batch 0 (same dir, overwritten) AND processed
    // the redelivery batch — both directories exist exactly once
    require(batchDirs() == 2,
      s"crash harness: expected 2 batch dirs after resume, found ${batchDirs()}")
    spark.read.parquet(outDir).drop("batch_id")
  }

  /** Time-ordered split of the events table: `nFiles` range-partitioned
    * (by ts) parquet files with mtimes in range order, so a
    * maxFilesPerTrigger=1 stream replays the month as an in-order
    * sequence of micro-batches and the watermark ADVANCES batch over
    * batch (a single-file source pins the watermark at its epoch for the
    * whole run — outer joins would never emit their null side). Range
    * partitioning also means no row is ever late: batch k's minimum ts
    * exceeds batch k-1's maximum. */
  private val timeSplitDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private def timeSplitEventsDir(spark: SparkSession, dir: String,
                                 nFiles: Int): java.nio.file.Path =
    timeSplitDirs.computeIfAbsent(s"$dir|$nFiles", _ => {
      val d = graft.util.Cleanup.registerExitDir(
        java.nio.file.Files.createTempDirectory("graft_stream_timesplit"))
      graft.model.Tables.events(spark, dir)
        .repartitionByRange(nFiles, col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(s"$d/files")
      // stamp mtimes in ts order so FileStreamSource's (mtime, path) order
      // matches range order
      val files = new java.io.File(s"$d/files").listFiles()
        .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
      files.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1000000000000L + i * 60000L) }
      d
    })

  /** Pre-materialize [[streamOuterJoinRun]]'s time-split files without
    * running the stream — harnesses (ScaleCheck) time the join, not the
    * one-time repartitionByRange+rewrite of the landing dir. */
  def warmTimeSplitFiles(spark: SparkSession, dir: String,
                         nFiles: Int = 16): Unit = {
    timeSplitEventsDir(spark, dir, nFiles); ()
  }

  /** Stream-stream LEFT OUTER interval join: every `leftType` event paired
    * with the same user's `rightType` events within `within`, AND left
    * events with NO such match emitted once with a null right side when
    * the watermark passes their join horizon (l_ts + within + delay) —
    * the attribution shape where "never converted" is itself the signal.
    * State on both sides stays bounded by (delay + within) exactly as in
    * [[intervalJoin]]; the null-side emission is what the inner form
    * cannot express. Run via [[streamOuterJoinRun]] so the watermark
    * actually advances (see [[timeSplitEventsDir]]). */
  def intervalJoinOuter(events: DataFrame, leftType: String,
                        rightType: String, within: String = "30 minutes",
                        watermark: String = "1 hour"): DataFrame = {
    val l = events.filter(col("event_type") === leftType)
      .select(col("event_id").as("l_id"), col("user_id"), col("ts").as("l_ts"))
      .withWatermark("l_ts", watermark)
    val r = events.filter(col("event_type") === rightType)
      .select(col("event_id").as("r_id"), col("user_id").as("__ru"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", watermark)
    l.join(r,
        col("user_id") === col("__ru") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"),
        "leftOuter")
      .select(col("l_id"), col("user_id"), col("l_ts"), col("r_id"))
  }

  /** Run [[intervalJoinOuter]] to completion over the time-split landing
    * dir and roll the match stream up per left event (n_matches = 0 rows
    * are the unmatched nulls). Left events too close to the stream's end
    * (inside `safety` of max ts) are excluded AFTER the stream: their
    * no-match verdict is still buffered when a finite replay ends, so
    * only the settled region is comparable across engines — the exact
    * cutoff is recomputed identically by the oracle.
    *
    * `nFiles` = replay granularity, NOT a correctness knob: any value
    * ≥ 2 yields the identical settled region (range partitioning means
    * no late rows; the AvailableNow final no-data batch advances the
    * watermark to maxTs − delay, far past the `safety` cutoff, flushing
    * every settled no-match verdict). 2 batches are the minimum that
    * still demonstrates the multi-batch watermark advance — the per-batch
    * cost is a full stateful outer-join step committing 4 state stores
    * per shuffle partition, pure replay protocol (r10 cut 8→4, r11 4→2;
    * oracle-identical at every count, per this doc's invariant). */
  def streamOuterJoinRun(spark: SparkSession, dir: String,
                         leftType: String, rightType: String,
                         nFiles: Int = 2,
                         safety: String = "5 days"): DataFrame = {
    val split = timeSplitEventsDir(spark, dir, nFiles)
    val spooled = spoolRun(spark, s"$split/files", "append",
        maxFilesPerTrigger = Some(1)) { ev =>
      intervalJoinOuter(ev, leftType, rightType)
    }
    settledRollup(spark, dir, spooled, safety)
  }

  /** Shared tail of the outer-join runs: per-left-event match rollup
    * restricted to the settled region (see [[streamOuterJoinRun]]). */
  private def settledRollup(spark: SparkSession, dir: String,
                            spooled: DataFrame, safety: String): DataFrame = {
    val maxTs = graft.model.Tables.events(spark, dir)
      .agg(max(col("ts")).as("mt"))
    spooled.groupBy(col("l_id"), col("user_id"), col("l_ts"))
      .agg(count(col("r_id")).as("n_matches"))
      .crossJoin(broadcast(maxTs))
      .filter(col("l_ts") < col("mt") - expr(s"INTERVAL $safety"))
      .select(col("l_id"), col("user_id"), col("n_matches"))
  }

  /** The SYMMETRIC-JOIN-STATE sibling of the crash-resume proofs: q156's
    * stream-stream LEFT OUTER join carries the largest recovery surface
    * in the engine (4 state stores per shuffle partition — left/right
    * input buffers plus watermark eviction bookkeeping — across the
    * replayed batches). Crash AFTER `crashAfterBatch`'s sink write lands but
    * BEFORE its checkpoint commit (the replay window), resume from the
    * same checkpoint: the restart replays that batch with the same
    * batchId against the restored join state (idempotent `batch_id=N`
    * overwrite), later batches then evict/emit the null side off the
    * REBUILT watermark state. The spec asserts the settled rollup equals
    * the uninterrupted [[streamOuterJoinRun]] bit for bit — proving
    * state-store version replay for the join operator, which the
    * MergeTable-manifest (q141) and dedup-state (streamingDedup) proofs
    * do not cover. */
  def streamOuterJoinCrashResume(spark: SparkSession, dir: String,
                                 leftType: String, rightType: String,
                                 nFiles: Int = 4,
                                 safety: String = "5 days",
                                 crashAfterBatch: Long = 2L): DataFrame = {
    val split = timeSplitEventsDir(spark, dir, nFiles)
    val srcPath = s"$split/files"
    val spool = graft.util.Cleanup.registerTempDir(
      java.nio.file.Files.createTempDirectory("graft_sojoin_crash"))
    val outDir = s"$spool/out"
    val crashMsg = "graft: injected post-sink crash (stream-stream outer join)"
    def run(bomb: Boolean): Unit = {
      val src = spark.readStream
        .schema(spark.read.parquet(srcPath).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcPath)
      // restore the conf only AFTER awaitTermination: the stream thread
      // clones the session conf asynchronously after start() returns, so a
      // finally on start() races the clone and the first micro-batch can
      // plan with the restored partition count (pinning 32 state stores in
      // the checkpoint instead of the documented 4)
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        val q = intervalJoinOuter(graft.model.Tables.normalizeTs(src),
              leftType, rightType)
            .writeStream.outputMode("append")
            .option("checkpointLocation", s"$spool/ck")
            .foreachBatch { (batch: DataFrame, id: Long) =>
              batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
              if (bomb && id == crashAfterBatch) throw new RuntimeException(crashMsg)
            }
            .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination()
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException =>
            var cause: Throwable = e
            var injected = false
            while (cause != null && !injected) {
              injected = Option(cause.getMessage).exists(_.contains(crashMsg))
              cause = cause.getCause
            }
            if (!injected) throw e // a real failure, not our bomb
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    def batchDirs(): Long = {
      val d = new java.io.File(outDir)
      if (!d.exists()) 0L
      else d.listFiles().count(_.getName.startsWith("batch_id=")).toLong
    }
    run(bomb = true)
    // the bomb must actually have interrupted mid-stream: batches 0..crash
    // landed in the sink, nothing after
    require(batchDirs() == crashAfterBatch + 1,
      s"crash harness: expected ${crashAfterBatch + 1} batch dirs at the " +
        s"crash point, found ${batchDirs()}")
    run(bomb = false)
    require(batchDirs() >= nFiles,
      s"crash harness: expected >= $nFiles batch dirs after resume, " +
        s"found ${batchDirs()}")
    settledRollup(spark, dir,
      spark.read.parquet(outDir).drop("batch_id"), safety)
  }

  /** Exactly-once CDC DELIVERY as a Structured Streaming job (⊕K7 × §2.9):
    * follow a MergeTable's commit history and append each newly committed
    * window's net change rows ([[graft.layout.MergeTable.changesBetween]],
    * the graft_changes relation) to a SINK MergeTable. A rate-source tick
    * drives each micro-batch — the standard ticker pattern for
    * incremental pulls from a source system with no native stream — and
    * each tick delivers the window (delivered, current], where
    *
    *   delivered = the SINK's own recorded transactional batchId,
    *   NOT ticker/checkpoint state —
    *
    * so exactly-once needs nothing from the streaming checkpoint: a tick
    * replayed after a crash, or a follower RESTARTED FROM SCRATCH with its
    * checkpoint deleted, re-derives `delivered` from the sink, and the
    * idempotent `mergeKeys(batchId = current)` collapses any double
    * delivery — the same sink-transaction contract the K8 upsert rides
    * (crash-proven there; WindowedCdcSpec pins per-window tagging,
    * restart idempotence, and mid-stream commit pickup here).
    *
    * Sink rows carry the source payload, the CDC verb as `change_op`, and
    * the window's end version as `__v`; the sink key is (__v, source
    * keys) — append-only, one row per key per window. The sink is OWNED
    * by the follower (an external writer would disturb the batchId
    * watermark). Source retention bounds what is followable, exactly as
    * for graft_changes. Returns the sink contents once `untilVersion`
    * (default: the source's version at call time) has been delivered. */
  def cdcFollow(spark: SparkSession, tableDir: String, sinkDir: String,
                pollMs: Long = 100L,
                untilVersion: Option[Long] = None,
                timeoutMs: Long = 120000L): DataFrame = {
    import graft.layout.MergeTable
    val keys = MergeTable.tableKeys(tableDir)
    val target = untilVersion.orElse(MergeTable.currentVersion(tableDir))
      .getOrElse(throw new IllegalArgumentException(
        s"cdcFollow: no MergeTable at $tableDir"))
    val ck = graft.util.Cleanup.registerTempDir(
      java.nio.file.Files.createTempDirectory("graft_cdc_follow"))
      .toString + "/ck"
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", 10).load()
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (_: DataFrame, _: Long) =>
        deliverCdcWindow(spark, tableDir, sinkDir, keys)
      }
      .trigger(Trigger.ProcessingTime(s"$pollMs milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (MergeTable.lastBatchId(sinkDir) < target &&
        System.currentTimeMillis() < deadline) {
        q.exception.foreach(throw _) // a dead follower must fail loud, not time out
        Thread.sleep(pollMs)
      }
      require(MergeTable.lastBatchId(sinkDir) >= target,
        s"cdcFollow: sink did not reach source version $target in ${timeoutMs}ms")
    } finally { q.stop(); q.awaitTermination() }
    MergeTable.read(spark, sinkDir)
  }

  /** One follower tick: deliver (sink batchId, source current] if the
    * window is non-empty. Bounded work: two manifest reads to decide, one
    * changesBetween (touched buckets only) + one sink merge to deliver. */
  private def deliverCdcWindow(spark: SparkSession, tableDir: String,
                               sinkDir: String, keys: Seq[String]): Unit = {
    import graft.layout.MergeTable
    MergeTable.currentVersion(tableDir).foreach { current =>
      val delivered = math.max(0L, MergeTable.lastBatchId(sinkDir))
      if (current > delivered) {
        val win = MergeTable.changesBetween(spark, tableDir, delivered, current)
          .withColumnRenamed("op_flag", "change_op")
          .withColumn("__v", lit(current))
          .withColumn("op_flag", lit("create"))
        MergeTable.mergeKeys(spark, sinkDir, win, "__v" +: keys,
          batchId = current)
        ()
      }
    }
  }

  /** CDC-DRIVEN INDEX MAINTENANCE (r17 — VERDICT r16 task 3, closing the
    * loop between ⊕K7's CDC and ⊕A53's index maintenance): follow a
    * document MergeTable's commit history and apply each newly committed
    * window — inserts/updates as index upserts, deletes as index deletes,
    * BOTH verbs in the window's ONE
    * [[graft.text.TextAnalysis.indexApplyLayout]] commit — to an at-rest
    * inverted-index layout. The [[cdcFollow]] discipline with the INDEX
    * as the sink:
    *
    *   delivered = the index layout's own recorded transactional batchId,
    *   NOT ticker/checkpoint state —
    *
    * so exactly-once needs nothing from the streaming checkpoint: a tick
    * replayed after a crash, or a follower restarted from scratch,
    * re-derives `delivered` from the index and the batchId-guarded apply
    * collapses any double delivery. Contract: the index was built over
    * the table's version-`fromVersion` SNAPSHOT (0 = the table's first
    * commit, the common case — for a later baseline, stamp the index
    * first with an empty `indexApplyLayout(batchId = fromVersion)`).
    * Returns once `untilVersion` (default: the source's version at call
    * time) has been applied. */
  def cdcIndexFollow(spark: SparkSession, tableDir: String, idxDir: String,
                     idCol: String = "doc_id", textCol: String = "text",
                     buckets: Int = 16, pollMs: Long = 100L,
                     untilVersion: Option[Long] = None,
                     timeoutMs: Long = 120000L): Unit = {
    import graft.layout.{LayoutTxn, MergeTable}
    val target = untilVersion.orElse(MergeTable.currentVersion(tableDir))
      .getOrElse(throw new IllegalArgumentException(
        s"cdcIndexFollow: no MergeTable at $tableDir"))
    val ck = graft.util.Cleanup.registerTempDir(
      java.nio.file.Files.createTempDirectory("graft_cdc_idx"))
      .toString + "/ck"
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", 10).load()
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (_: DataFrame, _: Long) =>
        deliverIndexWindow(spark, tableDir, idxDir, idCol, textCol, buckets)
      }
      .trigger(Trigger.ProcessingTime(s"$pollMs milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (LayoutTxn.lastBatchId(idxDir) < target &&
        System.currentTimeMillis() < deadline) {
        q.exception.foreach(throw _) // a dead follower fails loud, not slow
        Thread.sleep(pollMs)
      }
      require(LayoutTxn.lastBatchId(idxDir) >= target,
        s"cdcIndexFollow: index did not reach source version $target " +
          s"in ${timeoutMs}ms")
    } finally { q.stop(); q.awaitTermination() }
  }

  /** One index-follower tick: apply (index batchId, source current] if
    * non-empty. Bounded work: one manifest read + one version-state read
    * to decide; one changesBetween (touched buckets only) + one
    * indexApplyLayout (touched tb/dm partitions only) to deliver. */
  private def deliverIndexWindow(spark: SparkSession, tableDir: String,
                                 idxDir: String, idCol: String,
                                 textCol: String, buckets: Int): Unit = {
    import graft.layout.{LayoutTxn, MergeTable}
    MergeTable.currentVersion(tableDir).foreach { current =>
      val delivered = math.max(0L, LayoutTxn.lastBatchId(idxDir))
      if (current > delivered) {
        val win = MergeTable.changesBetween(spark, tableDir, delivered,
            current)
          .transform(graft.util.Cleanup.checkpoint(_))
        graft.text.TextAnalysis.indexApplyLayout(spark, idxDir,
          win.filter(col("op_flag") =!= "delete")
            .select(col(idCol), col(textCol)),
          Some(win.filter(col("op_flag") === "delete").select(col(idCol))),
          idCol, col(textCol), buckets, batchId = current)
        ()
      }
    }
  }

  /** Drive a foreachBatch `sink` over a parquet file directory — one
    * micro-batch per file (maxFilesPerTrigger=1, AvailableNow) — the ⊕K8
    * harness for the EXACTLY-ONCE streaming index ingests
    * ([[graft.dedup.Dedup.Tier.ingestSink]],
    * [[graft.sim.Similarity.ivfUpsertSink]]): every batch's index append
    * (and candidate-pair delivery) share one LayoutTxn commit keyed by the
    * batchId, so a crash-replayed batch is skipped whole on restart from
    * the same checkpoint. */
  def fileIngestStream(spark: SparkSession, filesPath: String,
                       sink: (DataFrame, Long) => Unit,
                       checkpoint: Option[String] = None): Unit = {
    val ck = checkpoint.getOrElse(graft.util.Cleanup.registerTempDir(
      java.nio.file.Files.createTempDirectory("graft_file_ingest"))
      .toString + "/ck")
    val q = spark.readStream
      .schema(spark.read.parquet(filesPath).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(filesPath)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch(sink)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }
}
