package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scale smoke: multiplies the sf0.1 tables in-memory (union of shifted
  * copies — unique keys preserved) and times the headline operator shapes
  * at ~10-100× the bench tier, printing rows/sec per operator. This is the
  * local stand-in for the 1000-executor question: does throughput stay
  * data-parallel when the data no longer fits a single task?
  *
  * Usage: runMain graft.ScaleCheck [multiplier] [probe1,probe2,...]
  * The optional second arg restricts the run to probes whose label starts
  * with one of the given prefixes — the way to push ONE shape to a higher
  * tier (e.g. `256 contamination_pairs,pmi_collocations`) without paying
  * for the whole suite at that multiplier.
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val mult = if (args.nonEmpty) args(0).toInt else 16
    val only = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def want(label: String): Boolean = only.forall(_.exists(label.startsWith))
    // thread count shared with the HostLoad.measure call below: HostLoad's
    // calibration reference is pinned for local[32] and self-disables on
    // any other count — passing the literal here keeps that guard honest
    // if this master line ever changes
    val cpus = "32"
    // 32 partitions: high multipliers can need more initial partitions to
    // keep a shuffle partition inside execution memory (AQE coalesces
    // back down when small) — override per run:
    val spark = graft.util.SessionTuning.session(cpus.toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val d = "/root/testdata/sf0.1"

    def amplify(df: DataFrame, keyCols: Seq[String]): DataFrame = {
      val n = df.count()
      (0 until mult).map { i =>
        keyCols.foldLeft(df)((acc, k) => acc.withColumn(k, col(k) + lit(i * n * 10)))
      }.reduce(_ union _)
    }

    val li = amplify(model.Tables.lineitem(spark, d), Seq("l_orderkey"))
    // materialize the amplified corpus BEFORE timing (the pagerank-edges
    // discipline): a mult-branch union re-plans and re-scans mult parquet
    // branches inside every probe, and at mult=256 that overhead dominates
    // the operator being measured — a real corpus at this size is ONE
    // table, not a 256-way union. lazy: restricted lineitem-only runs
    // never pay the materialization.
    lazy val docs = (0 until mult).map { i =>
      model.Tables.documents(spark, d)
        .withColumn("doc_id", col("doc_id") + lit(i * 100000))
        // vary the text per copy so dedup/fingerprint work isn't degenerate
        .withColumn("text", concat(col("text"), lit(" v" + i)))
    }.reduce(_ union _).transform(graft.util.Cleanup.checkpoint(_))

    spark.range(1000000).selectExpr("sum(id)").collect() // warmup
    // every probe line carries the measured host-load calibration (r10
    // verdict task 7): the probe TRENDS are the 100 TB evidence, and a
    // loaded window could otherwise pollute a trend point without a trace
    val hostLoad = graft.util.HostLoad.measure(spark, cpus)
    // spill accounting (r10 verdict task 4): per-task spill bytes summed
    // over each probe's window, so the spill-resilience tier
    // (SPARK_DRIVER_MEM=8g, the heaviest shapes at 64x) records WHETHER
    // memory pressure degraded into spill and kept completing, not just
    // that wall time rose. Atomic because task-end events arrive on the
    // listener bus thread.
    val memSpill = new java.util.concurrent.atomic.AtomicLong(0)
    val diskSpill = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach { m =>
            memSpill.addAndGet(m.memoryBytesSpilled)
            diskSpill.addAndGet(m.diskBytesSpilled); ()
          }
      })
    def time(label: String, rows: => Long)(f: => Unit): Unit = if (want(label)) {
      // force the row count FIRST: it is an action over the amplified
      // union, so evaluating it here materializes the corpus checkpoint
      // BEFORE the timed window — in restricted runs (the `only` arg) no
      // earlier println has forced it, and without this the first selected
      // probe's time would include corpus materialization
      val n = rows
      val (m0, d0) = (memSpill.get(), diskSpill.get())
      val t0 = System.nanoTime(); f
      val s = (System.nanoTime() - t0) / 1e9
      // give the listener bus a beat to drain the probe's task-end events
      // (outside the timed window; the bus is async and private[spark])
      Thread.sleep(300)
      val (mS, dS) = (memSpill.get() - m0, diskSpill.get() - d0)
      println(f"[scale] $label: $s%.2f s  (${n / s / 1e6}%.1f M rows/s)" +
        f"  host_load=$hostLoad%.2f  heap=${Runtime.getRuntime.maxMemory() >> 20}m" +
        f"  spill_mem=${mS >> 20}MB spill_disk=${dS >> 20}MB")
    }

    // counts are actions over the full amplified union — only pay for the
    // tables the selected probes actually touch
    lazy val nLi = li.count()
    lazy val nDocs = docs.count()
    if (only.isEmpty) {
      println(s"[scale] lineitem rows: $nLi, documents rows: $nDocs (mult=$mult)")
    } else println(s"[scale] restricted probes: ${only.get.mkString(",")} (mult=$mult)")

    time("agg_q1_shape", nLi) {
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("sq"),
          count(lit(1)).as("n")).collect()
    }
    time("window_topk_per_group", nLi) {
      ops.Relational.topKPerGroup(li, 3,
        Seq(col("l_returnflag"), col("l_linestatus")),
        Seq(col("l_extendedprice").desc, col("l_orderkey").asc)).count()
    }
    time("group_profilers", nLi) {
      // the r11 null-safe join-back path: grouped bounds (broadcast) back
      // onto the corpus — per-unit cost must stay flat as the corpus
      // multiplies because the profile side scales with GROUPS, not rows.
      // l_suppkey keys ~10k groups; forced through the derived columns so
      // column pruning cannot hollow the probe (verify skill gotcha).
      ops.Relational.histogram(li, "l_suppkey", "l_extendedprice", 16)
        .agg(max(col("lo_edge")), sum(col("n"))).collect()
      ops.Relational.winsorizedStatsApprox(
          li, "l_suppkey", "l_extendedprice", 0.05, 0.95, 1000)
        .agg(max(col("clipped_mean")), sum(col("n"))).collect()
    }
    time("exact_dedup_fingerprint", nDocs) {
      dedup.Dedup.exact(docs, col("text"), Seq(col("doc_id"))).count()
    }
    time("quality_filter", nDocs) {
      text.TextAnalysis.qualityFilter(docs, col("text")).filter(col("keep")).count()
    }
    time("sort_merge_self_join", nLi) {
      val o = li.select(col("l_orderkey").as("k"), col("l_extendedprice").as("p"))
      o.hint("merge").join(o.hint("merge"), Seq("k")).count()
    }
    time("neardup_clusters", nDocs) {
      // full LSH -> connected-components pipeline; the amplified corpus has
      // mult x the docs AND mult x the near-dup density (each source doc's
      // shingle-sharing copies land in shared band buckets)
      dedup.Dedup.nearDupClusters(docs, "doc_id", col("text")).count()
    }
    time("simhash16_native", nDocs) {
      docs.select(max(dedup.Dedup.simhash16(col("text")))).collect()
    }
    time("repetition_ratio_native", nDocs) {
      docs.select(max(text.TextAnalysis.repetitionRatio(col("text"), 3))).collect()
    }
    time("winnow_fps_native", nDocs) {
      docs.select(max(size(text.TextAnalysis.winnowFingerprints(col("text"))))).collect()
    }
    time("winnow_candidates", nDocs) {
      // full fingerprint -> df-filter -> bucket-join pipeline; the
      // amplified corpus multiplies both docs and fingerprint sharing, so
      // this probes the df-cap's bucket bound, not just the kernel
      dedup.Dedup.winnowingCandidates(docs, "doc_id", col("text")).count()
    }
    time("simhash_adjacency", nDocs) {
      dedup.Dedup.simhashAdjacency(docs, "doc_id", col("text")).count()
    }
    time("canary_ac_kernel", nDocs) {
      // one-pass multi-pattern automaton vs 3 passes per pattern: probe at
      // a 24-phrase list, where the per-pattern idiom's cost is 72 doc
      // walks and the automaton's is still one
      val pats = (0 until 24).map(i => s"scan slow fast v$i") :+ "table table key"
      text.TextAnalysis.canaryScanAC(docs, "doc_id", col("text"), pats).count()
    }
    time("term_counts_tfidf", nDocs) {
      // kernel tf (scan-stage) + df rollup + join — no (doc,term) shuffle
      text.TextAnalysis.tfidf(docs, "doc_id", col("text")).count()
    }
    time("gram_dominance_kernel", nDocs) {
      // fully shuffle-free per-doc top-gram argmax: cost must stay a
      // per-row constant — the aggregation formulation would exchange the
      // whole gram stream (≈ n_words rows per doc) twice
      text.TextAnalysis.topGramDominance(docs, "doc_id", col("text"), 2)
        .agg(max(col("top_frac"))).collect()
    }
    time("dup_span_fraction", nDocs) {
      // corpus-sized gram exchange + dup-set join-back: the one genuinely
      // super-row-local stage; watch for the gram-key shuffle staying the
      // bottleneck (it should — everything else is scan-stage kernel work)
      text.TextAnalysis.dupSpanFraction(docs, "doc_id", col("text"), 5, 2)
        .agg(max(col("dup_span_frac"))).collect()
    }
    time("rag_chunking", nDocs) {
      text.TextAnalysis.chunkForEmbedding(docs, "doc_id", col("text")).count()
    }
    time("sparse_cosine_probe", nDocs) {
      // FIXED 50-doc probe batch against the mult-scaled corpus: cost must
      // track the corpus linearly (b-side scan), never quadratically
      text.TextAnalysis.tfidfCosinePairs(docs, "doc_id", col("text"),
        0.85, probe = Some(_ < 50)).count()
    }
    time("weighted_sample", nDocs) {
      ops.Relational.weightedSample(docs, col("doc_id"),
        col("n_chars").cast("double"), 1000).count()
    }
    time("pmi_collocations", nDocs) {
      text.TextAnalysis.pmiCollocations(docs, col("text"), 5).count()
    }
    time("contamination_pairs", nDocs) {
      // the realistic shape: FIXED benchmark set (the base copy's bench
      // split) vs the mult-scaled training corpus — copies of bench docs
      // land in the train side, i.e. genuine planted contamination. The
      // df-cap scales with mult so amplified duplicates aren't all
      // boilerplate-capped away; pair volume then tracks the train side
      // linearly, never bench x train.
      dedup.Dedup.contaminationPairs(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") < 100000 && col("doc_id") % 20 === 0),
        "doc_id", col("text"), 4, maxDf = 50L * mult).count()
    }
    time("ctfidf_labels", nDocs) {
      // corpus-sized (source, word) count once, then vocab-sized tf-idf +
      // top-k window; amplified copies add v{i} marker words, so the
      // vocab side grows with mult here (real corpora: sublinear)
      text.TextAnalysis.cTfIdf(docs, "source", col("text"), 10).count()
    }
    time("entropy_filter", nDocs) {
      // two symbol branches, each TWO hash aggregations (r14: the per-doc
      // total rides the explode as size(arr) — no window, no sort, which
      // was the 1024x spill source); per-doc cost is the claim
      text.TextAnalysis.entropyProfile(docs, "doc_id", col("text"))
        .filter(!col("low_entropy")).count()
    }
    time("mixture_draw", nDocs) {
      // per-source quota fill via one source-keyed window; quotas follow
      // the temperature weights, so the sort stays per-source partial
      text.TextAnalysis.mixtureSample(docs, "doc_id", "source",
        col("text"), 1000 * mult).count()
    }
    time("dedup_span_removal", nDocs) {
      // the APPLIED sibling of dup_span_fraction: gram exchange + dup-set
      // join-back + per-doc reassembly — rewrite cost must track corpus
      // bytes, with the gram-key shuffle the only super-row-local stage
      // force the rebuilt text, not just the row count: count() would let
      // Catalyst prune the collect_list reassembly and under-time the op
      text.TextAnalysis.removeDupSpans(docs, "doc_id", col("text"), 5)
        .agg(max(length(col("cleaned_text")))).collect()
    }
    if (want("welch")) {
      val evs = amplify(model.Tables.events(spark, d),
        Seq("user_id", "event_id")).transform(graft.util.Cleanup.checkpoint(_))
      val nEv = evs.count()
      time(s"welch_ttest_${nEv}_events", nEv) {
        // six conditional decimal sums in ONE exchange; closed-form
        // doubles over a groups x 2 result — per-event cost is the claim.
        // Force the computed stats, not just the row count: a bare count()
        // lets ColumnPruning strip the six conditional sums (the probe
        // would time a distinct-count of event_type, not the test)
        ops.Relational.welchTTest(
          evs.withColumn("variant", pmod(col("user_id"), lit(2)).cast("int")),
          "event_type", "variant", "value")
          .agg(max(col("t_stat")), max(col("df_welch"))).collect()
      }
    }
    if (want("sessionize")) {
      val evs = amplify(model.Tables.events(spark, d),
        Seq("user_id", "event_id")).transform(graft.util.Cleanup.checkpoint(_))
      val nEv = evs.count()
      time(s"sessionize_${nEv}_events", nEv) {
        // per-user window state is mult-invariant (copies add USERS, not
        // events per user) — the partition-size bound that matters at scale
        ops.Relational.sessionize(evs, "user_id", "ts", "event_id", 1800)
          .count()
      }
    }
    if (want("triangles")) {
      // triangles probes the wedge-join bound: amplified orders multiply
      // EDGES (disjoint part-id spaces per copy), so wedge volume must
      // track edges linearly — the degree-ordered orientation's O(m^1.5)
      // worst case never materializes on disjoint copies
      val li0 = model.Tables.lineitem(spark, d)
        .filter(col("l_linenumber") <= 4)
        .select(col("l_orderkey"), col("l_partkey"))
      val liA = amplify(li0, Seq("l_orderkey", "l_partkey")).transform(graft.util.Cleanup.checkpoint(_))
      val edges = liA.as("a").join(liA.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .transform(graft.util.Cleanup.checkpoint(_))
      val nE = edges.count()
      time(s"triangles_${nE}_edges", nE) {
        ops.Graphs.triangleCounts(edges).count()
      }
    }
    if (want("bpe")) {
      time("bpe_learn_5r", nDocs) {
        // corpus-sized word count once, then 5 vocab-sized rounds: cost
        // must track the corpus for the count and the DISTINCT vocab for
        // the rounds (amplified copies add v{i} marker words, so vocab
        // grows with mult here; real corpora grow it sublinearly)
        text.TextAnalysis.bpeLearn(docs, col("text"), 5).count()
      }
      // the A43 kernel claim: encode cost is FLAT in merge-table size
      // (one traversal per distinct word consulting a rank index, vs the
      // chained form's one pass per rule). Compare the three lines — they
      // must be within noise of each other, not 6x/24x apart.
      val refM = text.TextAnalysis.referenceMerges
      for (k <- Seq(5, 30, refM.size)) {
        time(s"bpe_encode_${k}_rules", nDocs) {
          text.TextAnalysis.bpeApply(docs, col("text"), refM.take(k)).count()
        }
      }
    }
    if (want("cc_diameter")) {
      // adversarial topology for connectedComponents: ONE path whose
      // diameter scales with mult (4096 x mult). Pointer-jumping must
      // converge in ~log2(diameter) rounds; the operator's loud
      // non-convergence require means finishing AT ALL proves the claim —
      // compare the time across mult values: rounds grow logarithmically,
      // so per-vertex cost must FALL as the path grows.
      val nV = 4096L * mult
      val path = spark.range(nV - 1)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      time(s"cc_diameter_${nV}_path", nV) {
        // localEdgeCap = 0: the probe pins the DISTRIBUTED ladder (the
        // small-graph union-find gate would swallow sub-cap mults)
        val cc = dedup.Dedup.connectedComponents(path, localEdgeCap = 0)
        require(cc.filter(col("component") =!= 0L).count() == 0L,
          "path did not collapse to component 0")
      }
    }
    if (want("cc_gate")) {
      // the small-graph union-find gate's crossover evidence: the SAME
      // random graph (4096×mult edges, hash-derived, ~50% vertex density)
      // through both paths. The driver-side path must win below the 2^20
      // cap — that measured gap IS the justification for the gate; above
      // the cap the ladder is the only option and its cost is the
      // cc_diameter probe's territory.
      val nE = 4096L * mult
      // past the default 2^20 cap the "local" probe would silently take
      // the ladder and time the identical path twice — fail loud instead
      // (the crossover evidence only exists below the cap; run <= 256x)
      require(nE <= (1L << 20),
        s"cc_gate probe: $nE edges exceeds the 2^20 local cap — the A/B is meaningless past it")
      val edges = spark.range(nE).select(
          pmod(hash(col("id")), lit((nE / 2).max(2L))).cast("long").as("a"),
          pmod(hash(col("id") + lit(1234567L)), lit((nE / 2).max(2L))).cast("long").as("b"))
        .transform(graft.util.Cleanup.checkpoint(_))
      require(edges.count() == nE)
      time(s"cc_gate_local_${nE}_edges", nE) {
        dedup.Dedup.connectedComponents(edges)
          .agg(min(col("component"))).collect()
      }
      time(s"cc_gate_distributed_${nE}_edges", nE) {
        dedup.Dedup.connectedComponents(edges, localEdgeCap = 0)
          .agg(min(col("component"))).collect()
      }
    }
    if (want("boilerplate")) {
      // the q106 shape after the round-10 row-local rebuild: df agg +
      // bounded driver collect (≤ avgDocLen/maxDfRatio tokens at ANY
      // corpus size) + one InSet-filtered scan. Per-doc cost must fall
      // with mult; the amplified copies' v{i} marker words keep the
      // boilerplate set itself mult-invariant (df(v_i) = 1/mult).
      time("boilerplate_prune", nDocs) {
        text.TextAnalysis.pruneBoilerplateTokens(docs, "doc_id", col("text"), 0.77)
          .agg(max(length(col("clean_text"))), max(col("n_kept"))).collect()
      }
    }
    if (want("pagerank")) {
      // pagerank probes the iterative-join family at mult x edges: cost
      // per iteration is one vertex-keyed join + agg over the edge list
      val li0 = model.Tables.lineitem(spark, d)
        .select(col("l_orderkey"), col("l_suppkey"))
      val o0 = model.Tables.orders(spark, d)
        .select(col("o_orderkey"), col("o_custkey"))
      // materialize the amplified edge list BEFORE timing: the probe
      // measures the iterations, not the 16-way derivation join
      val edges = amplify(
        li0.join(o0, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("src"), col("l_suppkey").as("dst")),
        Seq("src"))
        .select((col("src") * 2).as("src"), (col("dst") * 2 + 1).as("dst"))
        .transform(graft.util.Cleanup.checkpoint(_)) // amplified customers, shared suppliers: densifies
      val nE = edges.count()
      time(s"pagerank_3it_${nE}_edges", nE) {
        ops.Graphs.pageRank(edges).count()
      }
    }

    // Streaming probes (round 7): the least-verified surface at scale and —
    // per round 6 — the most fragile. Amplified events land on disk first
    // (the FileStreamSource reads a real directory, as it would in
    // production); tumbling probes windowed-agg state throughput (copies
    // add rows per window-group, not groups, so state is mult-invariant),
    // upsert probes the foreachBatch MERGE path (distinct keys DO scale
    // with mult — the table and its per-batch delta both grow).
    if (want("stream")) {
      val evs = amplify(model.Tables.events(spark, d), Seq("user_id", "event_id"))
      val srcDir = java.nio.file.Files.createTempDirectory("scale_stream").toString
      evs.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
      val nEv = spark.read.parquet(s"$srcDir/events.parquet").count()
      time(s"stream_tumbling_${nEv}_events", nEv) {
        streaming.EventStreams.spoolRun(spark, s"$srcDir/events.parquet")(
          streaming.EventStreams.tumblingCounts(_)).count()
      }
      val upDir = java.nio.file.Files.createTempDirectory("scale_upsert").toString + "/t"
      // warm the one-time split-file materialization (full repartitionByRange
      // + parquet rewrite of the amplified events) OUTSIDE the timed block:
      // the probe measures the micro-batch MERGE path, not first-run setup
      streaming.EventStreams.warmStreamUpsertFiles(spark, srcDir)
      time(s"stream_upsert_${nEv}_events", nEv) {
        streaming.EventStreams.streamUpsert(spark, srcDir, upDir).count()
      }
      util.Cleanup.registerTempDir(java.nio.file.Paths.get(srcDir))
      util.Cleanup.registerTempDir(java.nio.file.Paths.get(upDir).getParent)
      util.Cleanup.drain()
    }

    // Watermarked streaming dedup at mult x: the landing dir carries TWO
    // copies of the amplified events (at-least-once delivery), and
    // dropDuplicatesWithinWatermark must collapse them with state bounded
    // by the watermark horizon — per-event cost across mult values is the
    // claim (state holds keys within the delay window, not history;
    // amplified copies widen the key space per window, the worst case).
    if (want("stream_dedup")) {
      val evs = amplify(model.Tables.events(spark, d), Seq("user_id", "event_id"))
      val srcDir = java.nio.file.Files.createTempDirectory("scale_sdedup").toString
      evs.write.mode("overwrite").parquet(s"$srcDir/ev")
      evs.write.mode("append").parquet(s"$srcDir/ev") // the redelivery
      val nEv = spark.read.parquet(s"$srcDir/ev").count() // 2x events
      time(s"stream_dedup_${nEv}_deliveries", nEv) {
        val out = streaming.EventStreams.spoolRun(spark, s"$srcDir/ev", "append") {
          ev => ev.withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark("event_id")
        }.count()
        require(out * 2 == nEv, s"dedup kept $out of $nEv deliveries")
      }
      util.Cleanup.registerTempDir(java.nio.file.Paths.get(srcDir))
      util.Cleanup.drain()
    }

    // Stream-stream LEFT OUTER interval join at mult x: per-event cost
    // must stay flat — join state is bounded by (watermark + interval) of
    // events per user, and amplified copies add USERS, not events per
    // user, so state per key is mult-invariant.
    if (want("stream_outer")) {
      val evs = amplify(model.Tables.events(spark, d), Seq("user_id", "event_id"))
      val srcDir = java.nio.file.Files.createTempDirectory("scale_souter").toString
      evs.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
      val nEv = spark.read.parquet(s"$srcDir/events.parquet").count()
      // one-time split-file materialization outside the timed block (the
      // stream_upsert discipline): the probe measures the stateful join
      streaming.EventStreams.warmTimeSplitFiles(spark, srcDir)
      time(s"stream_outer_${nEv}_events", nEv) {
        streaming.EventStreams.streamOuterJoinRun(spark, srcDir,
          "purchase", "click", nFiles = 16).count()
      }
      util.Cleanup.registerTempDir(java.nio.file.Paths.get(srcDir))
      util.Cleanup.drain()
    }

    // KMV sketch pass (the q157 PRODUCTION path: sketches only, no exact
    // verification side): one distinct (source, word) exchange + a
    // mergeable kmv_mins agg per source + array algebra on the pair
    // rows. Cost must track the corpus token count; the pair stage is
    // sources^2 rows of pure array math, mult-invariant.
    if (want("kmv_sketch")) {
      time("kmv_sketch_pass", nDocs) {
        val dw = docs.select(col("source").as("g"),
            explode(text.TextAnalysis.words(col("text"))).as("w")).distinct()
        val sk = dw.groupBy(col("g")).agg(expr("kmv_mins(w, 256)").as("m"))
        val pairs = sk.select(col("g").as("ga"), col("m").as("ma"))
          .join(sk.select(col("g").as("gb"), col("m").as("mb")),
            col("ga") < col("gb"))
          .select(col("ga"), col("gb"),
            size(slice(array_sort(array_union(col("ma"), col("mb"))), 1, 256))
              .as("su"))
        require(pairs.count() >= 1L)
      }
    }

    // Naive-Bayes quality scorer at mult x: train + apply are two
    // corpus-token passes and a vocab-keyed join — per-doc cost must stay
    // flat as the corpus grows (the model itself is vocab-sized and never
    // driver-collected).
    if (want("nb_quality")) {
      time("nb_quality_train_apply", nDocs) {
        text.TextAnalysis.nbQualityScore(docs, "doc_id", col("text"),
          col("lang") === "en").count()
      }
    }

    // As-of join at mult x, BOTH forms over the identical inputs: the
    // native partition-wise merge SparkPlan (one exchange per side, O(1)
    // merge state per partition) vs the union+window compose (one
    // exchange over |l|+|r| unioned rows + a running-last window). Both
    // must scale linearly; the native form's edge is the absent
    // union+sort-over-both-sides.
    if (want("asof")) {
      val evs = amplify(model.Tables.events(spark, d), Seq("user_id", "event_id"))
        .transform(graft.util.Cleanup.checkpoint(_))
      val nEv = evs.count()
      val l = evs.select(col("user_id"), col("ts"), col("event_id"))
      val r = evs.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("rts"), col("value"))
      // aggregate over the CARRIED value, not count(): a bare count lets
      // ColumnPruning delete the unreferenced running-last window (the
      // whole as-of computation) from the compose form — the probe would
      // time a union+filter, not the join
      time(s"asof_native_${nEv}_rows", nEv) {
        plans.AsofJoin(l, r, "user_id", "ts", "rts")
          .agg(count(col("value")), sum(col("value"))).collect()
      }
      time(s"asof_window_${nEv}_rows", nEv) {
        ops.Relational.asofJoin(l, r, "user_id", "ts", "rts", Seq("value"))
          .agg(count(col("value")), sum(col("value"))).collect()
      }
    }

    // Inverted index at mult x: build cost tracks corpus tokens (two
    // term-keyed exchanges); the conjunctive search must be INDEX-access
    // cheap — it reads |query terms| posting rows, so its cost is bounded
    // by posting-list length (hot-term skew), never corpus size.
    if (want("inverted")) {
      // sum posting sizes, not count(): unused aggregate expressions are
      // pruned, so a bare count would skip the collect_list entirely
      time("inverted_build", nDocs) {
        text.TextAnalysis.invertedIndex(docs, "doc_id", col("text"))
          .select(sum(size(col("postings")))).collect()
      }
      val idx = text.TextAnalysis.invertedIndex(docs, "doc_id", col("text"))
        .transform(graft.util.Cleanup.checkpoint(_))
      idx.count() // materialize outside the search clock
      time("inverted_search", nDocs) {
        text.TextAnalysis.searchAll(idx, Seq("stream", "window")).count()
      }
    }

    // DELETE(ids) at mult x (r17, VERDICT r16 task 2): delete cost must
    // track the VICTIMS' partitions, never the corpus — the `_docmap`
    // reverse map turns "find the victims' rows" into a pruned read, so
    // a FIXED victim count across mults keeps the delete line ~flat
    // (modulo the touched-partition fraction) while the build line grows
    // with the corpus. Compare both lines across mult values.
    if (want("index_delete")) {
      val root = java.nio.file.Files.createTempDirectory("scale_idxdel")
      graft.util.Cleanup.registerTempDir(root)
      val idxDir = s"$root/idx"; val lshDir = s"$root/lsh"
      time(s"index_delete_build_${nDocs}_docs", nDocs) {
        text.TextAnalysis.writeIndexLayout(docs, "doc_id", col("text"),
          idxDir, 16)
      }
      // fixed 64-victim set regardless of mult (base-copy ids only, so
      // the set exists at every mult)
      val victims = model.Tables.documents(spark, d)
        .select(col("doc_id")).orderBy(col("doc_id")).limit(64)
        .transform(graft.util.Cleanup.checkpoint(_))
      val nVict = victims.count()
      time(s"index_delete_text_${nVict}_victims", nVict) {
        text.TextAnalysis.indexDeleteLayout(spark, idxDir, victims,
          "doc_id", 16)
      }
      // r20 (merge-on-read delete): the delete line above is now O(victims)
      // — the deferred cost lives on the READ side (one broadcast
      // anti-filter per search) and in the next full rewrite (the rescale
      // line below materializes the runs). Time a point search against the
      // live tombstones so the trend records where the cost went.
      time(s"index_delete_text_search_after_${nVict}_victims", nVict) {
        text.TextAnalysis.bm25SearchLayout(spark, idxDir,
            Seq("stream", "window", "batch"))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"index_delete_lsh_build_${nDocs}_docs", nDocs) {
        dedup.Dedup.writeLshIndex(docs, "doc_id", col("text"), lshDir)
      }
      time(s"index_delete_lsh_${nVict}_victims", nVict) {
        dedup.Dedup.Lsh().delete(spark, lshDir, victims, "doc_id")
      }
      // r18 (VERDICT r17 task 3): the same fixed-victim delete RE-RUN at
      // a doubled partition count after an in-place rescale — the delete
      // line must stay victim-proportional at the new count (each victim
      // now touches a smaller partition fraction), and the rescale line
      // itself is the O(index) amortized rewrite, tracking the build line
      val victims2 = model.Tables.documents(spark, d)
        .select(col("doc_id")).orderBy(col("doc_id").desc).limit(64)
        .transform(graft.util.Cleanup.checkpoint(_))
      val nVict2 = victims2.count()
      time(s"index_delete_rescale_text_${nDocs}_docs", nDocs) {
        text.TextAnalysis.indexRescaleLayout(spark, idxDir, 32)
      }
      time(s"index_delete_text_rescaled_${nVict2}_victims", nVict2) {
        text.TextAnalysis.indexDeleteLayout(spark, idxDir, victims2,
          "doc_id")
      }
      time(s"index_delete_rescale_lsh_${nDocs}_docs", nDocs) {
        dedup.Dedup.Lsh().rescale(spark, lshDir, "doc_id", 32)
      }
      time(s"index_delete_lsh_rescaled_${nVict2}_victims", nVict2) {
        dedup.Dedup.Lsh().delete(spark, lshDir, victims2, "doc_id")
      }
    }

    // The MergeTable claim to verify at scale: commit cost follows the
    // DELTA, not the table. Build a mult-scaled table once, then commit a
    // FIXED-size delta (the sf0.1-sized slice) against it — if merges read
    // or rewrote the whole table, this time would grow ~linearly with
    // mult; delta-proportional cost keeps it ~flat (modulo the bucket
    // fraction touched).
    if (want("merge")) {
      val mtDir = java.nio.file.Files.createTempDirectory("scale_merge").toString + "/t"
      val orders = amplify(model.Tables.orders(spark, d), Seq("o_orderkey"))
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        .withColumn("op_flag", lit("create"))
      val nOrders = orders.count()
      time(s"merge_base_load_${nOrders}_rows", nOrders) {
        layout.MergeTable.merge(spark, mtDir, orders, "k", numBuckets = 64)
      }
      val fixedDelta = model.Tables.orders(spark, d)
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice") + lit(1.0)).as("p"))
        .withColumn("op_flag", lit("update"))
      val nDelta = fixedDelta.count()
      // random keys hit every bucket, so this merge reads the full table
      // regardless of delta size — the worst case
      time(s"merge_allbucket_delta_${nDelta}_rows", nDelta) {
        layout.MergeTable.merge(spark, mtDir, fixedDelta, "k")
      }
      // a delta confined to ONE of the 64 buckets (the realistic clustered
      // update) must read/rewrite ~1/64 of the table: THE delta-
      // proportionality claim. Compare this line across mult values — it
      // grows with table/64, not with the table, and not with the all-
      // bucket line above.
      val oneBucket = fixedDelta
        .filter(pmod(hash(col("k")), lit(64)) === 0)
        .withColumn("p", col("p") + lit(1.0))
      val nOne = oneBucket.count()
      time(s"merge_one_bucket_delta_${nOne}_rows", nOne) {
        layout.MergeTable.merge(spark, mtDir, oneBucket, "k")
      }
      util.Cleanup.registerTempDir(
        java.nio.file.Paths.get(mtDir).getParent)
      util.Cleanup.drain()
    }

    // The merge-on-read claim (r18): a mergeSmall commit costs O(batch)
    // REGARDLESS of which buckets it touches — even the all-bucket delta
    // that forces COW merge to rewrite the entire table writes only its
    // own rows as delta runs. Compare merge_mor_allbucket across mult
    // values against merge_allbucket above: COW grows ~linearly with the
    // table, MOR stays flat. The read-after line measures the resolution
    // overhead (runs broadcast against the base, base never shuffled) —
    // it grows with the TABLE (it is a full scan) but must stay within a
    // small factor of the pre-delta scan.
    if (want("merge_mor")) {
      val mtDir = java.nio.file.Files.createTempDirectory("scale_mor").toString + "/t"
      val orders = amplify(model.Tables.orders(spark, d), Seq("o_orderkey"))
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        .withColumn("op_flag", lit("create"))
      layout.MergeTable.merge(spark, mtDir, orders, "k", numBuckets = 64)
      time(s"merge_mor_scan_before", 0L) {
        layout.MergeTable.read(spark, mtDir).agg(max(col("p"))).collect()
      }
      val fixedDelta = model.Tables.orders(spark, d)
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice") + lit(1.0)).as("p"))
        .withColumn("op_flag", lit("update"))
      val nDelta = fixedDelta.count()
      // the COW worst case (random keys -> every bucket) as a MOR run:
      // THE flat line — O(batch) at every mult
      time(s"merge_mor_allbucket_delta_${nDelta}_rows", nDelta) {
        layout.MergeTable.mergeSmall(spark, mtDir, fixedDelta, "k")
      }
      // read-through-runs: full resolved scan (newest-run-wins applied)
      time(s"merge_mor_scan_after", 0L) {
        layout.MergeTable.read(spark, mtDir).agg(max(col("p"))).collect()
      }
      util.Cleanup.registerTempDir(
        java.nio.file.Paths.get(mtDir).getParent)
      util.Cleanup.drain()
    }

    // The SQL front door's MERGE INTO must keep merge()'s delta-
    // proportionality: its classification join reads ONLY the buckets the
    // source keys hash into (MergeTable.readForKeys) before dispatching,
    // so the SQL statement's cost = classification over ~1/64 of the
    // table + the merge itself. Compare this line across mult values like
    // merge_one_bucket — it must grow with table/64, never the table.
    if (want("sql_merge")) {
      val mtDir = java.nio.file.Files.createTempDirectory("scale_sqlmerge").toString + "/t"
      val orders = amplify(model.Tables.orders(spark, d), Seq("o_orderkey"))
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        .withColumn("op_flag", lit("create"))
      layout.MergeTable.merge(spark, mtDir, orders, "k", numBuckets = 64)
      graft.plans.MergeTableSql.register("scale_mt", mtDir)
      val oneBucket = model.Tables.orders(spark, d)
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice") + lit(1.0)).as("p"))
        .filter(pmod(hash(col("k")), lit(64)) === 0)
      oneBucket.createOrReplaceTempView("scale_mt_delta")
      val nOne = oneBucket.count()
      time(s"sql_merge_one_bucket_delta_${nOne}_rows", nOne) {
        spark.sql(
          """MERGE INTO scale_mt t USING scale_mt_delta s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      }
      graft.plans.MergeTableSql.unregister("scale_mt")
      util.Cleanup.registerTempDir(
        java.nio.file.Paths.get(mtDir).getParent)
      util.Cleanup.drain()
    }

    // Composite-key variant (r14): the same delta-proportionality claim
    // with the bucket hash over a (k1, k2) TUPLE and the SQL door parsing
    // an ON conjunction — readForKeys prunes on the tuple hash, so the
    // one-bucket line must track table/64 exactly like single-key.
    if (want("sql_merge_ck")) {
      val mtDir = java.nio.file.Files.createTempDirectory("scale_sqlmerge_ck").toString + "/t"
      val orders = amplify(model.Tables.orders(spark, d), Seq("o_orderkey"))
        .select((col("o_orderkey") % 1000).as("k1"),
          expr("o_orderkey DIV 1000").as("k2"),
          col("o_totalprice").as("p"))
        .withColumn("op_flag", lit("create"))
      layout.MergeTable.mergeKeys(spark, mtDir, orders, Seq("k1", "k2"),
        numBuckets = 64)
      graft.plans.MergeTableSql.register("scale_mt_ck", mtDir)
      val oneBucket = model.Tables.orders(spark, d)
        .select((col("o_orderkey") % 1000).as("k1"),
          expr("o_orderkey DIV 1000").as("k2"),
          (col("o_totalprice") + lit(1.0)).as("p"))
        .filter(pmod(hash(col("k1"), col("k2")), lit(64)) === 0)
      oneBucket.createOrReplaceTempView("scale_mt_ck_delta")
      val nOne = oneBucket.count()
      time(s"sql_merge_ck_one_bucket_delta_${nOne}_rows", nOne) {
        spark.sql(
          """MERGE INTO scale_mt_ck t USING scale_mt_ck_delta s
            |ON t.k1 = s.k1 AND t.k2 = s.k2
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      }
      graft.plans.MergeTableSql.unregister("scale_mt_ck")
      util.Cleanup.registerTempDir(
        java.nio.file.Paths.get(mtDir).getParent)
      util.Cleanup.drain()
    }

    // Manifest data skipping (r15 verdict task 4): per-bucket min/max
    // stats prune a selective non-key predicate's scan down to the
    // matching buckets, driver-side. The fixture gives the value column
    // per-bucket LOCALITY (v = bucket*1e6 + noise — the batch-load shape
    // stats exist for); compare the skipping line against the full-scan
    // line across mult: skipping must track ~1/64 of the table.
    if (want("sql_skipping")) {
      val mtDir = java.nio.file.Files.createTempDirectory("scale_skip").toString + "/t"
      val orders = amplify(model.Tables.orders(spark, d), Seq("o_orderkey"))
        .select(col("o_orderkey").as("k"),
          (pmod(hash(col("o_orderkey")), lit(64)).cast("long") * lit(1000000L)
            + (col("o_orderkey") % 1000L)).as("v"),
          col("o_totalprice").as("p"))
        .withColumn("op_flag", lit("create"))
      layout.MergeTable.merge(spark, mtDir, orders, "k", numBuckets = 64)
      val pred = col("v") >= 7000000L && col("v") < 8000000L // bucket 7 only
      require(layout.MergeTable.prunableBuckets(mtDir, pred) == Some(Set(7)))
      val nMatch = layout.MergeTable.readWhere(spark, mtDir, pred).count()
      time(s"sql_skipping_pruned_${nMatch}_rows", nMatch) {
        layout.MergeTable.readWhere(spark, mtDir, pred)
          .agg(max(col("p")), count(lit(1))).collect()
      }
      val nAll = layout.MergeTable.read(spark, mtDir).count()
      time(s"sql_skipping_fullscan_${nAll}_rows", nAll) {
        layout.MergeTable.read(spark, mtDir).filter(pred)
          .agg(max(col("p")), count(lit(1))).collect()
      }
      util.Cleanup.registerTempDir(
        java.nio.file.Paths.get(mtDir).getParent)
      util.Cleanup.drain()
    }

    // OPTIMIZE cost shape (r15 verdict task 8): a full compact rewrites
    // every live bucket — cost ∝ table, by construction — while
    // compactStale folds only the SMALLEST bucket groups, so its cost
    // follows the folded buckets' data. Fragment a mult-scaled 64-bucket
    // table with 4 one-bucket merges, then time subset vs full: across
    // mult values the subset line must track ~4/64 of the table (the
    // folded fraction) and stay far under the full line.
    if (want("sql_optimize")) {
      val mtDir = java.nio.file.Files.createTempDirectory("scale_optimize").toString + "/t"
      val orders = amplify(model.Tables.orders(spark, d), Seq("o_orderkey"))
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        .withColumn("op_flag", lit("create"))
      layout.MergeTable.merge(spark, mtDir, orders, "k", numBuckets = 64)
      (0 until 4).foreach { b =>
        val delta = model.Tables.orders(spark, d)
          .select(col("o_orderkey").as("k"),
            (col("o_totalprice") + lit(1.0)).as("p"))
          .filter(pmod(hash(col("k")), lit(64)) === b)
          .withColumn("op_flag", lit("update"))
        layout.MergeTable.merge(spark, mtDir, delta, "k")
      }
      require(layout.MergeTable.scanGroups(mtDir) == 5)
      val nFolded = layout.MergeTable.read(spark, mtDir)
        .filter(pmod(hash(col("k")), lit(64)) < 4).count()
      time(s"sql_optimize_subset_${nFolded}_rows", nFolded) {
        require(layout.MergeTable.compactStale(spark, mtDir, maxGroups = 2)
          .isDefined)
      }
      require(layout.MergeTable.scanGroups(mtDir) == 2)
      val nAll = layout.MergeTable.read(spark, mtDir).count()
      time(s"sql_optimize_full_${nAll}_rows", nAll) {
        layout.MergeTable.compact(spark, mtDir)
      }
      util.Cleanup.registerTempDir(
        java.nio.file.Paths.get(mtDir).getParent)
      util.Cleanup.drain()
    }

    // Zero-copy CLONE (r16): cost is per FILE (hard links), never per
    // byte — the probe line must stay ~FLAT as mult scales the table's
    // bytes 4× per step (the file count is pinned by the 64 buckets).
    if (want("clone")) {
      val mtDir = java.nio.file.Files.createTempDirectory("scale_clone").toString + "/t"
      val orders = amplify(model.Tables.orders(spark, d), Seq("o_orderkey"))
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        .withColumn("op_flag", lit("create"))
      layout.MergeTable.merge(spark, mtDir, orders, "k", numBuckets = 64)
      val n = layout.MergeTable.countRows(mtDir).getOrElse(0L)
      val dst = java.nio.file.Files.createTempDirectory("scale_clone_dst").toString + "/t"
      time(s"clone_${n}_rows", n) {
        layout.MergeTable.cloneTable(spark, mtDir, dst)
      }
      require(layout.MergeTable.countRows(dst) == Some(n))
      util.Cleanup.registerTempDir(java.nio.file.Paths.get(mtDir).getParent)
      util.Cleanup.registerTempDir(java.nio.file.Paths.get(dst).getParent)
      util.Cleanup.drain()
    }

    // Merge-on-read DELETE (r16 deletion vectors): a selective delete
    // whose victims span EVERY bucket is copy-on-write's worst case — it
    // must rewrite all 64 buckets to remove ~0.1% of the rows — while the
    // DV path writes only the victim keys. Both pay the same victim SCAN
    // (finding the matches is irreducible); the gap is the WRITE
    // amplification, which grows with the table on the CoW line and stays
    // delta-sized on the DV line.
    if (want("soft_delete")) {
      def build(tag: String): String = {
        val mtDir = java.nio.file.Files
          .createTempDirectory(s"scale_sdel_$tag").toString + "/t"
        val orders = amplify(model.Tables.orders(spark, d), Seq("o_orderkey"))
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
          .withColumn("op_flag", lit("create"))
        layout.MergeTable.merge(spark, mtDir, orders, "k", numBuckets = 64)
        util.Cleanup.registerTempDir(java.nio.file.Paths.get(mtDir).getParent)
        mtDir
      }
      val dvDir = build("dv")
      val cowDir = build("cow")
      val pred = col("k") % 997L === 0L
      val nVictims = layout.MergeTable.read(spark, dvDir).filter(pred).count()
      time(s"soft_delete_dv_${nVictims}_rows", nVictims) {
        require(layout.MergeTable.softDelete(spark, dvDir, pred).isDefined)
      }
      plans.MergeTableSql.register("scale_sdel_cow", cowDir, numBuckets = 64)
      time(s"soft_delete_cow_${nVictims}_rows", nVictims) {
        spark.sql("DELETE FROM scale_sdel_cow WHERE k % 997 = 0").collect()
      }
      plans.MergeTableSql.unregister("scale_sdel_cow")
      require(layout.MergeTable.read(spark, dvDir).count() ==
        layout.MergeTable.read(spark, cowDir).count(),
        "soft_delete probe: DV and CoW deletes must agree")
      util.Cleanup.drain()
    }

    // Parquet bloom filters (r16): a HIGH-CARDINALITY uncorrelated column
    // (md5 strings here) defeats every manifest tier — min/max spans the
    // domain, the value dictionary is over its cap, CLUSTER BY's one sort
    // order is spent elsewhere — but a written per-column bloom lets the
    // reader's pushed equality prune whole row groups. Same read both
    // times; the only change is alterSetParquetBloom + OPTIMIZE between
    // them. Small parquet blocks make the granularity visible at probe
    // scale (the cluster_skip argument).
    if (want("bloom_skip")) {
      val mtDir = java.nio.file.Files.createTempDirectory("scale_bloom").toString + "/t"
      val hc = spark.sparkContext.hadoopConfiguration
      val oldBlock = Option(hc.get("parquet.block.size"))
      hc.setInt("parquet.block.size", 128 * 1024)
      try {
        val orders = amplify(model.Tables.orders(spark, d), Seq("o_orderkey"))
          .select(col("o_orderkey").as("k"),
            md5(col("o_orderkey").cast("string")).as("u"),
            col("o_totalprice").as("p"))
          .withColumn("op_flag", lit("create"))
        layout.MergeTable.merge(spark, mtDir, orders, "k", numBuckets = 64)
        layout.MergeTable.compact(spark, mtDir) // no-bloom baseline files
        val x = layout.MergeTable.read(spark, mtDir)
          .orderBy(col("k")).select("u").head().getString(0)
        val nMatch = 1L
        time(s"bloom_skip_plain_${nMatch}_rows", nMatch) {
          layout.MergeTable.readWhere(spark, mtDir, col("u") === x)
            .agg(max(col("p")), count(lit(1))).collect()
        }
        layout.MergeTable.alterSetParquetBloom(mtDir, Seq("u"),
          expectedNdv = 20000L) // ~rows per 128 KB row group
        layout.MergeTable.compact(spark, mtDir)
        time(s"bloom_skip_bloomed_${nMatch}_rows", nMatch) {
          layout.MergeTable.readWhere(spark, mtDir, col("u") === x)
            .agg(max(col("p")), count(lit(1))).collect()
        }
      } finally {
        oldBlock match {
          case Some(v) => hc.set("parquet.block.size", v)
          case None => hc.unset("parquet.block.size")
        }
      }
      util.Cleanup.registerTempDir(
        java.nio.file.Paths.get(mtDir).getParent)
      util.Cleanup.drain()
    }

    // Stats-skipping × locality (r15 verdict task 9): on a hash-bucketed
    // table every bucket spans an uncorrelated column's whole domain, so
    // per-bucket manifest stats prune NOTHING (readWhere's documented
    // limit). `OPTIMIZE ... CLUSTER BY (v)` sorts each bucket's files by
    // that column; the scan-side pushed filter then prunes parquet row
    // groups, so the DATA-PROPORTIONAL scan component tracks the matching
    // fraction (1/128 here) while the unclustered scan decodes every
    // byte. Read the two lines as (floor + data): both carry the same
    // fixed per-bucket floor (manifest + 64 dir listings + task
    // dispatch, ~0.4 s at local[32]); the gap between them is the
    // decoded-bytes term, which clustering collapses — measured ~1.6×
    // total at mult 128-512, i.e. the data term nearly vanishes while
    // the floor stays. Small parquet blocks make the granularity visible
    // at probe scale — at 100 TB the default 128 MB blocks give the same
    // effect naturally, and the floor amortizes into irrelevance.
    if (want("cluster_skip")) {
      val mtDir = java.nio.file.Files.createTempDirectory("scale_cluster").toString + "/t"
      val hc = spark.sparkContext.hadoopConfiguration
      val oldBlock = Option(hc.get("parquet.block.size"))
      hc.setInt("parquet.block.size", 128 * 1024)
      try {
        val orders = amplify(model.Tables.orders(spark, d), Seq("o_orderkey"))
          .select(col("o_orderkey").as("k"),
            // uniform over [0, 64000), independent of the bucket hash
            pmod(hash(col("o_orderkey") + 1L), lit(64000)).cast("long").as("v"),
            col("o_totalprice").as("p"))
          .withColumn("op_flag", lit("create"))
        layout.MergeTable.merge(spark, mtDir, orders, "k", numBuckets = 64)
        val pred = col("v") >= 7000L && col("v") < 7500L // 1/128 of the domain
        // the honest precondition: manifest stats must NOT prune here —
        // this probe measures the within-bucket story those stats can't tell
        require(layout.MergeTable.prunableBuckets(mtDir, pred).forall(_.size == 64),
          "cluster_skip probe: manifest stats pruned an uncorrelated column")
        layout.MergeTable.compact(spark, mtDir) // key-sorted baseline files
        val nMatch = layout.MergeTable.readWhere(spark, mtDir, pred).count()
        time(s"cluster_skip_unclustered_${nMatch}_rows", nMatch) {
          layout.MergeTable.readWhere(spark, mtDir, pred)
            .agg(max(col("p")), count(lit(1))).collect()
        }
        layout.MergeTable.compact(spark, mtDir, clusterBy = Some(Seq("v")))
        time(s"cluster_skip_clustered_${nMatch}_rows", nMatch) {
          layout.MergeTable.readWhere(spark, mtDir, pred)
            .agg(max(col("p")), count(lit(1))).collect()
        }
      } finally oldBlock match {
        case Some(v) => hc.set("parquet.block.size", v)
        case None => hc.unset("parquet.block.size")
      }
      util.Cleanup.registerTempDir(
        java.nio.file.Paths.get(mtDir).getParent)
      util.Cleanup.drain()
    }

    // Incremental LSH ingest cost shape (r16, ⊕J25): probing a FIXED
    // 50-doc batch against the at-rest index must cost ~the batch's band
    // partitions (+ their corpus rows), not the corpus — compare the
    // probe line across mult: corpus grows mult×, the probe line must
    // grow sublinearly (only the probed partitions' row count grows).
    if (want("lsh_ingest")) {
      val dir = java.nio.file.Files.createTempDirectory("scale_lsh").toString + "/idx"
      val docs = amplify(
          model.Tables.documents(spark, d).select(col("doc_id"), col("text")),
          Seq("doc_id"))
        .transform(util.Cleanup.checkpoint(_))
      val corpus = docs.filter(col("doc_id") % 1000L =!= 0)
      val batch = docs.filter(col("doc_id") % 1000L === 0).limit(50)
        .transform(util.Cleanup.checkpoint(_))
      val nCorpus = corpus.count()
      dedup.Dedup.writeLshIndex(corpus, "doc_id", col("text"), dir,
        partitions = 64)
      val nBatch = batch.count()
      time(s"lsh_ingest_probe_${nCorpus}_corpus", nBatch) {
        dedup.Dedup.Lsh().upsert(spark, dir, batch, "doc_id", col("text"))
          .count()
        ()
      }
      // r18: the same fixed-size probe RE-RUN after an in-place rescale
      // to 2× the partitions — probe cost must stay batch-proportional
      // (it reads the batch's own partitions, now half as heavy each)
      val batch2 = docs.filter(col("doc_id") % 1000L === 1).limit(50)
        .transform(util.Cleanup.checkpoint(_))
      val nBatch2 = batch2.count()
      time(s"lsh_ingest_rescale_${nCorpus}_corpus", nCorpus) {
        dedup.Dedup.Lsh().rescale(spark, dir, "doc_id", 128)
      }
      time(s"lsh_ingest_probe_rescaled_${nCorpus}_corpus", nBatch2) {
        dedup.Dedup.Lsh().upsert(spark, dir, batch2, "doc_id", col("text"))
          .count()
        ()
      }
      util.Cleanup.registerTempDir(
        java.nio.file.Paths.get(dir).getParent)
      util.Cleanup.drain()
    }

    // CDC follower cost shape (r16): delivering a window reads only the
    // buckets whose owning version changed (changesBetween's manifest
    // diff) plus a fixed streaming spin-up, so following a ONE-BUCKET
    // commit costs the delta while a full-table rewrite window pays the
    // table. The delta line must sit far under the full line and stay
    // ~flat across mult; the full line grows with the table.
    if (want("cdc_follow")) {
      def freshPair(tag: String): (String, String) = {
        val base = java.nio.file.Files.createTempDirectory(s"scale_cdcf_$tag")
        util.Cleanup.registerTempDir(base)
        (s"$base/src", s"$base/sink")
      }
      val orders = amplify(model.Tables.orders(spark, d), Seq("o_orderkey"))
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        .withColumn("op_flag", lit("create"))
        .transform(util.Cleanup.checkpoint(_))
      // line 1: one-bucket delta window
      val (src1, sink1) = freshPair("delta")
      layout.MergeTable.merge(spark, src1, orders, "k", numBuckets = 64)
      layout.MergeTable.merge(spark, src1,
        model.Tables.orders(spark, d)
          .select(col("o_orderkey").as("k"), (col("o_totalprice") + 1.0).as("p"))
          .filter(pmod(hash(col("k")), lit(64)) === 7)
          .withColumn("op_flag", lit("update")), "k")
      val nDelta = layout.MergeTable.changesBetween(spark, src1, 0, 1).count()
      time(s"cdc_follow_delta_${nDelta}_rows", nDelta) {
        streaming.EventStreams.cdcFollow(spark, src1, sink1)
          .agg(max(col("p")), count(lit(1))).collect()
      }
      // line 2: full-table rewrite window (every key updated)
      val (src2, sink2) = freshPair("full")
      layout.MergeTable.merge(spark, src2, orders, "k", numBuckets = 64)
      layout.MergeTable.merge(spark, src2,
        orders.withColumn("p", col("p") + lit(1.0))
          .withColumn("op_flag", lit("update")), "k")
      val nFull = layout.MergeTable.changesBetween(spark, src2, 0, 1).count()
      time(s"cdc_follow_full_${nFull}_rows", nFull) {
        streaming.EventStreams.cdcFollow(spark, src2, sink2)
          .agg(max(col("p")), count(lit(1))).collect()
      }
      util.Cleanup.drain()
    }

    // The ANN-index analogue of the MergeTable claim: IVF upsert cost
    // follows the DELTA and its touched-cell fraction, never the corpus.
    // Build a mult-scaled 64-cell layout once (timed for contrast), then
    // upsert a fixed-size delta confined to ONE cell — compare the upsert
    // line across mult values: it grows with corpus/64, not the corpus,
    // and stays far under the build line.
    if (want("ivf")) {
      val cents = sim.Similarity.ivfCentroids(
        model.Tables.embeddings(spark, d), 64)
      val embA = amplify(model.Tables.embeddings(spark, d), Seq("vec_id"))
      val nEmb = embA.count()
      val ivfDir = java.nio.file.Files.createTempDirectory("scale_ivf").toString + "/layout"
      time(s"ivf_layout_build_${nEmb}_vecs", nEmb) {
        sim.Similarity.writeIvfLayout(embA, cents, ivfDir)
      }
      // delta: the BASE tier's cell-0 vectors under fresh unique ids —
      // frozen-centroid assignment sends them straight back to cell 0
      // (one touched dir), and base ids are small so +9e8 cannot collide
      val delta = sim.Similarity.ivfAssign(
          model.Tables.embeddings(spark, d), cents)
        .filter(col("cell") === 0)
        .select((col("vec_id") + lit(900000000L)).as("vec_id"),
          col("embedding"))
      val nDelta = delta.count()
      time(s"ivf_upsert_one_cell_${nDelta}_vecs", nDelta) {
        sim.Similarity.ivfUpsertLayout(spark, ivfDir, cents, delta)
      }
      // the skew-gated batch rebalance (q170): one skewProfile decision
      // read + deterministic Lloyd retrain + one full rewrite — cost must
      // track the corpus linearly (3+1 scans + one partitioned write);
      // threshold 0 forces the trigger so the probe always measures the
      // retrain path, not the (cheap) no-op
      time(s"ivf_recluster_${nEmb}_vecs", nEmb) {
        require(sim.Similarity.reclusterCells(spark, ivfDir, cells = 64,
          skewThreshold = 0.0).nonEmpty)
      }
      // the NO-OP side of the gate, timed on the just-rebalanced layout:
      // the decision reads only the cell-count skew profile, and `cell`
      // is the layout's PARTITION column — counts come from parquet
      // footers, no embedding bytes move. Must stay ~flat in corpus size
      // (don't rewrite — or scan — 100 TB for a balanced index).
      time(s"ivf_recluster_noop_${nEmb}_vecs", nEmb) {
        require(sim.Similarity.reclusterCells(spark, ivfDir, cells = 64,
          skewThreshold = 1e9).isEmpty)
      }
      util.Cleanup.registerTempDir(
        java.nio.file.Paths.get(ivfDir).getParent)
      util.Cleanup.drain()
    }
    spark.stop()
  }
}
