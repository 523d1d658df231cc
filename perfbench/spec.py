"""What the benchmark's inputs are, and what BENCHMARK.json cannot hold.

BENCHMARK.json at the repository root names the workloads (with their
reasons) and every metric with its unit, direction and bound; run.py reads
them from there. This file holds the rest: each workload's operation and
input sizes, the readings each workload's report prints beside the
end-to-end metrics, the end-to-end reading each layer metric should move,
and the spans whose self time and single-threaded speedup are reported.

Every run prints the same end-to-end metrics whatever its workload, so they
are named for what a caller of the workload's operation sees: the
operation's latency, the work it completes per second and set-up time.
"""

# One operation of each workload is sent closed-loop from one client
# thread; a run repeats whole rounds until `--seconds` have passed.
WORKLOADS = {
    "hub_sync": {
        "op": "one refresh cycle: Pretalx.readSchedule/talks/speakerMapOf/"
              "talksToEvents, MergeTable.read, HubEtl.mergePlan, "
              "MergeTable.merge of the op-flagged plan",
        "inputs": {"talks": 2000, "edit_share": 0.02, "add_share": 0.01,
                   "remove_share": 0.01, "max_cycles": 30,
                   "hub_buckets": 8, "table_scale": 0.01},
    },
    "query_mix": {
        "op": "one SparkEntry.queries entry (batch query, or streaming "
              "replay run to completion), materializeOrdered into the noop "
              "sink",
        # an odd number of entries whose times are well apart, so the
        # median of a round (two passes over them) is the middle entry's
        "inputs": {"max_rounds": 20, "queries": [
            ("q09_window_rank", "window"), ("q121_sessionize", "events"),
            ("q47_star_join", "join"), ("q142_sql_q2", "sql"),
            ("q35_stream_tumbling", "stream")]},
    },
    "index_churn": {
        "op": "one bm25SearchLayout search of 1-3 terms, or one "
              "indexDeleteLayout / indexUpsertLayout batch",
        # every round is this block; a search's term count comes from
        # `search_terms` in turn, so rounds differ only in seeded content.
        # The first search of a block is the cold one after the upsert;
        # the other three are warm, slower than the delete and faster than
        # the cold search, so the median of one or two blocks is a warm
        # search's
        "inputs": {"base_docs": 2500, "copies": 2,
                   "block": ["search", "search", "search", "search",
                             "delete", "upsert"],
                   "search_terms": [1, 2, 3, 2],
                   "batch": 40, "max_blocks": 40, "probes": 2,
                   "index_buckets": 16, "table_scale": 0.01},
    },
}

FAMILIES = sorted({f for _, f in WORKLOADS["query_mix"]["inputs"]["queries"]})

# Readings of one operation kind on workloads with several kinds, printed
# in the report beside the end-to-end metrics (on hub_sync, whose only
# operation is the sync cycle, they would repeat op_p50_s, op_tail_s and
# work_per_s). name -> (workload, operation kind, statistic, unit)
REPORT = {
    "query_p50_s": ("query_mix", "query", "p50", "s"),
    "query_tail_s": ("query_mix", "query", "tail", "s"),
    "queries_per_s": ("query_mix", "query", "rate", "1/s"),
    "replay_p50_s": ("query_mix", "replay", "p50", "s"),
    "replay_events_per_s": ("query_mix", "replay", "rate", "1/s"),
    "search_p50_s": ("index_churn", "search", "p50", "s"),
    "search_tail_s": ("index_churn", "search", "tail", "s"),
    "index_delete_p50_s": ("index_churn", "delete", "p50", "s"),
    "index_upsert_p50_s": ("index_churn", "upsert", "p50", "s"),
}

ALL = "all"
MOVES = {}  # layer metric -> (end-to-end reading it should move, workloads)


def _moves(names, moves, workloads=ALL):
    for n in names.split():
        MOVES[n] = (moves, workloads)


# Spark/JVM, per operation, on every workload.
_moves("spark.jobs spark.stages spark.tasks", "query_p50_s@query_mix")
_moves("spark.task_s", "queries_per_s@query_mix work_per_s@hub_sync")
_moves("spark.core_idle_share", "every p50")
_moves("spark.skew", "query_tail_s@query_mix op_tail_s@hub_sync")
_moves("spark.shuffle_read_bytes spark.shuffle_write_bytes",
       "queries_per_s@query_mix op_p50_s@hub_sync")
_moves("spark.spill_bytes", "every tail")
_moves("spark.input_bytes spark.output_bytes",
       "search_p50_s@index_churn op_p50_s@hub_sync")
_moves("spark.failed_tasks", "failed_share@all")
_moves("catalyst.analysis_s catalyst.optimization_s catalyst.planning_s "
       "catalyst.executions", "query_p50_s@query_mix")
_moves("aqe.replans aqe.reduce_tasks",
       "queries_per_s@query_mix query_tail_s@query_mix")
_moves("jvm.gc_s jvm.jit_s", "every tail, jvm.peak_rss_mb")
_moves("jvm.peak_rss_mb jvm.heap_live_mb", "memory of every workload")
_moves("driver.self_s", "op_p50_s@hub_sync query_p50_s@query_mix "
       "index_*_p50_s@index_churn")
# SparkEntry
_moves("entry.body_s entry.body_jobs", "query_p50_s@query_mix", "query_mix")
_moves("entry.exec_s", "queries_per_s@query_mix", "query_mix")
_moves(" ".join(f"entry.family.{f}_s" for f in FAMILIES),
       "queries_per_s@query_mix replay_p50_s@query_mix", "query_mix")
# graft.sources / graft.ops / graft.etl
_moves("sources.extract_s ops.merge_plan_s sources.json_scans",
       "op_p50_s@hub_sync", "hub_sync")
_moves("sources.json_scan_tasks sources.json_scan_task_s",
       "work_per_s@hub_sync", "hub_sync")
_moves("etl.rows_created etl.rows_updated etl.rows_deleted",
       "checked against the generator's counts", "hub_sync")
_moves("etl.useful_update_share", "op_p50_s@hub_sync", "hub_sync")
# graft.layout
_moves("layout.read_s layout.merge_s layout.phase.validate_s "
       "layout.phase.join_write_s layout.phase.stats_s layout.phase.dicts_s "
       "layout.phase.delta_s layout.protocol_s layout.buckets_rewritten "
       "layout.files_written layout.rows_rewritten layout.bytes_written "
       "layout.table_bytes layout.useful_rewrite_share",
       "op_p50_s@hub_sync", "hub_sync")
# graft.text
_moves("text.search_plan_s text.search_exec_s text.search_input_bytes "
       "text.layout_version text.layout_files text.layout_bytes",
       "search_p50_s@index_churn", "index_churn")
_moves("text.search_cold_s", "search_tail_s@index_churn", "index_churn")
_moves("text.upsert_buckets_touched", "index_upsert_p50_s@index_churn",
       "index_churn")
_moves("text.tombstone_runs text.tombstone_ids",
       "search_p50_s@index_churn search_tail_s@index_churn", "index_churn")
_moves("text.results_checked", "failed_share@index_churn", "index_churn")
# graft.streaming, from StreamingQueryProgress
_moves("streaming.batches streaming.trigger_s streaming.add_batch_s "
       "streaming.planning_s streaming.offsets_s streaming.wal_s "
       "streaming.state_commit_s streaming.startup_s",
       "replay_p50_s@query_mix", "query_mix")
_moves("streaming.state_rows streaming.state_bytes", "jvm.heap_live_mb",
       "query_mix")
_moves("streaming.input_rows", "replay_events_per_s@query_mix", "query_mix")
# benchmark overhead (excluded from every end-to-end metric)
_moves("bench.gen_s bench.check_s", "none (excluded)")
_moves("bench.trace_overhead", "none (traced ÷ untraced op_p50_s)")

# Top-level operation spans: single-threaded baseline and self time.
OP_SPANS = {
    "hub_sync": ["op.sync"],
    "query_mix": ["op.query", "op.replay"],
    "index_churn": ["op.search", "op.delete", "op.upsert"],
}
SPANS = {
    "hub_sync": ["op.sync", "sources.extract", "layout.read",
                 "ops.merge_plan", "layout.merge"],
    "query_mix": ["op.query", "op.replay", "entry.body", "entry.exec"],
    "index_churn": ["op.search", "text.search_plan", "text.search_exec",
                    "op.delete", "op.upsert"],
}
for w, spans in OP_SPANS.items():
    _moves(" ".join(f"parallel.speedup.{s}" for s in spans),
           "every p50 (local[nproc] vs local[1])", w)
for s in sorted({s for spans in SPANS.values() for s in spans}):
    _moves(f"self_s.{s}", "the op_p50_s of its workloads",
           " ".join(w for w, ss in SPANS.items() if s in ss))
