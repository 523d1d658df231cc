#!/usr/bin/env python3
"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine together with the
benchmark harness (perfbench/build.sbt, once per source state), writes the
workload's inputs from the seed (perfbench/gen.py), starts one JVM with a
Spark session at local[nproc] and Bench's confs, runs the workload's
operations closed-loop from a single client thread, in whole rounds that
fit in --seconds of operation time (at least one), checks every result,
and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics BENCHMARK.json lists, --trace 1
its per-layer metrics instead: traced rounds (Spark listeners and spans)
alternate with untraced ones, and the workload then continues in a local[1]
session for the single-threaded baseline. Everything a run writes stays
under .bench_build/ and is removed when the run ends (the build and the
trace artifacts of traced runs are kept).
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402

# Workloads and metric names, units, directions and bounds.
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
UNITS = {m["name"]: m["unit"]
         for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]}

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170.0
HEAP = "3g"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- statistics

def tail(xs):
    """(label, value): the highest percentile with at least ten samples
    beyond it. With 20 samples or fewer no percentile above the median has
    ten beyond it, and the largest sample is reported instead ("max")."""
    s = sorted(xs)
    n = len(s)
    if n <= 20:
        return "max", s[-1]
    return f"p{100.0 * (n - 10) / n:.0f}", s[n - 11]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# --------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def commit():
    """The checked-out commit, or None outside a git work tree."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def build():
    """Compile engine + harness once per source state; returns the runtime
    classpath and the source stamp."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("engine sources (src/main/scala/graft) not found; "
                         "run from the repository root")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            raise BenchError(f"{tool} not found on PATH")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime / fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if "scala-2.13" in ln and ":" in ln
          and not ln.startswith("[")]
    if rc != 0 or not cp:
        raise BenchError("build failed, see " + log + ":\n" +
                         "\n".join(lines[-20:]))
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip(), stamp


# ----------------------------------------------------------------------- run

def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, work, n_cores, seconds, phases, reps, out, deadline,
            single_seconds=0.0):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--work", work, "--cores", str(n_cores), "--seconds", str(seconds),
            "--phases", ",".join(phases), "--reps", str(reps), "--out", out,
            "--single-seconds", str(single_seconds)])
    env = dict(os.environ, SPARK_GRAFT_SPOOL="off", SPARK_LOCAL_DIRS=local)
    log = out + ".log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError("benchmark JVM exceeded the time limit")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            errs = [ln for ln in f if not ln.startswith(("\t", " "))
                    and " INFO " not in ln]
        raise BenchError(f"benchmark JVM exited with {rc}:\n" +
                         "".join(errs[-15:]))
    with open(out) as f:
        return json.load(f)


# -------------------------------------------------------------------- oracle

def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _rows(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort(key=lambda r: tuple((x is None, repr(x)) for x in r))
    return [cols[i] for i in order], rows


def oracle_check(work, results):
    """Each query's result equals its DuckDB oracle SQL over the same
    generated tables (columns by name, rows as a multiset, values exact).
    Returns {query: error or None} and each result's digest."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        path = f"{work}/sf/{t}.parquet"
        glob = path + "/*.parquet" if os.path.isdir(path) else path
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
    errors, digests = {}, {}
    for r in results:
        q = r["query"]
        try:
            ecols, exp = _rows(con.sql(r["oracle_sql"]))
            gcols, got = _rows(con.sql(
                f"SELECT * FROM read_parquet('{r['dir']}/*.parquet')"))
            digests[q] = hashlib.sha256(repr(got).encode()).hexdigest()[:16]
            if ecols != gcols:
                errors[q] = f"columns {gcols} != oracle {ecols}"
            elif len(exp) != len(got):
                errors[q] = f"{len(got)} rows != oracle {len(exp)}"
            elif exp != got:
                bad = next(i for i, (a, b) in enumerate(zip(exp, got)) if a != b)
                errors[q] = f"row {bad}: {got[bad]!r} != oracle {exp[bad]!r}"
            else:
                errors[q] = None
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            errors[q] = f"{type(e).__name__}: {e}"
    return errors, digests


# ------------------------------------------------------------------- metrics

def ops_of(res, phase):
    for p in res["phases"]:
        if p["name"] == phase:
            return p
    raise BenchError(f"phase {phase} missing")


def end_to_end(workload, res):
    ops = ops_of(res, "untraced")["ops"]
    walls = [o["wall_s"] for o in ops]
    label, t = tail(walls)
    metrics = {
        "setup_s": res["setup"]["setup_s"],
        "op_p50_s": median(walls),
        "op_tail_s": t,
        "work_per_s": sum(o["items"] for o in ops) / sum(walls),
    }
    counts = {"setup_s": 1, "op_p50_s": len(walls), "op_tail_s": len(walls),
              "work_per_s": len(walls)}
    return metrics, counts, label


def report(workload, res, plan):
    """The readings of one operation kind (spec.REPORT), with sample
    counts: {name: (value, statistic, count, unit)}."""
    ops = ops_of(res, "untraced")["ops"]
    out = {}
    for name, (w, kind, stat, unit) in spec.REPORT.items():
        xs = [o for o in ops if o["kind"] == kind]
        if w != workload or not xs:
            continue
        walls = [o["wall_s"] for o in xs]
        if stat == "p50":
            v = median(walls)
        elif stat == "tail":
            stat, v = tail(walls)
        else:
            per_op = plan["events_rows"] if kind == "replay" else None
            v = sum(per_op or o["items"] for o in xs) / sum(walls)
            stat = "sum"
        out[name] = (v, stat, len(xs), unit)
    return out


def per_layer(workload, res, gen_s, check_s):
    traced = ops_of(res, "traced")
    ops = traced["ops"]
    spans = traced["spans"]
    m = {x["name"]: 0.0 for x in BENCHMARK["per_layer"]}

    def avg(key, kinds=None):
        xs = [o["m"].get(key, 0.0) for o in ops
              if kinds is None or o["kind"] in kinds]
        return mean(xs)

    for key in ("spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
                "spark.core_idle_share", "spark.skew",
                "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                "spark.spill_bytes", "spark.input_bytes", "spark.output_bytes",
                "spark.failed_tasks", "catalyst.analysis_s",
                "catalyst.optimization_s", "catalyst.planning_s",
                "catalyst.executions", "aqe.replans", "aqe.reduce_tasks",
                "jvm.gc_s", "jvm.jit_s", "driver.self_s"):
        m[key] = avg(key)
    m["catalyst.analysis_s"] += avg("catalyst.body_analysis_s")
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    m["jvm.heap_live_mb"] = res["heap_live_mb"]

    # spans: per-operation time in each named span, and self time
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    dur = lambda s: s["end_s"] - s["start_s"]
    per_name, self_name = {}, {}
    for s in spans:
        per_name.setdefault(s["name"], []).append(dur(s))
        self_name.setdefault(s["name"], []).append(
            dur(s) - sum(dur(c) for c in children.get(s["id"], [])))
    n_ops = max(1, len(ops))
    span_per_op = lambda name: sum(per_name.get(name, [])) / n_ops
    for name in spec.SPANS.get(workload, []):
        if f"self_s.{name}" in m:
            m[f"self_s.{name}"] = mean(self_name.get(name, []))

    if workload == "query_mix":
        m["entry.body_s"] = span_per_op("entry.body")
        m["entry.exec_s"] = span_per_op("entry.exec")
        m["entry.body_jobs"] = avg("jobs@entry.body")
        for f in spec.FAMILIES:
            xs = [o["wall_s"] for o in ops if o["family"] == f]
            m[f"entry.family.{f}_s"] = mean(xs)
    if workload == "hub_sync":
        for p in ("validate", "join_write", "stats", "dicts", "delta"):
            m[f"layout.phase.{p}_s"] = avg(f"layout.phase.{p}_s")
        m["sources.extract_s"] = span_per_op("sources.extract")
        m["ops.merge_plan_s"] = span_per_op("ops.merge_plan")
        m["layout.read_s"] = span_per_op("layout.read")
        m["layout.merge_s"] = span_per_op("layout.merge")
        labeled = mean([sum(o["m"].get(f"layout.phase.{p}_s", 0.0) for p in
                            ("validate", "join_write", "stats", "dicts",
                             "delta")) for o in ops])
        m["layout.protocol_s"] = m["layout.merge_s"] - labeled
        for key in ("sources.json_scans", "sources.json_scan_tasks",
                    "sources.json_scan_task_s", "etl.rows_created",
                    "etl.rows_updated", "etl.rows_deleted",
                    "etl.useful_update_share", "layout.buckets_rewritten",
                    "layout.files_written", "layout.bytes_written",
                    "layout.rows_rewritten", "layout.useful_rewrite_share",
                    "layout.table_bytes"):
            m[key] = avg(key)
    if workload == "index_churn":
        search = [o for o in ops if o["kind"] == "search"]
        m["text.search_plan_s"] = mean(per_name.get("text.search_plan", []))
        m["text.search_exec_s"] = mean(per_name.get("text.search_exec", []))
        m["text.search_cold_s"] = mean([o["wall_s"] for o in search
                                        if o["m"].get("text.search_cold")])
        m["text.search_input_bytes"] = avg("spark.input_bytes", {"search"})
        m["text.upsert_buckets_touched"] = avg("text.upsert_buckets_touched",
                                               {"upsert"})
        for key in ("text.tombstone_runs", "text.tombstone_ids",
                    "text.layout_version", "text.layout_files",
                    "text.layout_bytes"):
            m[key] = avg(key)
        m["text.results_checked"] = float(res["checked"])
    if workload == "query_mix":
        for key in ("streaming.batches", "streaming.trigger_s",
                    "streaming.add_batch_s", "streaming.planning_s",
                    "streaming.offsets_s", "streaming.wal_s",
                    "streaming.state_commit_s", "streaming.state_rows",
                    "streaming.state_bytes", "streaming.startup_s",
                    "streaming.input_rows"):
            m[key] = avg(key, {"replay"})

    m["bench.gen_s"] = gen_s
    m["bench.check_s"] = check_s
    untraced = [o["wall_s"] for o in ops_of(res, "untraced")["ops"]]
    m["bench.trace_overhead"] = median([o["wall_s"] for o in ops]) / median(
        untraced)
    one = ops_of(res, "single")["ops"]
    for name in spec.OP_SPANS[workload]:
        par = [o["wall_s"] for o in ops if "op." + o["kind"] == name]
        seq = [o["wall_s"] for o in one if "op." + o["kind"] == name]
        if par and seq:
            m[f"parallel.speedup.{name}"] = median(seq) / median(par)
    return m


# ---------------------------------------------------------------------- main

def run(workload, seed, seconds, trace, scale=1.0):
    """Returns (result line dict, report lines)."""
    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S
    cp, stamp = build()
    deadline = max(deadline, time.monotonic() + 120.0)  # a fresh build
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        import gen
        t0 = time.monotonic()
        plan = gen.generate(work, workload, seed, scale)
        gen_s = time.monotonic() - t0
        n = cores()
        phases = ["untraced", "traced"] if trace else ["untraced"]
        res = run_jvm(cp, work, n, seconds, phases, 1 if trace else 3,
                      os.path.join(work, "result.json"), deadline,
                      seconds / 2 if trace else 0.0)
        t0 = time.monotonic()
        errors, digests = oracle_check(work, res["query_results"])
        check_s = res["check_s"] + time.monotonic() - t0
        measured = [o for p in res["phases"] for o in p["ops"]]
        bad_q = {q for q, e in errors.items() if e}
        failed = sum(1 for o in measured if not o["ok"] or o["name"] in bad_q)
        failures = list(res["failures"])
        failures += [f"{q}: oracle mismatch: {e}" for q, e in errors.items() if e]
        lines = [f"workload {workload}  seed {seed}  cores {n}  "
                 f"commit {commit() or 'none'}  source {stamp[:12]}  "
                 f"driver memory {HEAP}  shuffle partitions "
                 f"{res['shuffle_partitions']}",
                 f"loadavg start {res['loadavg_start']}  end {res['loadavg_end']}",
                 f"setup: " + ", ".join(
                     f"{k} {v if isinstance(v, list) else round(v, 3)}"
                     for k, v in res["setup"].items()),
                 f"failed_share {failed / max(1, len(measured)):.4f} "
                 f"({failed} of {len(measured)} operations)  "
                 f"results checked {res['checked']}  "
                 f"oracle-checked queries {len(errors)}"]
        lines += [f"  result {q} {d}" for q, d in sorted(digests.items())]
        lines += [f"  FAILED {f}" for f in failures]
        if trace:
            metrics = per_layer(workload, res, gen_s, check_s)
            lines += [f"  {k} = {v:.6g} {UNITS[k]}  (moves "
                      f"{spec.MOVES[k][0]})" for k, v in metrics.items()]
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            with open(os.path.join(BUILD, "traces",
                                   f"{workload}-seed{seed}.json"), "w") as f:
                json.dump({"result": res, "per_layer": metrics}, f)
        else:
            metrics, counts, label = end_to_end(workload, res)
            lines += [f"  {k} = {v:.6g} {UNITS[k]} (n={counts[k]}"
                      + (f", {label}" if k == "op_tail_s" else "") + ")"
                      for k, v in metrics.items()]
            for k, (v, how, cnt, unit) in report(workload, res, plan).items():
                lines.append(f"  {k} = {v:.6g} {unit} (n={cnt}, {how})")
        result = {"correct": not failures, "attempted": len(measured),
                  "failed": failed,
                  "metrics": {k: {"value": v, "unit": UNITS[k]}
                              for k, v in metrics.items()}}
        return result, lines
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in BENCHMARK["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use small values)")
    a = ap.parse_args(argv)
    try:
        result, lines = run(a.workload, a.seed, a.seconds, a.trace, a.scale)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    for ln in lines:
        print(ln)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
