"""Seeded input generation for the benchmark workloads.

Everything the engine reads during a run is written here, from the seed
alone: the star-schema tables (shaped like the engine's sf0.1 test
fixture), the pretalx schedule.json cycles of `hub_sync`, the text corpus
and change batches of `index_churn`, and the operation orders of every
workload. The same seed writes byte-identical files; `plan.json` carries
the operation sequences and the generator's expected results.

    python3 perfbench/gen.py <outdir> <workload> <seed> [scale]
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spec import WORKLOADS

# Large tables are written as directories of several part files so scans
# run as parallel tasks, the layout the engine's scan spool gives the
# fixture. `events` stays one file, as in the fixture: the streaming source
# copies `events.parquet` into its landing directory as a file.
SPLIT_FILES = 8
SPLIT_TABLES = {"orders", "lineitem", "documents", "embeddings"}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_ADJ = "hot old red small new large cold blue".split()
PART_NOUN = "bolt plate gear ring rod anvil widget gizmo".split()
ROOMS = {1: "CDC Triangle", 2: "CDC Circle", 3: "Room 3"}


def _ts(days_from, days_to, n, rng, base="1995-01-01"):
    d = rng.integers(days_from, days_to, n)
    return (np.datetime64(base, "D") + d).astype("datetime64[us]")


def _write(table, path, files=None):
    """One parquet file at `path`, or a directory of `files` part files."""
    if files is None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")


def _words(rng, lo, hi, n):
    lens = rng.integers(lo, hi, n)
    picks = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[j] for j in picks[at:at + ln]))
        at += ln
    return out


def tables(rng, scale):
    """The ten engine tables, row counts scaled from the sf0.1 fixture."""
    n = lambda rows: max(20, int(rows * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n(15000)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], nc)})
    ns = n(1000)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    npart = n(20000)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 36, npart)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                              "MEDIUM", "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, npart), 1)})
    no = n(150000)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(0, 2404, no, rng),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    nl = len(okey)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _ts(1, 2499, nl, rng)})
    ne = n(100000)
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": (np.datetime64("2024-01-01", "us") + us).astype("datetime64[us]"),
        "user_id": pa.array(rng.integers(1, 1501, ne), pa.int64()),
        "event_type": rng.choice(["signup", "click", "error", "view",
                                  "purchase"], ne),
        "value": np.round(rng.uniform(0.0, 560.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n(5000)
    text = _words(rng, 8, 100, nd)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": text,
        "lang": rng.choice(["en", "es", "fr", "zh", "de"], nd,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(1, 21, nd)],
        "n_chars": pa.array([len(x) for x in text], pa.int64())})
    nv = n(2000)
    emb = rng.normal(0.0, 0.12, (nv, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return t


def write_tables(rng, scale, out):
    for name, tab in tables(rng, scale).items():
        _write(tab, os.path.join(out, "sf", f"{name}.parquet"),
               SPLIT_FILES if name in SPLIT_TABLES else None)


def rows_digest(rows):
    """Order-independent digest of canonical rows (the engine side computes
    the same over the hub table)."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(r.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def hub_row(talk, speakers):
    """Canonical hub row a correct sync leaves for `talk`: the reference's
    talk→event projection (pretalx title/room/abstract/speakers)."""
    names = [speakers.get(s, s) for s in talk["speakers"]]
    desc = "Speaker" + ("" if len(names) == 1 else "s") + ": " + ", ".join(names)
    return "\x1f".join(["h-" + talk["code"].lower(), talk["title"],
                        ROOMS.get(talk["room"], ""), talk["abstract"] or "",
                        desc, talk["duration"]])


def hub(rng, cfg, out):
    """Initial schedule plus one mutated schedule.json per cycle."""
    n_talks = cfg["talks"]
    n_spk = max(2, n_talks // 2)
    speakers = {f"S{i:05d}": f"Speaker {i}" for i in range(n_spk)}
    spk_codes = sorted(speakers)
    next_code = [0]

    def talk():
        i = next_code[0]
        next_code[0] += 1
        k = int(rng.integers(1, 4))
        return {"code": f"T{i:06d}", "title": " ".join(_words(rng, 2, 6, 1)),
                "room": int(rng.integers(1, 5)),
                "abstract": None if rng.random() < 0.05
                else _words(rng, 10, 40, 1)[0],
                "speakers": [spk_codes[j] for j in rng.integers(0, n_spk, k)],
                "start": f"2026-08-0{int(rng.integers(1, 5))}T"
                         f"{int(rng.integers(9, 19)):02d}:"
                         f"{int(rng.choice([0, 30])):02d}:00+02:00",
                "duration": str(int(rng.choice([30, 45, 60, 90])))}

    talks = [talk() for _ in range(n_talks)]
    spk_json = [{"code": c, "name": speakers[c]} for c in spk_codes]
    d = os.path.join(out, "hub")
    os.makedirs(d, exist_ok=True)

    def dump(i, ts):
        with open(os.path.join(d, f"schedule_{i:04d}.json"), "w") as f:
            json.dump({"talks": ts, "speakers": spk_json}, f,
                      separators=(",", ":"))

    dump(0, talks)
    initial_digest = rows_digest(hub_row(t, speakers) for t in talks)
    cycles = []
    for c in range(1, cfg["max_cycles"] + 1):
        k = lambda share: max(1, int(round(len(talks) * share)))
        gone = set(rng.choice(len(talks), k(cfg["remove_share"]),
                              replace=False).tolist())
        kept = [t for i, t in enumerate(talks) if i not in gone]
        edited = rng.choice(len(kept), k(cfg["edit_share"]), replace=False)
        for i in edited:
            t = dict(kept[i])
            t["title"] = t["title"] + " " + VOCAB[int(rng.integers(len(VOCAB)))]
            t["abstract"] = _words(rng, 10, 40, 1)[0]
            kept[i] = t
        added = [talk() for _ in range(k(cfg["add_share"]))]
        talks = kept + added
        dump(c, talks)
        cycles.append({
            "path": f"hub/schedule_{c:04d}.json",
            "created": len(added), "updated": len(kept),
            "deleted": len(gone), "edited": len(edited),
            "rows": len(talks),
            "digest": rows_digest(hub_row(t, speakers) for t in talks)})
    return {"initial": "hub/schedule_0000.json", "initial_rows": n_talks,
            "initial_digest": initial_digest, "cycles": cycles}


def corpus(rng, cfg, out):
    """Text-index corpus: seeded id-shifted, word-varied copies of a
    `documents`-shaped base of sf0.1 size, plus the index_churn operation
    list."""
    base_ids = range(cfg["base_docs"])
    base_text = _words(rng, 8, 100, cfg["base_docs"])
    ids, texts = [], []
    for c in range(cfg["copies"]):
        for i, t in zip(base_ids, base_text):
            ws = t.split(" ")
            for j in rng.integers(0, len(ws), max(1, len(ws) // 10)):
                ws[j] = VOCAB[int(rng.integers(len(VOCAB)))]
            ids.append(i + c * 1_000_000)
            texts.append(" ".join(ws))
    _write(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
           os.path.join(out, "index", "corpus.parquet"), SPLIT_FILES)
    live = list(ids)
    live_set = set(ids)
    next_id = max(ids) + 1
    ops = []
    for _ in range(cfg["max_blocks"]):
        searches = iter(cfg["search_terms"])
        for kind in cfg["block"]:
            if kind == "search":
                k = next(searches)
                ops.append({"kind": "search", "terms": sorted(
                    VOCAB[int(j)] for j in
                    rng.choice(len(VOCAB), k, replace=False))})
            elif kind == "delete":
                pick = rng.choice(len(live), cfg["batch"], replace=False)
                victims = sorted(live[int(j)] for j in pick)
                vs = set(victims)
                live = [x for x in live if x not in vs]
                live_set -= vs
                ops.append({"kind": "delete", "ids": victims})
            else:
                n_old = cfg["batch"] // 2
                old = sorted(live[int(j)] for j in
                             rng.choice(len(live), n_old, replace=False))
                new = list(range(next_id, next_id + cfg["batch"] - n_old))
                next_id += len(new)
                live += new
                live_set |= set(new)
                docs_ = [{"doc_id": i, "text": _words(rng, 8, 60, 1)[0]}
                         for i in old + new]
                ops.append({"kind": "upsert", "docs": docs_})
    probes = [sorted(set(VOCAB[int(j)] for j in
                         rng.integers(0, len(VOCAB), int(rng.integers(1, 4)))))
              for _ in range(cfg["probes"])]
    return {"corpus": "index/corpus.parquet", "docs": len(ids),
            "ops": ops, "probes": probes}


def rounds(rng, names, n):
    """`n` rounds, each two passes over the entries in the same seeded
    rotation of the listed order: every run repeats one cycle, so each
    entry follows the same predecessor in every run and only where the
    cycle starts varies (an entry's time depends on what ran before it,
    through caches, the JIT and state left behind). Two passes give each
    entry two samples in the one round a run measures."""
    off = int(rng.integers(len(names)))
    return [(list(names[off:]) + list(names[:off])) * 2 for _ in range(n)]


def generate(out, workload, seed, scale=1.0):
    """Write every input of `workload` under `out`; returns the plan."""
    cfg = WORKLOADS[workload]["inputs"]
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    os.makedirs(out, exist_ok=True)
    write_tables(rng, scale * cfg.get("table_scale", 1.0), out)
    plan = {"workload": workload, "seed": seed, "scale": scale}
    if workload == "hub_sync":
        plan["hub_buckets"] = cfg["hub_buckets"]
        plan["hub"] = hub(rng, dict(cfg, talks=max(40, int(
            cfg["talks"] * scale))), out)
    elif workload == "index_churn":
        plan["index"] = corpus(rng, cfg, out)
        plan["block"] = len(cfg["block"])
        plan["index_buckets"] = cfg["index_buckets"]
    else:
        plan["rounds"] = rounds(rng, [q for q, _ in cfg["queries"]],
                                cfg["max_rounds"])
        plan["families"] = {q: f for q, f in cfg["queries"]}
        plan["events_rows"] = pq.ParquetDataset(
            os.path.join(out, "sf", "events.parquet")).read(
                columns=["event_id"]).num_rows
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f, separators=(",", ":"), sort_keys=True)
    return plan


if __name__ == "__main__":
    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]),
             float(sys.argv[4]) if len(sys.argv) > 4 else 1.0)
