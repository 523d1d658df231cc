#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json, creates DuckDB views for every table
in <sfDir>, runs each oracle SQL, and compares against the Spark parquet
result in <verifyOutDir>/<name>/ — columns sorted by name, rows sorted by
all columns, exact equality (floats reported with max abs diff).
"""
import json
import re
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def order_keys(sql: str) -> list:
    """The plain column names of the query's final ORDER BY, or [] when it
    has none or orders by anything but bare (optionally ASC/DESC) names."""
    tail = re.split(r"\bORDER\s+BY\b", sql, flags=re.IGNORECASE)
    if len(tail) < 2 or ")" in tail[-1]:
        return []
    keys = []
    for k in tail[-1].split(","):
        m = re.fullmatch(r"\s*(\w+)(\s+(ASC|DESC))?\s*;?\s*", k, re.IGNORECASE)
        if not m:
            return []
        keys.append(m.group(1))
    return keys


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            failures += 1
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
        except Exception as e:
            print(f"FAIL {name}: spark result missing: {e}")
            failures += 1
            continue
        exp = exp[sorted(exp.columns)]
        got = got[sorted(got.columns)]
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
            failures += 1
            continue
        if exp.dtypes.to_dict() != got.dtypes.to_dict():
            print(f"WARN {name}: dtypes differ: got={got.dtypes.to_dict()} exp={exp.dtypes.to_dict()}")
        exp_s = exp.sort_values(by=list(exp.columns), na_position="first").reset_index(drop=True)
        got_s = got.sort_values(by=list(got.columns), na_position="first").reset_index(drop=True)
        if len(exp_s) != len(got_s):
            print(f"FAIL {name}: rows {len(got_s)} != {len(exp_s)}")
            failures += 1
            continue
        ok = True
        for c in exp.columns:
            e, g = exp_s[c], got_s[c]
            if str(e.dtype).startswith("float") or str(g.dtype).startswith("float"):
                import numpy as np
                diff = (e.fillna(-9e99).astype(float) - g.fillna(-9e99).astype(float)).abs()
                if diff.max() > 0:
                    print(f"FAIL {name}: col {c} max abs diff {diff.max()} at row {diff.idxmax()}")
                    ok = False
            else:
                neq = ~((e == g) | (e.isna() & g.isna()))
                if neq.any():
                    i = neq.idxmax()
                    print(f"FAIL {name}: col {c} row {i}: got={got_s[c][i]!r} exp={exp_s[c][i]!r}")
                    ok = False
        # unsorted-row check too: the driver may hash in result order.
        # Rows that tie on the ORDER BY keys may come in either order (the
        # generated lineitem repeats (l_orderkey, l_linenumber) pairs), so
        # when the keys are output columns only their sequence must agree.
        keys = order_keys(sql)
        cols = keys if keys and set(keys) <= set(exp.columns) else list(exp.columns)
        if ok and not exp.equals(got):
            same_vals = all(
                (exp[c].fillna(-9e99) == got[c].fillna(-9e99)).all()
                if not str(exp[c].dtype).startswith("object")
                else (exp[c].fillna("\0") == got[c].fillna("\0")).all()
                for c in cols)
            if not same_vals:
                print(f"WARN {name}: values equal after sort but ROW ORDER differs")
        if ok:
            print(f"PASS {name} ({len(exp_s)} rows)")
        else:
            failures += 1
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
