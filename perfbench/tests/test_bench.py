"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The smoke tests build the engine on first use and start one JVM per
workload at a tiny input size.
"""
import contextlib
import hashlib
import io
import json
import os
import shutil
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

WORKLOADS = [w["name"] for w in run.BENCHMARK["workloads"]]


def tree_digest(d):
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(d)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GenerationTest(unittest.TestCase):
    def setUp(self):
        base = os.path.join(ROOT, ".bench_build")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=base)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def digest(self, workload, seed, tag):
        out = os.path.join(self.tmp, f"{workload}-{seed}-{tag}")
        gen.generate(out, workload, seed, scale=0.02)
        return tree_digest(out)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a = self.digest(w, 7, "a")
                self.assertEqual(a, self.digest(w, 7, "b"))
                self.assertNotEqual(a, self.digest(w, 8, "c"))


class TailTest(unittest.TestCase):
    def test_edge_counts(self):
        self.assertEqual(run.tail([3.0]), ("max", 3.0))
        xs = [float(i) for i in range(1, 21)]          # 20: none has 10 above
        self.assertEqual(run.tail(xs), ("max", 20.0))
        xs = [float(i) for i in range(1, 22)]          # 21: 11th has 10 above
        self.assertEqual(run.tail(xs), ("p52", 11.0))
        xs = [float(i) for i in range(1, 31)]          # 30: 20th has 10 above
        self.assertEqual(run.tail(xs), ("p67", 20.0))
        xs = [float(i) for i in range(1, 1001)]
        label, v = run.tail(xs)
        self.assertEqual((label, v), ("p99", 990.0))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 6
        self.assertEqual(run.tail(xs), run.tail(sorted(xs)))


class SmokeTest(unittest.TestCase):
    """Every workload at a tiny size: the run is correct and prints exactly
    the metric names BENCHMARK.json declares."""

    def check(self, workload, trace):
        out = io.StringIO()
        cwd = os.getcwd()
        os.chdir(ROOT)
        try:
            with contextlib.redirect_stdout(out):
                rc = run.main(["--workload", workload, "--seed", "3",
                               "--seconds", "1", "--trace", str(trace),
                               "--scale", "0.05"])
        finally:
            os.chdir(cwd)
        self.assertEqual(rc, 0, out.getvalue())
        res = json.loads(out.getvalue().strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        want = run.BENCHMARK["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in want})
        return res

    def test_every_workload_untraced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = self.check(w, 0)
                for m in res["metrics"].values():
                    self.assertGreater(m["value"], 0)

    def test_traced(self):
        self.check("hub_sync", 1)


if __name__ == "__main__":
    unittest.main()
