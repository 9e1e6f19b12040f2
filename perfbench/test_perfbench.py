"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke test builds the program and runs every workload on sf0.001 for
one operation (a few minutes); set PERFBENCH_SKIP_SMOKE=1 to skip it.
"""
import hashlib
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import lib  # noqa: E402

SPEC = json.loads((HERE / "workloads.json").read_text())
SOURCE = Path(SPEC["source"]).expanduser()
SMOKE_SOURCE = SOURCE.parent / "sf0.001"


def digests(d: Path) -> dict:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


@unittest.skipUnless(SOURCE.is_dir(), f"{SOURCE} not present")
class WindowTest(unittest.TestCase):
    def test_same_seed_same_files(self):
        with tempfile.TemporaryDirectory() as tmp:
            a = lib.cut_input(SOURCE, Path(tmp) / "a", 7, 1536)
            b = lib.cut_input(SOURCE, Path(tmp) / "b", 7, 1536)
            self.assertEqual(a, b)
            self.assertEqual(digests(Path(tmp) / "a"), digests(Path(tmp) / "b"))
            self.assertEqual(sorted(digests(Path(tmp) / "a")), sorted(f"{t}.parquet" for t in lib.TABLES))

    def test_other_seed_other_window(self):
        with tempfile.TemporaryDirectory() as tmp:
            a = lib.cut_input(SOURCE, Path(tmp) / "a", 7, 1536)
            b = lib.cut_input(SOURCE, Path(tmp) / "b", 8, 1536)
            self.assertNotEqual(a["orderkey_lo"], b["orderkey_lo"])
            self.assertNotEqual(digests(Path(tmp) / "a")["lineitem.parquet"],
                                digests(Path(tmp) / "b")["lineitem.parquet"])
            self.assertEqual(digests(Path(tmp) / "a")["events.parquet"],
                             digests(Path(tmp) / "b")["events.parquet"])

    def test_window_bounds(self):
        for seed in range(200):
            lo, hi = lib.window(seed, 1536, 150000)
            self.assertEqual(lo % lib.BLOCK, 0)
            self.assertEqual(hi - lo, 1536)
            self.assertLessEqual(hi, 150000)
        with self.assertRaises(ValueError):
            lib.window(1, 2000, 1500)


class PercentileTest(unittest.TestCase):
    def test_matches_statistics_median(self):
        for xs in ([3.0], [1.0, 2.0], [5, 1, 4, 2, 3], [0.1 * i for i in range(37)]):
            self.assertAlmostEqual(lib.percentile(xs, 0.5), statistics.median(xs))

    def test_interpolates(self):
        xs = list(range(11))
        self.assertEqual(lib.percentile(xs, 0.9), 9.0)
        self.assertEqual(lib.percentile(xs, 0.0), 0)
        self.assertEqual(lib.percentile(xs, 1.0), 10)
        self.assertAlmostEqual(lib.percentile([1.0, 2.0], 0.9), 1.9)
        with self.assertRaises(ValueError):
            lib.percentile([], 0.5)

    def test_beyond(self):
        self.assertEqual(lib.beyond(list(range(100)), 0.9), 10)
        self.assertEqual(lib.beyond([1.0] * 20, 0.9), 0)


class DigestTest(unittest.TestCase):
    REF = {"rows": 3, "hash": "-12345", "floats": {"p": [1.5, 2.5, 3], "q": [None, None, 0]}}

    def with_float(self, s, a, n=3):
        return dict(self.REF, floats=dict(self.REF["floats"], p=[s, a, n]))

    def test_equal(self):
        self.assertIsNone(lib.digest_diff(self.REF, json.loads(json.dumps(self.REF))))

    def test_rows_and_hash(self):
        self.assertIn("rows", lib.digest_diff(self.REF, dict(self.REF, rows=4)))
        self.assertIn("hash", lib.digest_diff(self.REF, dict(self.REF, hash="1")))

    def test_float_tolerance(self):
        self.assertIsNone(lib.digest_diff(self.REF, self.with_float(1.5 + 1e-12, 2.5)))
        self.assertIn("float column p", lib.digest_diff(self.REF, self.with_float(1.5 + 1e-6, 2.5)))
        self.assertIn("float column p", lib.digest_diff(self.REF, self.with_float(1.5, 2.5, 2)))

    def test_nan(self):
        ref = self.with_float(math.nan, 2.5)
        self.assertIsNone(lib.digest_diff(ref, self.with_float(math.nan, 2.5)))
        self.assertIsNotNone(lib.digest_diff(ref, self.with_float(1.5, 2.5)))

    def test_columns(self):
        got = dict(self.REF, floats={"p": [1.5, 2.5, 3]})
        self.assertEqual(lib.digest_diff(self.REF, got), "float columns differ")


def op(name, role, wall, digests=None, kind="range", spans=(), **kw):
    return dict(name=name, role=role, kind=kind, wall_s=wall, traced=role == "traced",
                digests=digests or {}, spans=list(spans), **kw)


class JudgeTest(unittest.TestCase):
    D = {"rows": 1, "hash": "7", "floats": {}}

    def res(self, *ops):
        return {"workload": "range_cold", "setup_s": 3.0, "loop_s": 2.0, "counts": {},
                "ops": list(ops)}

    def test_counts_failures(self):
        res = self.res(op("w", "warm", 5, dump_digests={"a": self.D, "b": self.D}),
                       op("t1", "timed", 1, {"a": self.D, "b": self.D}),
                       op("t2", "timed", 2, {"a": self.D, "b": dict(self.D, rows=2)}),
                       op("t3", "timed", 3, {"a": self.D}),
                       op("t4", "timed", 4, error="boom"))
        v = lib.judge(res)
        self.assertEqual((v["attempted"], v["failed"]), (4, 3))
        self.assertEqual(lib.timed_walls(res), [1])
        self.assertEqual(lib.end_to_end(res)["op_p50_s"], (1, "s"))

    def test_failed_setup_raises(self):
        with self.assertRaises(RuntimeError):
            lib.judge(self.res(op("w", "warm", 5, error="boom")))

    def test_coverage_names_gap(self):
        o = op("t", "traced", 10.0, spans=[["materialize", "traces", "", 0.0, 4.0],
                                           ["compose", "run", "q9", 6.0, 9.5]])
        share, (gap, after, before) = lib.coverage(o)
        self.assertAlmostEqual(share, 0.75)
        self.assertAlmostEqual(gap, 2.0)
        self.assertEqual((after, before), ("materialize.traces", "compose.run q9"))

    def test_per_layer_names_do_not_depend_on_workload(self):
        t = op("t", "traced", 4.0, {}, spans=[["compose", "build", "q9", 0.0, 3.0]])
        a = lib.per_layer(self.res(t, op("r", "ref", 3.5)))
        b = lib.per_layer(dict(self.res(), workload="tip_stream"))
        self.assertEqual(list(a), list(b))
        self.assertAlmostEqual(a["compose.build_s"][0], 3.0)
        self.assertAlmostEqual(a["trace.overhead_s"][0], 0.5)


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SMOKE"), "PERFBENCH_SKIP_SMOKE is set")
@unittest.skipUnless(SMOKE_SOURCE.is_dir(), f"{SMOKE_SOURCE} not present")
class SmokeTest(unittest.TestCase):
    """Every workload, traced, on sf0.001: exits 0, prints one JSON line
    with every metric the workload reports, and checks out correct."""

    def run_workload(self, workload, seed):
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
             "--seconds", "1", "--trace", "1", "--source", str(SMOKE_SOURCE), "--window", "1024"],
            cwd=HERE.parent, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        line = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(line["correct"], out.stderr[-3000:])
        self.assertEqual(line["failed"], 0)
        self.assertGreaterEqual(line["attempted"], 2)
        return line["metrics"]

    def test_workloads(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        names = {m["name"] for m in bench["per_layer"]}
        for seed, w in enumerate(("range_cold", "tip_stream", "analyst_warm"), start=9001):
            with self.subTest(workload=w):
                metrics = self.run_workload(w, seed)
                self.assertLessEqual(names, set(metrics))
                self.assertGreater(metrics["trace.span_coverage"]["value"], 0.9)


if __name__ == "__main__":
    unittest.main()
