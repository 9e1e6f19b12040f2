"""Tests of tools/ab_summary.py on planted perfbench results.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab_summary  # noqa: E402

SPEC = {"end_to_end": [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.25}]}


def run(workload, seed, setup, op, failed=0, attempted=2, trace=0):
    return {"workload": workload, "seed": seed, "trace": trace,
            "failed": failed, "attempted": attempted,
            "metrics": {"setup_s": {"value": setup, "unit": "s"},
                        "op_p50_s": {"value": op, "unit": "s"}}}


def row(rows, workload, metric):
    return next(r for r in rows if r["workload"] == workload and r["metric"] == metric)


class AbSummaryTest(unittest.TestCase):
    def test_clear_gain_on_paired_seeds(self):
        parent = [run("tip", s, 50.0, 23.0 + (s % 3) * 0.2) for s in range(10)]
        change = [run("tip", s, 48.0, 20.0 + (s % 3) * 0.2) for s in range(10)]
        r = row(ab_summary.metric_rows(parent, change, SPEC), "tip", "op_p50_s")
        self.assertEqual((r["pairs"], r["wins"], r["losses"]), (10, 10, 0))
        self.assertTrue(r["gain_holds"])
        self.assertEqual(r["bound"], "ok")
        self.assertEqual(r["parent"][0], 10)
        self.assertAlmostEqual(r["parent"][2], 23.2)

    def test_eight_wins_of_ten_is_no_gain(self):
        parent = [run("tip", s, 50.0, 23.0) for s in range(10)]
        change = [run("tip", s, 50.0, 20.0 if s < 8 else 24.0) for s in range(10)]
        r = row(ab_summary.metric_rows(parent, change, SPEC), "tip", "op_p50_s")
        self.assertEqual((r["wins"], r["losses"]), (8, 2))
        self.assertFalse(r["gain_holds"])

    def test_median_inside_parent_spread_is_no_gain(self):
        parent = [run("tip", s, 50.0, [18.0, 22.0, 26.0, 30.0][s % 4]) for s in range(8)]
        change = [run("tip", s, 50.0, v - 0.5) for s, v in
                  ((r["seed"], r["metrics"]["op_p50_s"]["value"]) for r in parent)]
        r = row(ab_summary.metric_rows(parent, change, SPEC), "tip", "op_p50_s")
        self.assertEqual(r["wins"], 8)
        self.assertFalse(r["gain_holds"], "0.5 s is inside the parent's IQR")

    def test_regression_beyond_bound_fails(self):
        parent = [run("range", s, 30.0, 10.0) for s in range(5)]
        change = [run("range", s, 30.0, 13.0) for s in range(5)]
        rows = ab_summary.metric_rows(parent, change, SPEC)
        self.assertEqual(row(rows, "range", "op_p50_s")["bound"], "REGRESSION")
        self.assertEqual(row(rows, "range", "setup_s")["bound"], "ok")
        _, ok = ab_summary.report(parent, change, SPEC)
        self.assertFalse(ok)

    def test_wide_spread_is_unresolved(self):
        parent = [run("range", s, 30.0, [6.0, 10.0, 14.0][s % 3]) for s in range(6)]
        change = [run("range", s, 30.0, [7.0, 11.0, 15.0][s % 3]) for s in range(6)]
        r = row(ab_summary.metric_rows(parent, change, SPEC), "range", "op_p50_s")
        self.assertEqual(r["bound"], "unresolved")

    def test_failed_share_rise_fails(self):
        parent = [run("tip", s, 50.0, 20.0) for s in range(3)]
        change = [run("tip", s, 50.0, 20.0, failed=1 if s == 0 else 0) for s in range(3)]
        text, ok = ab_summary.report(parent, change, SPEC)
        self.assertFalse(ok)
        self.assertIn("failed operations: parent 0/6, change 1/6 RISES", text)

    def test_load_skips_traced_runs_and_reads_directories(self):
        with tempfile.TemporaryDirectory() as d:
            for i, r in enumerate([run("tip", 1, 50.0, 20.0), run("tip", 2, 50.0, 20.0, trace=1)]):
                Path(d, f"r{i}.json").write_text(json.dumps(r))
            runs = ab_summary.load([d])
        self.assertEqual([r["seed"] for r in runs], [1])


if __name__ == "__main__":
    unittest.main()
