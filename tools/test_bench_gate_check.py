#!/usr/bin/env python3
"""Tests for tools/bench_gate_check.py on synthetic records.

Each case copies the checker into a temporary repo layout
(<tmp>/tools/bench_gate_check.py next to <tmp>/BENCH_GATE_r*.json), so
the committed gate records never feed the floors, and runs it with
--no-git.

Usage: python3 tools/test_bench_gate_check.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

CHECKER = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "bench_gate_check.py")


def record(queries):
    return {"metric": "total_s", "value": sum(v for v in queries.values() if v > 0),
            "unit": "s", "queries": queries}


class BenchGateCheckTest(unittest.TestCase):

    def run_check(self, gates, candidate, harness=None):
        """gates: {round: {entry: seconds}}; harness: extra keys of the
        candidate record; returns (exit code, stdout)."""
        with tempfile.TemporaryDirectory() as root:
            os.mkdir(os.path.join(root, "tools"))
            shutil.copy(CHECKER, os.path.join(root, "tools"))
            for rnd, qs in gates.items():
                with open(os.path.join(root, f"BENCH_GATE_r{rnd}.json"), "w") as f:
                    json.dump(record(qs), f)
            cand = os.path.join(root, "candidate.json")
            with open(cand, "w") as f:
                json.dump({**record(candidate), **(harness or {})}, f)
            p = subprocess.run(
                [sys.executable, os.path.join(root, "tools", "bench_gate_check.py"),
                 cand, "--no-git"],
                capture_output=True, text=True)
            return p.returncode, p.stdout

    def test_within_the_gate_passes(self):
        code, out = self.run_check({18: {"a": 1.0, "b": 2.0}}, {"a": 1.5, "b": 2.5})
        self.assertEqual(code, 0, out)
        self.assertNotIn("FAILED", out)

    def test_crashed_entry_fails(self):
        code, out = self.run_check({18: {"a": 1.0, "b": 2.0}}, {"a": 1.0, "b": -1})
        self.assertEqual(code, 1, out)
        self.assertIn("FAILED", out)
        self.assertIn("  b", out)

    def test_crashed_first_line_entry_fails(self):
        # an entry with no floor yet must not slip through as a first line
        code, out = self.run_check({18: {"a": 1.0}}, {"a": 1.0, "new": -1})
        self.assertEqual(code, 1, out)
        self.assertIn("new", out.split("FAILED")[1])

    def test_failed_gate_entry_sets_no_floor(self):
        # r18's crash (-1) must not become the floor; r19's 2.0 is
        code, out = self.run_check({18: {"a": -1, "b": 1.0}, 19: {"a": 2.0, "b": 1.0}},
                                   {"a": 3.0, "b": 1.0})
        self.assertEqual(code, 0, out)
        self.assertIn("floor    2.00s", out)

    def test_record_with_harness_keys_passes(self):
        # graft.Bench records carry the resolved cores, parallelism and heap
        harness = {"cpus": 4, "default_parallelism": 4, "xmx_gb": 8.59,
                   "sf": "/data/sf0.1"}
        code, out = self.run_check({18: {"a": 1.0, "b": 2.0}}, {"a": 1.5, "b": 2.5},
                                   harness)
        self.assertEqual(code, 0, out)
        self.assertNotIn("FAILED", out)

    def test_regression_over_2x_fails(self):
        code, out = self.run_check({18: {"a": 1.0, "b": 2.0}}, {"a": 2.5, "b": 2.0})
        self.assertEqual(code, 1, out)
        self.assertIn("BREACHES", out)


if __name__ == "__main__":
    unittest.main()
