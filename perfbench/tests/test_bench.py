"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

Each case runs the real workloads through perfbench/run.py with
`--seconds 0` (set-up plus the fewest measured iterations), one JVM of about
a minute per run; runs with the same arguments are shared between cases, so
the whole file makes eight runs.
"""
import functools
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


@functools.lru_cache(maxsize=None)
def run(workload, seed, trace=0, corrupt=0, repeat=0):
    """(exit code, run record, result line) of one run; `repeat` tells apart
    runs that must not be shared."""
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
           "--corrupt", str(corrupt)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    record = json.loads(lines[-2])["record"] if len(lines) >= 2 else None
    result = json.loads(lines[-1]) if lines else None
    return p.returncode, record, result


def spec_metrics(key):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


class SeedDeterminism(unittest.TestCase):

    def test_same_seed_same_inputs_counts_and_trees(self):
        rc1, rec1, res1 = run("exact_mixed", 7, trace=1)
        rc2, rec2, res2 = run("exact_mixed", 7, trace=1, repeat=1)
        self.assertEqual((rc1, rc2), (0, 0))
        self.assertEqual(rec1["input_digests"], rec2["input_digests"])
        self.assertEqual(rec1["counts"], rec2["counts"])
        self.assertEqual(rec1["output_digest"], rec2["output_digest"])
        for name in ("tree.fit.jobs", "tree.fit.levels", "tree.split.shuffle_records",
                     "tree.model_io.bytes", "tree.fit.binned_jobs"):
            self.assertEqual(res1["metrics"][name]["value"], res2["metrics"][name]["value"], name)
        self.assertGreater(res1["metrics"]["tree.fit.jobs"]["value"], 0)
        self.assertGreater(res1["metrics"]["tree.split.shuffle_records"]["value"], 0)
        self.assertEqual(res1["metrics"]["tree.fit.levels"]["value"], 4)

    def test_different_seed_different_inputs(self):
        _, rec1, _ = run("corpus_dedup", 7)
        _, rec2, _ = run("corpus_dedup", 8)
        for name, digest in rec1["input_digests"].items():
            self.assertNotEqual(digest, rec2["input_digests"][name], name)


class LoudFailure(unittest.TestCase):

    def test_corrupted_expectation_counts_as_failed(self):
        for workload in ("exact_mixed", "corpus_dedup"):
            rc, rec, res = run(workload, 3, corrupt=1)
            self.assertEqual(rc, 1, workload)
            self.assertFalse(res["correct"])
            self.assertGreaterEqual(res["failed"], 1)
            self.assertGreaterEqual(res["attempted"], res["failed"])
            self.assertTrue(rec["failures"])

    def test_no_library_sources_fails_without_result(self):
        os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
        work = tempfile.mkdtemp(dir=os.path.join(BENCH, ".work"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), work)
            shutil.copytree(BENCH, os.path.join(work, "perfbench"),
                            ignore=shutil.ignore_patterns("target", ".work", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "exact_mixed",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=work, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(work, ignore_errors=True)


class MetricNames(unittest.TestCase):

    def test_printed_names_and_units_match_benchmark_json(self):
        for workload in ("exact_mixed", "corpus_dedup"):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                rc, _, res = run(workload, 7, trace=trace)
                self.assertEqual(rc, 0)
                got = {n: m["unit"] for n, m in res["metrics"].items()}
                self.assertEqual(got, spec_metrics(key), f"{workload} trace={trace}")


if __name__ == "__main__":
    unittest.main()
