"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v     (from the repo root)

The JVM tests build the project first (see perfbench/build.py) and take
about a minute each.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import compare  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402
import trace_summary  # noqa: E402


def sha(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_table_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
                gen_tables.write(os.path.join(d, tag), seed, 0.5)
            for t in os.listdir(os.path.join(d, "a")):
                self.assertEqual(sha(os.path.join(d, "a", t)), sha(os.path.join(d, "b", t)), t)
            self.assertNotEqual(sha(os.path.join(d, "a", "documents.parquet")),
                                sha(os.path.join(d, "c", "documents.parquet")))


class CompareTest(unittest.TestCase):
    LOWER = {"name": "x", "better": "lower", "bound": 0.1}

    def test_gain_needs_nine_of_ten_wins_and_a_gap_past_the_parent_iqr(self):
        parent = [100 + i for i in range(10)]
        self.assertEqual(compare.verdict(self.LOWER, parent, [p - 20 for p in parent], 10, 10)[0],
                         "gain")
        self.assertNotEqual(compare.verdict(self.LOWER, parent, [p - 20 for p in parent], 8, 10)[0],
                            "gain")
        self.assertNotEqual(compare.verdict(self.LOWER, parent, [p - 1 for p in parent], 10, 10)[0],
                            "gain")

    def test_worse_past_the_bound_and_unresolved_when_spread_exceeds_it(self):
        parent = [100.0] * 10
        self.assertEqual(compare.verdict(self.LOWER, parent, [120.0] * 10, 0, 10)[0], "worse")
        self.assertEqual(compare.verdict(self.LOWER, parent, [105.0] * 10, 0, 10)[0], "same")
        noisy = [60.0, 80.0, 100.0, 120.0, 140.0] * 2
        self.assertEqual(compare.verdict(self.LOWER, parent, noisy, 4, 10)[0], "unresolved")


class TraceSummaryTest(unittest.TestCase):
    def test_self_time_is_span_minus_covered_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "drain", "layer": "streaming", "start_ns": 0, "end_ns": 100},
            {"id": 2, "parent": 1, "name": "a", "layer": "ops", "start_ns": 10, "end_ns": 40},
            {"id": 3, "parent": 1, "name": "b", "layer": "ops", "start_ns": 30, "end_ns": 50},
        ]
        selfs = trace_summary.self_times(spans)
        self.assertEqual(selfs[1], 60)
        self.assertEqual(trace_summary.layer_table(spans)["ops"], [2, 50, 50])


class BenchmarkSpecTest(unittest.TestCase):
    def test_spec_names_every_workload_run_py_knows(self):
        spec = run.spec()
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)


def jvm(args, work):
    classes = build.build()
    cp = os.pathsep.join([classes, os.path.join(build.jar_dir(), "*")])
    out = os.path.join(work, "result.json")
    cmd = ["java"] + run.JVM_OPTS + [f"-Djava.io.tmpdir={work}", "-cp", cp,
                                     "perfbench.PerfBench", "--work", work, "--out", out] + args
    subprocess.run(cmd, cwd=work, check=True, capture_output=True)
    with open(out) as fh:
        return json.load(fh)


class IngestTest(unittest.TestCase):
    """A small drain: the seed fixes the log bytes, and the pipeline's audit
    summary equals the generator's ledger."""

    def drain(self, seed):
        with tempfile.TemporaryDirectory() as work:
            return jvm(["--workload", "ingest_drain", "--seed", str(seed), "--seconds", "1",
                        "--trace", "0", "--cpus", "2", "--records", "3000",
                        "--batches", "3", "--records_per_object", "1000",
                        "--warmup_s", "0"], work)

    def test_same_seed_same_log_and_ledger_matches_summary(self):
        a, b, c = self.drain(11), self.drain(11), self.drain(12)
        self.assertEqual(a["failures"], [])
        self.assertEqual(a["log_sha256"], b["log_sha256"])
        self.assertNotEqual(a["log_sha256"], c["log_sha256"])
        ledger, summary = a["ledger"], a["audit_summary"]
        self.assertEqual(summary.get("OK"), ledger["kept"])
        self.assertEqual(summary.get("FILTERED (expected)"), ledger["filtered"])
        self.assertEqual(set(summary) - {"OK", "FILTERED (expected)"}, set())
        self.assertGreater(ledger["tombstones"], 0)
        self.assertGreater(ledger["dead_letters"], 0)
        self.assertGreater(ledger["kept_v1"] * ledger["kept_v2"], 0)


class IsolationTest(unittest.TestCase):
    """A benchmark run leaves the git tree, and the committed bench
    artifacts in particular, exactly as it found them."""

    def test_run_leaves_git_tree_unchanged(self):
        def state():
            st = subprocess.run(["git", "status", "--porcelain", "--untracked-files=all"],
                                cwd=ROOT, capture_output=True, text=True, check=True).stdout
            arts = {p: sha(os.path.join(ROOT, p)) for p in
                    ("bench/BENCH_full.json", "bench/BENCH_history.jsonl")
                    if os.path.exists(os.path.join(ROOT, p))}
            return st, arts
        if not os.path.isdir(os.path.join(ROOT, ".git")):
            self.skipTest("not a git checkout")
        before = state()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest_drain",
                            "--seed", "3", "--seconds", "1", "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertTrue(json.loads(p.stdout.strip().splitlines()[-1])["correct"])
        self.assertEqual(state(), before)


if __name__ == "__main__":
    unittest.main()
