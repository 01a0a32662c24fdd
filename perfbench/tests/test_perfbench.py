"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The helper tests are pure. The JVM tests build the program and run short
workloads (a few minutes in all).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import metrics  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(metrics.median([7.5]), 7.5)
        with self.assertRaises(ValueError):
            metrics.median([])

    def test_percentile(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(metrics.percentile(xs, 0), 10)
        self.assertEqual(metrics.percentile(xs, 100), 50)
        self.assertEqual(metrics.percentile(xs, 50), metrics.median(xs))
        self.assertAlmostEqual(metrics.percentile(xs, 90), 46.0)
        self.assertAlmostEqual(metrics.percentile([1, 2], 25), 1.25)
        with self.assertRaises(ValueError):
            metrics.percentile(xs, 101)

    def test_slope(self):
        self.assertEqual(metrics.slope([5]), 0.0)
        self.assertAlmostEqual(metrics.slope([1, 3, 5, 7]), 2.0)
        self.assertAlmostEqual(metrics.slope([4, 4, 4]), 0.0)

    def test_union(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(metrics.union_ms([], 0, 10), 0)


def span(sid, name, parent, start_s, end_s, fs=None, **spark):
    counts = {"jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0,
              "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
              "spill_bytes": 0, "gc_ms": 0}
    counts.update(spark)
    return {"id": sid, "name": name, "parent": parent,
            "start_ns": int(start_s * 1e9), "end_ns": int(end_s * 1e9),
            "start_ms": int(start_s * 1e3), "end_ms": int(end_s * 1e3),
            "fs": fs or {}, "spark": counts, "notes": {},
            "job_intervals_ms": []}


class SelfTimeTest(unittest.TestCase):
    def tree(self):
        # op 0-10 s: scan 1-4 s; commit 5-9 s holding a read 6-7 s
        return [
            span(0, "op", -1, 0, 10, fs={"creates": 5, "bytes_written": 900}),
            span(1, "sources.scan", 0, 1, 4),
            span(2, "ledger.commit", 0, 5, 9, fs={"creates": 4, "bytes_written": 800}),
            span(3, "ledger.read", 2, 6, 7, fs={"creates": 1, "bytes_written": 100}),
        ]

    def test_self_times_and_remainder(self):
        own, remainder, wall = metrics.self_times(self.tree())
        self.assertAlmostEqual(own[1], 3.0)
        self.assertAlmostEqual(own[2], 3.0)
        self.assertAlmostEqual(own[3], 1.0)
        self.assertAlmostEqual(remainder, 3.0)
        self.assertAlmostEqual(wall, 10.0)
        self.assertAlmostEqual(sum(own.values()), wall)

    def test_one_root(self):
        spans = self.tree()
        spans[1]["parent"] = 99
        with self.assertRaises(ValueError):
            metrics.self_times(spans)

    def test_self_counts(self):
        c = metrics.self_counts(self.tree(), "fs")
        self.assertEqual(c[2]["creates"], 3)
        self.assertEqual(c[0]["creates"], 1)
        self.assertEqual(c[3]["bytes_written"], 100)

    def test_op_layers(self):
        spans = self.tree()
        spans[1]["spark"]["jobs"] = 2
        spans[1]["job_intervals_ms"] = [[1000, 2000], [1500, 3000]]
        op = {"spans": spans, "persisted_rdds": 3}
        out = metrics.op_layers(op, cores=4)
        self.assertAlmostEqual(out["sources.scan_s"], 3.0)
        self.assertAlmostEqual(out["ledger.commit_s"], 3.0)
        self.assertAlmostEqual(out["ledger.read_s"], 1.0)
        self.assertEqual(out["ledger.files_written"], 3)
        self.assertEqual(out["spark.jobs"], 2)
        self.assertAlmostEqual(out["spark.driver_gap_s"], 8.0)
        self.assertAlmostEqual(out["trace.unattributed_s"], 3.0)
        self.assertEqual(set(out), set(metrics.PER_LAYER))


class BenchmarkJsonTest(unittest.TestCase):
    """BENCHMARK.json declares exactly the metrics and workloads run.py
    prints and accepts, with the same units."""

    def setUp(self):
        with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_metrics_match(self):
        for key, want in (("end_to_end", metrics.END_TO_END),
                          ("per_layer", metrics.PER_LAYER)):
            got = [(m["name"], m["unit"]) for m in self.spec[key]]
            self.assertEqual(got, list(want.items()), key)

    def test_workloads_match(self):
        self.assertEqual(tuple(w["name"] for w in self.spec["workloads"]),
                         metrics.WORKLOADS)


def run_bench(*args, cwd=REPO):
    res = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")]
                         + list(args), cwd=cwd, capture_output=True, text=True,
                         timeout=900)
    return res


def last_json(stdout):
    return json.loads(stdout.strip().splitlines()[-1])


class JvmTest(unittest.TestCase):
    """Short runs of the real benchmark."""

    def test_generator_is_seeded(self):
        def digest(seed):
            r = run_bench("--workload", "sync_steady", "--seed", str(seed),
                          "--generate-only")
            self.assertEqual(r.returncode, 0, r.stderr)
            return last_json(r.stdout)["digest"]
        self.assertEqual(digest(5), digest(5))
        self.assertNotEqual(digest(5), digest(6))

    def test_seed_permutes_query_order(self):
        orders = set()
        for seed in (1, 2):
            r = run_bench("--workload", "corpus_batch", "--seed", str(seed),
                          "--generate-only")
            self.assertEqual(r.returncode, 0, r.stderr)
            passes = last_json(r.stdout)["pass_orders"]
            self.assertEqual(len(passes), 4)
            orders.update(tuple(p) for p in passes)
        self.assertEqual(len(orders), 2)

    def test_fingerprints_are_stable(self):
        # every pass of both corpus workloads must reproduce the recorded
        # fingerprints, in whatever order the seed puts the queries
        for w in ("corpus_batch", "corpus_stream"):
            r = run_bench("--workload", w, "--seed", "11", "--seconds", "1")
            self.assertEqual(r.returncode, 0, r.stderr)
            out = last_json(r.stdout)
            self.assertTrue(out["correct"], r.stdout)
            self.assertEqual(out["failed"], 0)

    def test_unreadable_object_fails_the_op(self):
        r = run_bench("--workload", "sync_initial", "--seed", "3",
                      "--seconds", "1", "--unreadable", "1")
        self.assertEqual(r.returncode, 0, r.stderr)
        out = last_json(r.stdout)
        self.assertFalse(out["correct"])
        self.assertGreater(out["failed"], 0)
        self.assertIn("failed_frac 1.0000", r.stdout)

    def test_fails_without_the_program(self):
        d = tempfile.mkdtemp(dir=build.build_dir())
        try:
            shutil.copy(os.path.join(REPO, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = run_bench("--workload", "sync_initial", "--seed", "1",
                          "--seconds", "1", "--trace", "0", cwd=d)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
