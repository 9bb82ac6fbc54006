"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The determinism test builds the benchmark and stages every workload's inputs
twice in a JVM (about a minute); the others are pure Python.
"""
import hashlib
import json
import re
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402
import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = metrics.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(metrics.tail(xs)[0], 2.0)

    def test_eleven_samples_is_the_minimum(self):
        self.assertEqual(metrics.tail(list(range(11)))[:2], (0, 100.0 * 1 / 11))

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (2.0, 50.0, 3))

    def test_failures_count_as_missing_every_limit(self):
        raw = {"window_ms": [0.0, 5000.0],
               "latencies_ms": [10.0] * 20 + [None] * 10}
        lat = metrics._latencies(raw)
        self.assertEqual(max(lat), 5000.0)
        # ten failures: the tail is the slowest success, eleven push it out
        self.assertEqual(metrics.tail(lat)[0], 10.0)
        self.assertEqual(metrics.tail(lat + [5000.0])[0], 5000.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_jobs_are_counted_once(self):
        jobs = [(10, 30), (20, 50), (25, 40)]
        self.assertEqual(metrics.self_time(0, 100, jobs), 100 - 40)

    def test_jobs_are_clipped_to_the_span(self):
        jobs = [(-20, 10), (90, 130), (200, 300)]
        self.assertEqual(metrics.self_time(0, 100, jobs), 100 - 20)

    def test_disjoint_and_touching_jobs(self):
        jobs = [(0, 10), (10, 20), (50, 60)]
        self.assertEqual(metrics.self_time(0, 100, jobs), 100 - 30)

    def test_no_jobs_is_all_driver_time(self):
        self.assertEqual(metrics.self_time(5, 25, []), 20)

    def test_per_layer_attributes_jobs_by_group(self):
        raw = {
            "trace": 1, "layer": {}, "stream_batches": [], "live_run_id": "",
            "passes": [{"kind": "u", "start": 0, "end": 100, "cpu_ms": 1, "gc_ms": 0},
                       {"kind": "t", "start": 200, "end": 310, "cpu_ms": 1, "gc_ms": 3}],
            "spans": [{"name": "dedup.exact", "group": "dedup.exact#1", "start": 200, "end": 300}],
            "jobs": [
                {"group": "dedup.exact#1", "batch": "", "start": 210, "end": 250, "tasks": 4,
                 "task_cpu_ms": 50.0, "shuffle_bytes": 100, "spill_bytes": 0},
                {"group": "dedup.exact#1", "batch": "", "start": 240, "end": 260, "tasks": 2,
                 "task_cpu_ms": 10.0, "shuffle_bytes": 0, "spill_bytes": 7},
                {"group": "other", "batch": "", "start": 220, "end": 230, "tasks": 9,
                 "task_cpu_ms": 99.0, "shuffle_bytes": 0, "spill_bytes": 0},
            ],
        }
        out = metrics.per_layer(raw)
        self.assertEqual(out["dedup.exact.wall_ms"], 100)
        self.assertEqual(out["dedup.exact.self_ms"], 50)
        self.assertEqual(out["dedup.exact.tasks"], 6)
        self.assertEqual(out["dedup.exact.task_cpu_ms"], 60.0)
        self.assertEqual(out["dedup.exact.shuffle_bytes"], 100)
        self.assertEqual(out["dedup.exact.spill_bytes"], 7)
        self.assertEqual(out["engine.jobs"], 3)
        self.assertEqual(out["engine.gc_ms"], 3)
        self.assertAlmostEqual(out["trace.overhead"], 1.1)
        self.assertEqual(set(out), set(metrics.PER_LAYER))


class TrainEvalPhases(unittest.TestCase):
    @staticmethod
    def job(start, end, phase, tasks=1):
        return {"start": start, "end": end, "phase": phase, "tasks": tasks}

    def test_phases_end_at_their_last_job(self):
        jobs = [self.job(5, 20, "featurize_fit"), self.job(22, 30, "featurize_fit"),
                self.job(35, 60, "train_fit"), self.job(61, 70, ""),
                self.job(80, 90, "evaluate")]
        parts = metrics.split_phases(0, 100, jobs)
        self.assertEqual([(n, a, b) for n, a, b, _ in parts],
                         [("ml.featurize_fit", 0, 30), ("ml.train_fit", 30, 60),
                          ("ml.evaluate", 60, 100)])
        # an unclassified job belongs to the phase it starts in
        self.assertEqual([len(js) for *_, js in parts], [2, 1, 2])

    def test_every_job_is_counted_once(self):
        # a job stamped a millisecond before the span still counts
        jobs = [self.job(-1, 10, "featurize_fit"), self.job(12, 15, "evaluate")]
        parts = metrics.split_phases(0, 20, jobs)
        self.assertEqual(sum(len(js) for *_, js in parts), 2)
        self.assertEqual([(a, b) for _, a, b, _ in parts], [(0, 10), (10, 10), (10, 20)])


class Definition(unittest.TestCase):
    def test_benchmark_json_matches_the_metrics_reported(self):
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(metrics.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         metrics.PER_LAYER)
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertEqual(m["better"] == "higher", m["name"] in metrics.HIGHER_IS_BETTER,
                             m["name"])


def staged_bytes(f):
    """A staged file's bytes; for parquet, everything but the footer.

    The footer lists each column chunk's encodings from a hash set whose
    order parquet-mr does not fix, so it can differ between two JVMs that
    wrote identical pages. Pages and footer length must still match.
    """
    data = f.read_bytes()
    if f.suffix != ".parquet":
        return data
    footer = int.from_bytes(data[-8:-4], "little")
    return data[:-8 - footer] + data[-8:-4]


def digest_tree(root):
    """(path without the writer's random file id, sha256) for every data file."""
    out = []
    for f in sorted(root.rglob("*")):
        if f.is_file() and not f.name.startswith(".") and not f.name.startswith("_"):
            rel = re.sub(r"-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "",
                         str(f.relative_to(root)))
            out.append((rel, hashlib.sha256(staged_bytes(f)).hexdigest()))
    return sorted(out)


class SeedDeterminism(unittest.TestCase):
    def stage(self, workload, seed, dest):
        subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "0",
                        "--stage-only", str(dest)],
                       check=True, stdout=subprocess.DEVNULL)
        return digest_tree(dest)

    def test_same_seed_stages_identical_bytes(self):
        tmp = build.build_dir() / "test-stage"
        try:
            for w in metrics.WORKLOADS:
                with self.subTest(workload=w):
                    a = self.stage(w, 11, tmp / "a")
                    b = self.stage(w, 11, tmp / "b")
                    c = self.stage(w, 12, tmp / "c")
                    self.assertTrue(a)
                    self.assertEqual(a, b)
                    self.assertNotEqual(a, c)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
