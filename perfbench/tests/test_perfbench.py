"""Self-tests for the benchmark's statistics, generators and result shape.

Run from the root of the checkout:

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_pct(19), 50.0)
        self.assertEqual(stats.tail_pct(39), 50.0)
        self.assertEqual(stats.tail_pct(40), 75.0)
        self.assertEqual(stats.tail_pct(99), 75.0)
        self.assertEqual(stats.tail_pct(100), 90.0)
        self.assertEqual(stats.tail_pct(200), 95.0)
        self.assertEqual(stats.tail_pct(1000), 99.0)
        self.assertEqual(stats.tail_pct(10000), 99.9)

    def test_at_least_ten_samples_lie_beyond_the_tail(self):
        for n in (40, 57, 100, 250, 1000, 12345):
            xs = list(range(n))
            t = stats.timing(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > t["tail"]), 10)
            self.assertEqual(t["n"], n)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 90), 5)
        self.assertEqual(stats.percentile([3, 1, 2], 100), 3)


class FailureCounting(unittest.TestCase):
    def test_ops_and_checks_each_count_once(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}, {"ok": False}]
        checks = [{"ok": True}, {"ok": False}]
        self.assertEqual(stats.failures(ops, checks), (6, 3))

    def test_clean_run(self):
        self.assertEqual(stats.failures([{"ok": True}] * 5, []), (5, 0))

    def test_a_throw_fails_but_only_a_wrong_result_is_incorrect(self):
        ok = {"ok": True, "wrong": False}
        threw = {"ok": False, "wrong": False}
        wrong = {"ok": False, "wrong": True}
        self.assertEqual(stats.failures([ok, threw], [ok]), (3, 1))
        self.assertTrue(stats.correct([ok, threw], [ok, threw]))
        self.assertFalse(stats.correct([ok, wrong], [ok]))
        self.assertFalse(stats.correct([ok], [wrong]))

    def test_failed_operations_leave_the_latencies(self):
        ops = [{"kind": "write", "t0": 0.0, "t1": 2000.0, "ok": True},
               {"kind": "write", "t0": 0.0, "t1": 10.0, "ok": False},
               {"kind": "read", "t0": 0.0, "t1": 500.0, "ok": True}]
        self.assertEqual(run.kind_times({"ops": ops}, "write"), [2.0])


class SpanSplit(unittest.TestCase):
    def span(self, t0, t1, jobs):
        return {"name": "s", "t0": t0, "t1": t1, "jobs": jobs}

    def test_union_length(self):
        self.assertEqual(stats.union_length([], 0, 10), 0)
        self.assertEqual(stats.union_length([(1, 3), (2, 5), (7, 8)], 0, 10),
                         5)
        # clipped to the window, nested intervals counted once
        self.assertEqual(stats.union_length([(-5, 2), (1, 2), (9, 20)], 0,
                                            10), 3)

    def test_driver_plus_covered_is_wall(self):
        cases = [
            [],
            [(100.0, 300.0)],
            [(100.0, 300.0), (250.0, 400.0), (350.0, 380.0)],
            [(-50.0, 120.0), (900.0, 1200.0)],  # jobs past both edges
            [(0.0, 1000.0)],
        ]
        for jobs in cases:
            wall, covered, driver = stats.span_split(
                self.span(0.0, 1000.0, jobs))
            self.assertAlmostEqual(driver + covered, wall)
            self.assertGreaterEqual(driver, 0.0)
            self.assertLessEqual(covered, wall)
        _, covered, driver = stats.span_split(
            self.span(0.0, 1000.0, [(100.0, 300.0), (250.0, 400.0)]))
        self.assertAlmostEqual(covered, 0.3)
        self.assertAlmostEqual(driver, 0.7)


class Generators(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in run.WORKLOADS:
            with tempfile.TemporaryDirectory() as d:
                gen.generate(w, os.path.join(d, "a"), 11)
                gen.generate(w, os.path.join(d, "b"), 11)
                gen.generate(w, os.path.join(d, "c"), 12)
                a, b, c = (tree_digest(os.path.join(d, x)) for x in "abc")
                self.assertEqual(a, b, w)
                self.assertNotEqual(a, c, w)

    def test_bucket_frames_carry_a_duplicate_and_a_stray_uri(self):
        with tempfile.TemporaryDirectory() as d:
            gen.gen_bucket_load(d, 3)
            with open(os.path.join(d, "notifications.jsonl")) as f:
                frame = json.loads(f.readline())
            names = [json.loads(e[1])["name"] for e in frame["events"]]
            self.assertEqual(len(names), len(frame["files"]) + 2)
            self.assertEqual(len(set(names)), len(frame["files"]) + 1)
            self.assertEqual(sum(n.startswith("logs/") for n in names), 1)


class ResultShape(unittest.TestCase):
    """run.py emits exactly the metrics BENCHMARK.json declares."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "..",
                               "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def record(self, workload):
        span = {"name": run.SPANS[workload][0], "t0": 0.0, "t1": 500.0,
                "jobs": [[10.0, 20.0]], "files_read": 1, "input_bytes": 2,
                "output_bytes": 3, "shuffle_bytes": 4}
        kind = {"bucket_load": "load_batch", "table_dml": "write"}[workload]
        ops = [{"kind": kind, "t0": i * 1000.0, "t1": i * 1000.0 + 500.0,
                "ok": True, "wrong": False, "error": "", "spans": [span]}
               for i in range(16)]
        return {"ops": ops, "loop_t0": 0.0, "loop_t1": 16000.0,
                "setup_cpu_ms": 9000.0, "loop_cpu_ms": 40000.0, "cycles": 2,
                "heap_live_mb": 100.0, "counts": {},
                "session_s": 1.0, "workload_setup_s": 1.0, "warmup_s": 1.0}

    def test_end_to_end_names(self):
        want = {m["name"] for m in self.bench["end_to_end"]}
        for w in run.WORKLOADS:
            got, _ = run.end_to_end(w, self.record(w), 3.0, 0.5)
            self.assertEqual(set(got), want, w)

    def test_per_layer_names(self):
        want = {m["name"] for m in self.bench["per_layer"]}
        for w in run.WORKLOADS:
            self.assertEqual(set(run.per_layer(self.record(w))), want, w)

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
