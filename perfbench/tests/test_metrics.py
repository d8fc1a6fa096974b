"""Tests for the benchmark's metric arithmetic and its BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import workloads  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        self.assertEqual(metrics.tail(list(range(11))), (9, 0, 11, 10))

    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 61)]  # 60 samples
        p, v, n, beyond = metrics.tail(xs)
        self.assertEqual((p, n), (83, 60))
        self.assertEqual(v, 50.0)  # nearest rank ceil(0.83 * 60) = 50
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_hundred_samples_give_p90(self):
        p, v, _, beyond = metrics.tail(list(range(100)))
        self.assertEqual((p, v, beyond), (90, 89, 10))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 5
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class UnionTest(unittest.TestCase):
    def test_overlapping_and_nested_jobs_count_once(self):
        jobs = [(0, 1000), (500, 1500), (600, 700), (3000, 4000)]
        self.assertAlmostEqual(metrics.union_seconds(jobs, 0, 10_000), 2.5)

    def test_clipped_to_window(self):
        jobs = [(0, 1000), (1500, 2500), (9000, 12_000)]
        self.assertAlmostEqual(metrics.union_seconds(jobs, 500, 10_000), 2.5)

    def test_jobs_outside_window_and_empty(self):
        self.assertEqual(metrics.union_seconds([(0, 100)], 200, 300), 0.0)
        self.assertEqual(metrics.union_seconds([], 0, 100), 0.0)

    def test_driver_time_is_wall_minus_union(self):
        run = metrics.Run(_record(jobs=[[1000, 1400, 4], [1200, 1600, 1], [1800, 1900, 1]]))
        layers = run.pass_layers(run.cold)
        self.assertAlmostEqual(layers["spark.job_s"], 0.7)
        self.assertAlmostEqual(layers["spark.driver_s"], 2.0 - 0.7)
        self.assertAlmostEqual(layers["spark.core_util"], 1.4 / (0.7 * 4))


class RatioTest(unittest.TestCase):
    def test_fail_share(self):
        self.assertEqual(metrics.fail_share(40, 0), 0.0)
        self.assertEqual(metrics.fail_share(40, 10), 0.25)
        self.assertEqual(metrics.fail_share(0, 0), 0.0)

    def test_hit_ratio(self):
        self.assertEqual(metrics.hit_ratio(3, 1), 0.75)
        self.assertEqual(metrics.hit_ratio(0, 0), 0.0)
        self.assertEqual(metrics.hit_ratio(0, 5), 0.0)


class RunTest(unittest.TestCase):
    def test_end_to_end(self):
        run = metrics.Run(_record())
        e2e, t = run.end_to_end(7.0)
        self.assertEqual(e2e["setup_s"], 7.0)
        self.assertEqual(e2e["cold_s"], 2.0)
        self.assertEqual(e2e["warm_s"], 1.0)
        self.assertEqual(e2e["total_s"], 4.0)
        self.assertAlmostEqual(e2e["cpu_s"], 5.0 + 2.0 + 2.0)
        self.assertIsNone(t)  # only 4 warm row executions
        self.assertEqual(run.executions(), (6, 1))

    def test_module_split(self):
        layers = metrics.Run(_record()).per_layer()
        self.assertAlmostEqual(layers["op.Relational.cold_s"], 1.5)
        self.assertAlmostEqual(layers["op.SkewOps.warm_s"], 0.4)
        self.assertEqual(layers["op.Relational.jobs"], 3)
        self.assertEqual(set(layers), {n for n, _, _ in metrics.per_layer_spec()})


class BenchmarkFileTest(unittest.TestCase):
    def test_names_match_the_harness(self):
        path = os.path.join(HERE, "..", "..", "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         metrics.per_layer_spec())
        self.assertEqual({w["name"] for w in b["workloads"]}, set(workloads.WORKLOADS))
        for w in workloads.WORKLOADS.values():
            self.assertGreaterEqual(w.warm_passes(b["run_seconds"]) * len(w.rows), 11)


def _span(i, parent, kind, name, start, dur, counters=None, attrs=None):
    return {"id": i, "parent": parent, "kind": kind, "name": name, "start_ms": start,
            "dur_s": dur, "self_s": dur, "counters": counters or {}, "attrs": attrs or {}}


def _record(jobs=()):
    row = lambda i, p, n, start, dur, m, ok=True, jobs=0: _span(
        i, p, "row", n, start, dur, {"jobs": jobs, "cpu_ns": 0}, {"module": m, "ok": ok})
    return {"jobs": list(jobs), "spans": [
        _span(0, -1, "run", "run", 1000, 4.5, {}, {"live_heap_mb": 100.0, "cpus": 4}),
        _span(1, 0, "pass", "cold", 1000, 2.0, {"cpu_ns": 5e9, "task_ms": 1400}),
        row(2, 1, "q01", 1000, 1.5, "Relational", jobs=3),
        row(3, 1, "q22", 2500, 0.5, "SkewOps", ok=False),
        _span(4, 0, "pass", "warm1", 3000, 1.0, {"cpu_ns": 2e9}),
        row(5, 4, "q01", 3000, 0.6, "Relational"),
        row(6, 4, "q22", 3600, 0.4, "SkewOps"),
        _span(7, 0, "pass", "warm2", 4000, 1.0, {"cpu_ns": 2e9}),
        row(8, 7, "q01", 4000, 0.6, "Relational"),
        row(9, 7, "q22", 4600, 0.4, "SkewOps"),
    ]}


if __name__ == "__main__":
    unittest.main()
