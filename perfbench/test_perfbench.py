"""Tests of the benchmark's own arithmetic and verdicts.

    python3 perfbench/test_perfbench.py
"""
import json
import os
import re
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402

# A metric or workload name: a letter or digit, then letters, digits, `_`, `.`, `-`.
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_name(name):
    return bool(NAME.fullmatch(name))


def result(**over):
    """A JVM result.json as run.py reads it, for a run that did its work."""
    r = {
        "cores": 4, "measured_s": 10.0, "setup_s": [5.0, 2.0, 3.0],
        "latency": [[0.5, 1.0], [0.7, 1.0], [0.9, 1.0], [2.0, 1.0]],
        "ops_per_s": 0.98, "op_cpu_ms": 412.5, "footprint_mb": 1.5,
        "cpu_samples": {"q1": [400.0, 425.0, 412.5]},
        "attempted": 4, "failed": 0, "checked": 1, "mismatches": [],
        "ops_detail": [{"plan_s": 0.1, "exec_s": 0.4, "exchanges": 2.0}],
        "substrate": {k: 1.0 for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                                       "shuffle_write_mb", "shuffle_read_mb", "input_mb",
                                       "input_rows")},
    }
    r.update(over)
    return r


class Medians(unittest.TestCase):
    def test_median_odd_and_even_counts(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        self.assertEqual(stats.median([7.0]), 7.0)

    def test_percentile_nearest_rank(self):
        ten = [(float(v), 1.0) for v in range(1, 11)]
        self.assertEqual(stats.percentile(ten, 50), 5.0)
        self.assertEqual(stats.percentile(ten, 90), 9.0)
        self.assertEqual(stats.percentile(ten, 100), 10.0)
        hundred = [(float(v), 1.0) for v in range(1, 101)]
        self.assertEqual(stats.percentile(hundred, 90), 90.0)
        self.assertEqual(stats.percentile([(4.0, 1.0)], 90), 4.0)

    def test_percentile_weights_count_as_samples(self):
        # one file of 9 events at 1 s and one of 1 event at 5 s: the p50 and
        # p90 events wait 1 s; p100 waits 5 s
        files = [(5.0, 1.0), (1.0, 9.0)]
        self.assertEqual(stats.percentile(files, 50), 1.0)
        self.assertEqual(stats.percentile(files, 90), 1.0)
        self.assertEqual(stats.percentile(files, 91), 5.0)
        expanded = [(1.0, 1.0)] * 9 + [(5.0, 1.0)]
        for q in (10, 50, 90, 95, 100):
            self.assertEqual(stats.percentile(files, q), stats.percentile(expanded, q))

    def test_percentile_of_nothing_fails(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class SelfTime(unittest.TestCase):
    def span(self, id, parent, layer, start, end):
        return {"id": id, "parent": parent, "layer": layer, "start_s": start, "end_s": end}

    def test_children_are_subtracted_once(self):
        spans = [
            self.span(1, 0, "query", 0.0, 10.0),
            self.span(2, 1, "plans", 1.0, 3.0),
            self.span(3, 1, "kernel", 2.0, 6.0),   # overlaps the planning child
            self.span(4, 3, "cache", 4.0, 5.0),
        ]
        self.assertEqual(stats.self_times(spans),
                         {"query": 5.0, "plans": 2.0, "kernel": 3.0, "cache": 1.0})

    def test_child_outside_its_parent_is_clipped(self):
        spans = [self.span(1, 0, "trigger", 0.0, 1.0), self.span(2, 1, "addBatch", 0.5, 1.5)]
        self.assertEqual(stats.self_times(spans), {"trigger": 0.5, "addBatch": 1.0})

    def test_same_layer_spans_add_up(self):
        spans = [self.span(1, 0, "a", 0.0, 1.0), self.span(2, 0, "a", 2.0, 2.5)]
        self.assertEqual(stats.self_times(spans), {"a": 1.5})


class Names(unittest.TestCase):
    def test_charset(self):
        for good in ("setup_s", "op.p50", "spark.shuffle_write_mb", "a-b", "9x"):
            self.assertTrue(valid_name(good), good)
        for bad in ("", "_lead", ".lead", "has space", "slash/name", "x" * 65, "ünï"):
            self.assertFalse(valid_name(bad), bad)

    def test_every_reported_metric_and_workload_name_is_valid(self):
        for name in list(run.END_TO_END) + list(run.PER_LAYER) + list(run.WORKLOADS):
            self.assertTrue(valid_name(name), name)

    def test_benchmark_json_matches_the_metrics_run_reports(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS))


class Verdicts(unittest.TestCase):
    def test_a_full_run_passes_with_every_metric(self):
        line, _ = run.summarize(result(), {}, 0, [])
        self.assertTrue(line["correct"])
        self.assertEqual(set(line["metrics"]), set(run.END_TO_END))
        self.assertEqual(line["metrics"]["setup_s"]["value"], 3.0)
        self.assertEqual(line["metrics"]["op_cpu_ms"]["value"], 412.5)
        traced, _ = run.summarize(result(), {}, 1, [{"id": 1}])
        self.assertTrue(traced["correct"])
        self.assertEqual(set(traced["metrics"]), set(run.PER_LAYER))

    def test_zero_operations_fails(self):
        line, report = run.summarize(
            result(attempted=0, latency=[], ops_per_s=0.0, op_cpu_ms=0.0, cpu_samples={}), {}, 0, [])
        self.assertFalse(line["correct"])
        self.assertEqual(report["verdict"], "no operation was attempted")

    def test_no_cpu_samples_fails(self):
        # operations ran but none was measured: the run has no figure to report
        line, report = run.summarize(result(op_cpu_ms=0.0, cpu_samples={}), {}, 0, [])
        self.assertFalse(line["correct"])
        self.assertEqual(report["verdict"], "metrics missing")

    def test_zero_checked_outputs_fails(self):
        line, report = run.summarize(result(checked=0), {}, 0, [])
        self.assertFalse(line["correct"])
        self.assertEqual(report["verdict"], "no output was checked")

    def test_oracle_checks_count_and_mismatches_fail(self):
        line, _ = run.summarize(result(checked=0), {"q1": None, "q2": None}, 0, [])
        self.assertTrue(line["correct"])
        line, report = run.summarize(result(checked=0), {"q1": None, "q2": "3 rows vs oracle 4"}, 0, [])
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)
        self.assertEqual(report["mismatches"], ["q2: 3 rows vs oracle 4"])


if __name__ == "__main__":
    unittest.main()
