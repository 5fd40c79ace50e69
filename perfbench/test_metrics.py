"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics
from workloads import END_TO_END, PER_LAYER, WORKLOADS


class TailRule(unittest.TestCase):
    def beyond(self, xs, value):
        return sum(1 for x in xs if x > value)

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 31))           # 30 distinct samples
        p, v, n = metrics.tail(xs)
        self.assertEqual((p, v, n), (65, 20, 30))
        self.assertGreaterEqual(self.beyond(xs, v), 10)
        # the next percentile up would leave only 9 beyond
        self.assertLess(30 - metrics.rank(70, 30), 10)

    def test_forty_samples_give_p75(self):
        p, v, _ = metrics.tail(range(1, 41))
        self.assertEqual((p, v), (75, 30))

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail(range(19)))
        self.assertEqual(metrics.tail(range(20))[0], 50)

    def test_percentile_fixed_by_fewest_samples(self):
        # a run with more passes reports the same percentile as the
        # shortest run, still with at least 10 samples beyond
        xs = list(range(1, 61))
        p, v, n = metrics.tail(xs, n_min=30)
        self.assertEqual((p, n), (65, 60))
        self.assertEqual(v, 39)
        self.assertGreaterEqual(self.beyond(xs, v), 10)


class SpanArithmetic(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(metrics.union_length(
            [(0, 10), (5, 15), (20, 25), (24, 30), (40, 40)]), 25)

    def test_self_time_with_overlapping_children(self):
        # children overlap each other (10-30, 20-50) and stick out of the
        # span (90-120); covered inside the span: 10-50 and 90-100
        self.assertEqual(metrics.self_time(
            (0, 100), [(10, 30), (20, 50), (90, 120)]), 50)

    def test_self_time_without_children(self):
        self.assertEqual(metrics.self_time((5, 9), []), 4)

    def test_driver_gap_with_overlapping_jobs(self):
        # jobs 1-4 and 3-6 overlap: together they cover 1-6, not 3 + 3
        self.assertEqual(metrics.driver_gap(
            (0, 10), [(1, 4), (3, 6), (8, 9)]), 4)

    def test_driver_gap_ignores_jobs_outside_the_gate(self):
        self.assertEqual(metrics.driver_gap((0, 10), [(-5, 2), (12, 20)]),
                         8)


def record(join_rows, input_rows):
    """One gate: a cold pass, a burn-in pass, then one traced and one
    untraced warm pass; the traced pass ran one job in the builder and one
    in the action."""
    span = lambda a, b: [a, b]  # noqa: E731
    return {
        "cores": 4, "min_warm": 2, "peak_rss_mb": 100.0, "setup_s": 2.5,
        "passes": [
            {"pass": 0, "traced": True, "start": 0, "end": 50},
            {"pass": 1, "traced": False, "start": 60, "end": 90},
            {"pass": 2, "traced": True, "start": 100, "end": 140},
            {"pass": 3, "traced": False, "start": 140, "end": 160}],
        "execs": [
            {"id": 1, "gate": "g", "pass": 0, "traced": True, "ok": True,
             "build": span(0, 10), "action": span(10, 45),
             "cleanup": span(45, 46), "compiles": 7, "cache_bytes": 0},
            {"id": 9, "gate": "g", "pass": 1, "traced": False, "ok": True,
             "build": span(60, 70), "action": span(70, 88),
             "cleanup": span(88, 89), "compiles": 1, "cache_bytes": 0},
            {"id": 2, "gate": "g", "pass": 2, "traced": True, "ok": True,
             "build": span(100, 110), "action": span(110, 130),
             "cleanup": span(130, 131), "compiles": 0,
             "cache_bytes": 2 * metrics.MB},
            {"id": 3, "gate": "g", "pass": 3, "traced": False, "ok": True,
             "build": span(140, 145), "action": span(145, 158),
             "cleanup": span(158, 159), "compiles": 0, "cache_bytes": 0}],
        "jobs": [
            {"id": 7, "exec": "2", "span": "build", "start": 102, "end": None},
            {"id": 7, "end": 104},
            {"id": 8, "exec": "2", "span": "action", "start": 112,
             "end": None},
            {"id": 8, "end": 126}],
        "stages": [{"id": 1, "job": 8, "tasks": 4, "run_ms": 40,
                    "cpu_ns": 30e6, "gc_ms": 1, "overhead_ms": 2,
                    "shuffle_write": 0, "shuffle_read": 0,
                    "fetch_wait_ms": 0, "spill": 0, "input_bytes": 10,
                    "input_rows": input_rows,
                    "task_run_ms": [9, 10, 10, 11]}],
        "queries": [{"exec": 2, "catalyst_ms": 3, "plan_nodes": 9,
                     "joins": 1, "join_rows": join_rows}],
        "batches": [],
    }


class LayerMetrics(unittest.TestCase):
    def test_pair_yield_base_is_join_output_rows(self):
        m = metrics.per_pass(record(join_rows=400, input_rows=1000), 2,
                             {"g": 100})
        self.assertEqual(m["pair_candidates"], 400)
        self.assertEqual(m["pair_yield"], 0.25)        # 100 / 400, not /1000
        self.assertIsNone(metrics.pair_yield(5, 0))

    def test_pair_yield_leaves_out_gates_without_a_join(self):
        # a row-kernel gate in the same pass returns 500 rows from a plan
        # with no join; neither its rows nor its plan enter the yield
        rec = record(join_rows=400, input_rows=1000)
        rec["execs"].append(
            {"id": 4, "gate": "k", "pass": 2, "traced": True, "ok": True,
             "build": [131, 132], "action": [132, 139],
             "cleanup": [139, 140], "compiles": 0, "cache_bytes": 0})
        rec["queries"].append({"exec": 4, "catalyst_ms": 1,
                               "plan_nodes": 3, "joins": 0, "join_rows": 0})
        m = metrics.per_pass(rec, 2, {"g": 100, "k": 500})
        self.assertEqual(m["output_rows"], 100)
        self.assertEqual(m["pair_yield"], 0.25)

    def test_pass_totals(self):
        m = metrics.per_pass(record(400, 1000), 2, {"g": 100})
        self.assertAlmostEqual(m["build_s"], 0.008)      # 10 ms - 2 ms job
        self.assertEqual(m["build_jobs"], 1)
        self.assertAlmostEqual(m["driver_gap_s"], 0.014)  # 30 - 2 - 14 ms
        self.assertAlmostEqual(m["slot_util"], 0.04 / (0.02 * 4))
        self.assertAlmostEqual(m["straggler_s"], 0.001)
        self.assertEqual(m["cache_mb"], 2)

    def test_trace_overhead_and_cold_compiles(self):
        m = metrics.per_layer(record(400, 1000), {"g": 100})
        self.assertAlmostEqual(m["trace_overhead"], 40 / 20)
        self.assertEqual(m["cold_codegen_compiles"], 7)

    def test_end_to_end(self):
        m, extra = metrics.end_to_end(record(400, 1000), 1)
        self.assertEqual(m["setup_s"], 2.5)
        self.assertAlmostEqual(m["cold_pass_s"], 0.05)
        self.assertAlmostEqual(m["pass_s"], 0.02)
        self.assertAlmostEqual(m["query_p50_s"], 0.018)
        self.assertAlmostEqual(m["query_geomean_s"], 0.018)
        self.assertIsNone(extra["query_tail"])           # one sample

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([0.1, 1.0, 10.0]), 1.0)
        self.assertIsNone(metrics.geomean([]))

    def test_selftest_rule(self):
        self.assertTrue(metrics.selftest_ok(0.05, 0.6))
        self.assertFalse(metrics.selftest_ok(0.05, 0.1))


class Contract(unittest.TestCase):
    def test_benchmark_json_lists_the_printed_metrics(self):
        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["end_to_end"]],
                         END_TO_END)
        self.assertEqual([m["name"] for m in bench["per_layer"]], PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]),
                         sorted(WORKLOADS))


if __name__ == "__main__":
    unittest.main()
