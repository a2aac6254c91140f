"""Unit tests for the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_leaves_at_least_ten_samples_beyond(self):
        for n in range(20, 400):
            p = M.tail_percentile(n)
            self.assertGreaterEqual(n * (1 - p / 100), 10 - 1e-9, n)
            # the next whole percentile would leave fewer than ten
            self.assertLess(n * (1 - (p + 1) / 100), 10, n)

    def test_known_values(self):
        self.assertEqual(M.tail_percentile(20), 50)
        self.assertEqual(M.tail_percentile(28), 64)
        self.assertEqual(M.tail_percentile(30), 66)
        self.assertEqual(M.tail_percentile(100), 90)
        self.assertEqual(M.tail_percentile(1000), 99)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(M.tail_percentile(19))

    def test_interpolates_between_ranks(self):
        xs = list(range(1, 102))
        self.assertEqual(M.percentile(xs, 50), 51)
        self.assertEqual(M.percentile(xs, 90), 91)
        self.assertEqual(M.percentile(xs, 0), 1)
        self.assertEqual(M.percentile(xs, 100), 101)
        self.assertAlmostEqual(M.percentile([3.0, 1.0, 2.0, 4.0], 50), 2.5)
        self.assertAlmostEqual(M.percentile([1.0, 2.0], 75), 1.75)


class SpanSelfTime(unittest.TestCase):
    @staticmethod
    def span(id_, parent, start, dur, jobs=()):
        return {"id": id_, "parent": parent, "start_ms": start, "dur_s": dur,
                "job_intervals_ms": [list(j) for j in jobs]}

    def test_self_time_subtracts_children(self):
        spans = [self.span("p", "", 0, 10.0),
                 self.span("a", "p", 1000, 2.0),
                 self.span("b", "p", 5000, 3.0)]
        st = M.self_times(spans)
        self.assertAlmostEqual(st["p"], 5.0)
        self.assertAlmostEqual(st["a"], 2.0)
        self.assertAlmostEqual(st["b"], 3.0)

    def test_overlapping_children_count_once(self):
        spans = [self.span("p", "", 0, 10.0),
                 self.span("a", "p", 1000, 4.0),
                 self.span("b", "p", 3000, 4.0)]
        self.assertAlmostEqual(M.self_times(spans)["p"], 4.0)

    def test_children_clipped_to_parent(self):
        spans = [self.span("p", "", 0, 2.0), self.span("a", "p", 1000, 5.0)]
        self.assertAlmostEqual(M.self_times(spans)["p"], 1.0)

    def test_driver_gap_is_time_without_a_job(self):
        s = self.span("a", "p", 0, 10.0, jobs=[(1000, 3000), (2000, 4000), (8000, 9000)])
        self.assertAlmostEqual(M.driver_gap_s(s), 6.0)


class DigestNormalization(unittest.TestCase):
    def test_row_order_column_order_and_case_do_not_matter(self):
        a = pd.DataFrame({"B": [2, 1], "a": ["y", "x"]})
        b = pd.DataFrame({"a": ["x", "y"], "b": [1, 2]})
        self.assertIsNone(checks.compare(a, b))

    def test_doubles_compare_at_1e6(self):
        a = pd.DataFrame({"v": [0.1 + 0.2, 1.0000004]})
        b = pd.DataFrame({"v": [0.3, 1.0]})
        self.assertIsNone(checks.compare(a, b))
        c = pd.DataFrame({"v": [0.3, 1.00001]})
        self.assertIn("values differ", checks.compare(a, c))

    def test_integer_result_against_float_oracle_fails(self):
        a = pd.DataFrame({"n": np.array([10], dtype="int64")})
        b = pd.DataFrame({"n": [10.0]})
        self.assertIn("integer result", checks.compare(a, b))

    def test_nulls_sort_first_and_row_counts_matter(self):
        a = pd.DataFrame({"v": [None, 1.0]})
        b = pd.DataFrame({"v": [1.0, None]})
        self.assertIsNone(checks.compare(a, b))
        self.assertIn("rows", checks.compare(a, pd.DataFrame({"v": [1.0]})))

    def test_ann_recall_counts_hits_per_returned_pair(self):
        got = pd.DataFrame({"q": [0, 0, 1], "n": [5, 6, 7]})
        self.assertEqual(checks.ann_recall(got, {0: {5, 9}, 1: {7}}), (2, 3))


class SeededOpOrder(unittest.TestCase):
    def test_same_seed_same_orders(self):
        self.assertEqual(M.op_orders(7, 15, 8), M.op_orders(7, 15, 8))

    def test_each_order_is_a_permutation(self):
        for order in M.op_orders(3, 15, 20):
            self.assertEqual(sorted(order), list(range(15)))

    def test_seeds_and_passes_differ(self):
        a, b = M.op_orders(1, 15, 4), M.op_orders(2, 15, 4)
        self.assertNotEqual(a, b)
        self.assertNotEqual(a[0], a[1])


class TraceAggregation(unittest.TestCase):
    def test_counts_that_differ_between_passes_are_reported(self):
        per_pass = {"p1": {"ml": {"jobs": 5, "stages": 6, "tasks": 6}},
                    "p2": {"ml": {"jobs": 5, "stages": 7, "tasks": 6}}}
        self.assertEqual(run.count_mismatches(per_pass), ["ml.stages p1=6 p2=7"])

    def test_metric_names_match_benchmark_json(self):
        spans = [{"id": "p1", "parent": "", "layer": "pass", "start_ms": 0,
                  "dur_s": 2.0, "job_intervals_ms": []},
                 {"id": "p1.0", "parent": "p1", "layer": "ml", "start_ms": 0,
                  "dur_s": 1.0, "job_intervals_ms": [[0, 500]], "jobs": 2,
                  "stages": 3, "stages_skipped": 1, "tasks": 3, "failed_tasks": 0,
                  "shuffle_write_bytes": 10, "spill_bytes": 0, "exec_cpu_s": 0.2,
                  "sched_wait_s": 0.01, "persisted_left": 0}]
        res = {"spans": spans, "setups": [{"session_s": 0.1, "setup_s": 1.0}],
               "passes": [{"traced": True, "bytes_written": 5, "scratch_new": 0,
                           "cpu_s": 1.0, "heap_peak_mb": 100.0,
                           "ops": [{"op": "x", "s": 1.0, "ok": True}]}]}
        layer, _ = run.layer_metrics(res, (3, 4))
        self.assertEqual(layer["ml.jobs"][0], 2.0)
        self.assertEqual(layer["ml.stages_skipped_share"][0], 0.25)
        self.assertAlmostEqual(layer["ml.driver_gap_s"][0], 0.5)
        self.assertEqual(layer["llm.similarity.recall"][0], 0.75)
        e2e = run.e2e_metrics({**res, "passes": [{**res["passes"][0], "traced": False}]},
                              50, 0, 1)
        with open(os.path.join(run.HERE, "..", "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual(sorted(layer), sorted(m["name"] for m in bench["per_layer"]))
        self.assertEqual(sorted(e2e), sorted(m["name"] for m in bench["end_to_end"]))
        units = {m["name"]: m["unit"] for m in bench["per_layer"] + bench["end_to_end"]}
        for name, (_, unit) in {**layer, **e2e}.items():
            self.assertEqual(units[name], unit, name)

    def test_layer_of(self):
        self.assertEqual(run.layer_of("q42_asof_native"), "plans")
        self.assertEqual(run.layer_of("q60_cdc_upsert"), "ops")
        self.assertEqual(run.layer_of("q1_filter_project"), "queries")
        self.assertEqual(run.layer_of("d2_minhash_lsh"), "llm.dedup")


if __name__ == "__main__":
    unittest.main()
