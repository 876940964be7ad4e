"""Tests of the benchmark's own arithmetic and determinism.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import compare  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7]), 7)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_interpolates_between_ranks(self):
        xs = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(stats.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 90.1)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([5], 90), 5)
        self.assertAlmostEqual(stats.percentile([10, 0], 90), 9.0)  # order-free

    def test_percentile_matches_median(self):
        xs = [0.3, 9.1, 4.4, 2.0, 7.7, 1.5]
        self.assertAlmostEqual(stats.percentile(xs, 50), stats.median(xs))


class FailuresTest(unittest.TestCase):
    def test_counts_throws_and_mismatches(self):
        reqs = [{"error": None}, {"error": "boom"}, {"error": None}, {"error": "again"}]
        attempted, failed = stats.failures(reqs, {"q1": "threw"}, {"q2": "ROWS 1 vs 2"}, 5)
        self.assertEqual((attempted, failed), (9, 4))

    def test_one_query_failing_both_ways_counts_once(self):
        attempted, failed = stats.failures([], {"q": "threw"}, {"q": "no answer dumped"}, 3)
        self.assertEqual((attempted, failed), (3, 1))

    def test_clean_run(self):
        self.assertEqual(stats.failures([{"error": None}] * 4, {}, {}, 2), (6, 0))


class OracleCompareTest(unittest.TestCase):
    def setUp(self):
        import pandas as pd
        self.pd = pd

    def test_order_of_rows_and_columns_is_ignored(self):
        a = self.pd.DataFrame({"k": [2, 1], "v": [0.5, 0.25]})
        b = self.pd.DataFrame({"v": [0.25, 0.5], "k": [1, 2]})
        self.assertIsNone(oracle.compare(a, b))

    def test_float_tolerance_and_value_mismatch(self):
        a = self.pd.DataFrame({"v": [1.0]})
        self.assertIsNone(oracle.compare(a, self.pd.DataFrame({"v": [1.0 + 1e-12]})))
        self.assertIsNotNone(oracle.compare(a, self.pd.DataFrame({"v": [1.001]})))

    def test_int_vs_float_is_a_mismatch(self):
        a = self.pd.DataFrame({"v": [1]})
        self.assertIn("DTYPE", oracle.compare(a, self.pd.DataFrame({"v": [1.0]})))

    def test_row_count_mismatch(self):
        a = self.pd.DataFrame({"v": ["x"]})
        self.assertIn("ROWS", oracle.compare(a, self.pd.DataFrame({"v": ["x", "y"]})))


class DeterminismTest(unittest.TestCase):
    def test_plan_is_a_function_of_seed(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(workloads.plan(w, 7), workloads.plan(w, 7))
            self.assertNotEqual(workloads.plan(w, 7), workloads.plan(w, 8))

    def test_every_pass_visits_each_query_once(self):
        for w, spec in workloads.WORKLOADS.items():
            warmup, passes = workloads.plan(w, 3, max_passes=5)
            self.assertEqual(sorted(warmup), sorted(spec["queries"]))
            for p in passes:
                self.assertEqual(sorted(p), sorted(spec["queries"]))

    def test_every_query_has_a_family(self):
        for spec in workloads.WORKLOADS.values():
            for q in spec["queries"]:
                self.assertIn(workloads.MODULE[q], workloads.FAMILIES)

    def test_generated_inputs_repeat_per_seed(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 1), ("b", 1), ("c", 2)):
                gen.generate(os.path.join(d, name), 0.0005, copies=3, seed=seed)
            for t in gen.TABLES:
                a, b, c = (pq.read_table(os.path.join(d, n, f"{t}.parquet")) for n in "abc")
                self.assertTrue(a.equals(b), t)
                if t in gen.SHIFTS:
                    self.assertFalse(a.equals(c), t)  # another seed, another row order
                    self.assertEqual(a.num_rows, c.num_rows)

    def test_replicated_keys_stay_unique_and_joinable(self):
        t = gen.replicate(gen.base_tables(0.0005), 3, seed=5)
        for name, pk in gen.PRIMARY_KEY.items():
            keys = t[name][pk].to_pylist()
            self.assertEqual(len(keys), len(set(keys)), name)
        orders = set(t["orders"]["o_orderkey"].to_pylist())
        self.assertTrue(set(t["lineitem"]["l_orderkey"].to_pylist()) <= orders)


class CompareTest(unittest.TestCase):
    def test_summary_uses_statistics_quartiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        s = compare.summary(xs)
        self.assertEqual((s["q1"], s["median"], s["q3"]), (q1, med, q3))
        self.assertAlmostEqual(s["spread"], (q3 - q1) / med)

    def test_regression_beyond_bound(self):
        a = [1.0, 1.01, 0.99, 1.0]
        b = [1.2, 1.21, 1.19, 1.2]
        self.assertEqual(compare.verdict(a, b, 0.1, "lower"), (0.0, "regression"))

    def test_gain_needs_nine_in_ten_wins(self):
        a = [1.0, 1.01, 0.99, 1.0, 1.0, 1.02, 0.98, 1.0, 1.01, 0.99]
        b = [x - 0.05 for x in a]
        self.assertEqual(compare.verdict(a, b, 0.1, "lower"), (1.0, "gain"))

    def test_small_move_is_unchanged(self):
        a = [1.0, 1.01, 0.99, 1.0]
        b = [1.0, 1.0, 1.01, 0.99]
        self.assertEqual(compare.verdict(a, b, 0.1, "lower")[1], "unchanged")

    def test_wide_spread_is_unresolved(self):
        a = [1.0, 2.0, 1.0, 2.0]
        b = [1.5, 1.0, 2.0, 1.2]
        self.assertEqual(compare.verdict(a, b, 0.1, "lower")[1], "unresolved")


if __name__ == "__main__":
    unittest.main()
