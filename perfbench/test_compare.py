"""Self-tests of compare.py on synthetic runs: python3 perfbench/test_compare.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402

BASE = [1.00, 1.02, 0.98, 1.01, 0.99, 1.03, 0.97, 1.00, 1.01, 0.99]


def runs(vals, metric="op_p50_s"):
    return [{"seed": i, "line": {"metrics": {metric: {"value": v, "unit": "s"}}}}
            for i, v in enumerate(vals)]


class VerdictTest(unittest.TestCase):
    def test_same_distribution_is_no_regression(self):
        v, f = compare.verdict(BASE, list(reversed(BASE)), "lower", 0.1)
        self.assertEqual(v, "no regression")
        self.assertAlmostEqual(f["worse_by"], 0.0)

    def test_consistent_speedup_is_gain(self):
        v, f = compare.verdict(BASE, [x * 0.8 for x in BASE], "lower", 0.1)
        self.assertEqual(v, "gain")
        self.assertEqual(f["B_wins"], 10)

    def test_gain_needs_nine_of_ten_pairs(self):
        b = [x * 0.8 for x in BASE]
        b[0], b[1] = 2.0, 2.0  # two lost pairs: 8/10
        self.assertNotEqual(compare.verdict(BASE, b, "lower", 0.5)[0], "gain")

    def test_ties_count_for_neither_side(self):
        b = [x * 0.8 for x in BASE]
        b[0] = BASE[0]  # one tie: 9 wins of 10 pairs still suffices
        self.assertEqual(compare.verdict(BASE, b, "lower", 0.1)[0], "gain")
        b[1] = BASE[1]  # two ties: 8/10
        self.assertNotEqual(compare.verdict(BASE, b, "lower", 0.1)[0], "gain")

    def test_gain_needs_gap_above_parent_iqr(self):
        a = [1.0, 1.4, 0.6, 1.3, 0.7, 1.2, 0.8, 1.1, 0.9, 1.0]
        b = [x - 0.01 for x in a]  # wins every pair by a hair
        self.assertNotEqual(compare.verdict(a, b, "lower", 1.0)[0], "gain")

    def test_slowdown_beyond_bound_is_regression(self):
        self.assertEqual(compare.verdict(BASE, [x * 1.2 for x in BASE], "lower", 0.1)[0],
                         "regression")

    def test_slowdown_within_bound_is_no_regression(self):
        self.assertEqual(compare.verdict(BASE, [x * 1.05 for x in BASE], "lower", 0.1)[0],
                         "no regression")

    def test_higher_is_better_direction(self):
        self.assertEqual(compare.verdict(BASE, [x * 0.8 for x in BASE], "higher", 0.1)[0],
                         "regression")
        self.assertEqual(compare.verdict(BASE, [x * 1.25 for x in BASE], "higher", 0.1)[0],
                         "gain")

    def test_wide_spread_is_unresolved(self):
        wide = [1.0, 1.5, 0.5, 1.4, 0.6, 1.3, 0.7, 1.2, 0.8, 1.0]
        self.assertEqual(compare.verdict(wide, list(reversed(wide)), "lower", 0.1)[0],
                         "unresolved")

    def test_wide_spread_but_dominated_is_resolved(self):
        a = [2.0, 3.0, 2.2, 2.8, 2.4, 2.6, 2.1, 2.9, 2.5, 2.3]
        b = [1.0, 1.5, 1.1, 1.4, 1.2, 1.3, 1.05, 1.45, 1.25, 1.15]
        self.assertEqual(compare.verdict(a, b, "lower", 0.05)[0], "gain")

    def test_quartiles_are_statistics_quantiles(self):
        s = compare.summary(BASE)
        q = compare.statistics.quantiles(BASE, n=4)
        self.assertEqual((s["q1"], s["q3"]), (q[0], q[2]))
        self.assertAlmostEqual(s["spread"], (q[2] - q[0]) / compare.statistics.median(BASE))


class CompareTest(unittest.TestCase):
    BENCH = {"op_p50_s": {"name": "op_p50_s", "better": "lower", "bound": 0.1}}

    def test_rows_per_workload_and_metric(self):
        a = {"w1": runs(BASE), "w2": runs(BASE)}
        b = {"w1": runs([x * 0.8 for x in BASE]), "w2": runs([x * 1.3 for x in BASE])}
        rows = {r["workload"]: r["verdict"] for r in compare.compare(a, b, self.BENCH)}
        self.assertEqual(rows, {"w1": "gain", "w2": "regression"})

    def test_failed_runs_are_skipped(self):
        a = {"w": runs(BASE) + [{"seed": 99, "line": None}]}
        rows = compare.compare(a, {"w": runs(BASE)}, self.BENCH)
        self.assertEqual(rows[0]["A"]["n"], 10)

    def test_tracing_overhead(self):
        untraced = {"w": runs(BASE)}
        traced = {"w": runs([x * 1.1 for x in BASE], "trace.op_p50_s")}
        self.assertAlmostEqual(compare.overhead(untraced, traced)["w.op_p50_s"], 0.1)


if __name__ == "__main__":
    unittest.main()
