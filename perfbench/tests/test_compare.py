"""Tests for the compare mode's helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402

SPEC = {
    "workloads": [{"name": "w", "why": "-"}],
    "end_to_end": [{"name": "t", "unit": "s", "better": "lower", "bound": 0.1},
                   {"name": "r", "unit": "1/s", "better": "higher", "bound": 0.1}],
    "per_layer": [{"name": "jobs", "unit": "count", "better": "lower"}],
}


def rec(trace, **metrics):
    return {"workload": "w", "trace": trace,
            "metrics": {k: {"value": v, "unit": "-"} for k, v in metrics.items()}}


class CompareTest(unittest.TestCase):
    def test_summary_matches_statistics_quantiles(self):
        self.assertEqual(compare.summary([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), (2.75, 5.5, 8.25))
        self.assertEqual(compare.summary([4.0]), (4.0, 4.0, 4.0))

    def test_pairs_won_respects_direction_and_ties(self):
        self.assertEqual(compare.pairs_won([2, 2, 2, 2], [1, 3, 2, 1], "lower"), 0.5)
        self.assertEqual(compare.pairs_won([2, 2], [3, 3], "higher"), 1.0)
        self.assertIsNone(compare.pairs_won([], [1], "lower"))

    def test_worse_share(self):
        self.assertAlmostEqual(compare.worse_share(10.0, 11.0, "lower"), 0.1)
        self.assertAlmostEqual(compare.worse_share(10.0, 11.0, "higher"), -0.1)

    def test_compare_checks_bounds_per_direction(self):
        a = [rec(0, t=10.0, r=100.0) for _ in range(3)]
        b = [rec(0, t=10.5, r=80.0) for _ in range(3)]
        rows = {(w, m): within for w, m, *_, within in compare.compare(a, b, SPEC)}
        self.assertTrue(rows[("w", "t")])
        self.assertFalse(rows[("w", "r")])

    def test_overhead_is_traced_minus_untraced(self):
        recs = [rec(0, t=10.0), rec(0, t=12.0), rec(1, t=13.0)]
        self.assertEqual(compare.overhead(recs, SPEC), [("w", "t", 11.0, 2.0)])


if __name__ == "__main__":
    unittest.main()
