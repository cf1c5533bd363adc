#!/usr/bin/env python3
"""Tests for compare.py: python3 perfbench/test_compare.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402

SPEC = {"end_to_end": [
    {"name": "req_p50_ms", "unit": "ms", "better": "lower", "bound": 0.2},
    {"name": "req_per_s", "unit": "1/s", "better": "higher", "bound": 0.2},
]}
QUERIES = ["q200_knob_pick_capstone", "q64_knn_graph", "q73_pii_mask"]


def result(seed, slow=None, factor=1.0, plan="aaaa", p50=100.0, rate=5.0):
    per_query = []
    for i, q in enumerate(QUERIES):
        t = (1.0 + i) * (1.01 if seed % 2 else 0.99)
        if q == slow:
            t *= factor
        per_query.append({"query": q, "median_s": t,
                          "plan_hash": plan if q == slow else "base"})
    return {"workload": "catalog",
            "e2e": {"req_p50_ms": {"value": p50 + seed, "unit": "ms"},
                    "req_per_s": {"value": rate, "unit": "1/s"}},
            "notes": {"per_query": per_query}}


class CompareTest(unittest.TestCase):
    def test_same_code_flags_nothing(self):
        base = {"catalog": [result(s) for s in range(5)]}
        new = {"catalog": [result(s) for s in range(5, 10)]}
        _, flags = compare.compare(base, new, SPEC)
        self.assertEqual(flags, [])

    def test_query_twice_as_slow_is_flagged_with_plan_change(self):
        base = {"catalog": [result(s, slow="q64_knn_graph") for s in range(5)]}
        new = {"catalog": [result(s, slow="q64_knn_graph", factor=2.0, plan="bbbb")
                           for s in range(5)]}
        lines, flags = compare.compare(base, new, SPEC)
        self.assertEqual(flags, ["catalog q64_knn_graph"])
        row = next(l for l in lines if "q64_knn_graph" in l)
        self.assertIn("x2.000", row)
        self.assertIn("plan changed", row)
        self.assertIn("SLOWER", row)

    def test_end_to_end_regression_beyond_bound(self):
        base = {"catalog": [result(s) for s in range(5)]}
        slower = {"catalog": [result(s, p50=150.0, rate=3.0) for s in range(5)]}
        _, flags = compare.compare(base, slower, SPEC)
        self.assertIn("catalog req_p50_ms", flags)
        self.assertIn("catalog req_per_s", flags)
        within = {"catalog": [result(s, p50=110.0, rate=4.5) for s in range(5)]}
        _, flags = compare.compare(base, within, SPEC)
        self.assertEqual(flags, [])


if __name__ == "__main__":
    unittest.main()
