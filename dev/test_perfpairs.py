"""Unit tests of dev/perfpairs.py's claim and bound rules.

    python3 -m unittest discover -s dev -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perfpairs  # noqa: E402


def pairs(base, head, metric="ingest_mbps"):
    """One pair per (base, head) value."""
    def leg(v):
        return {"result": {"metrics": {metric: {"value": v}}}}
    return [{"base": leg(b), "head": leg(h)} for b, h in zip(base, head)]


class ClaimRule(unittest.TestCase):

    def test_nine_wins_and_a_gain_above_the_spread_hold(self):
        p = pairs([50, 51, 52, 50, 49, 53, 50, 51, 52, 60],
                  [60, 61, 62, 66, 59, 63, 70, 61, 62, 55])
        self.assertTrue(perfpairs.judge_claim(p, "ingest_mbps", "higher")[0])

    def test_a_tie_counts_for_neither_side(self):
        base = [50] * 10
        head = [60] * 8 + [50, 50]
        self.assertEqual(perfpairs.wins(list(zip(base, head)), "higher"), 8)
        self.assertFalse(perfpairs.judge_claim(pairs(base, head), "ingest_mbps", "higher")[0])

    def test_a_gain_inside_the_base_spread_is_not_met(self):
        base = [40, 60, 40, 60, 40, 60, 40, 60, 40, 60]
        head = [b + 1 for b in base]
        holds, text = perfpairs.judge_claim(pairs(base, head), "ingest_mbps", "higher")
        self.assertFalse(holds, text)

    def test_lower_is_better_metrics_win_downwards(self):
        p = pairs([2.0] * 10, [1.5] * 10, "op_s_min")
        self.assertTrue(perfpairs.judge_claim(p, "op_s_min", "lower")[0])


class BoundRule(unittest.TestCase):

    def test_worse_within_the_bound_is_inside(self):
        p = pairs([100] * 5, [80] * 5)
        self.assertTrue(perfpairs.within_bound(p, "ingest_mbps", "higher", 0.25)[0])

    def test_worse_beyond_the_bound_is_broken(self):
        p = pairs([1.0] * 5, [1.3] * 5, "op_s_min")
        self.assertFalse(perfpairs.within_bound(p, "op_s_min", "lower", 0.25)[0])


if __name__ == "__main__":
    unittest.main()
