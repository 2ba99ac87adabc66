#!/usr/bin/env python3
"""Self-test of the verdicts that `tools/bench_pairs.py` prints.

    python3 tools/test_bench_pairs.py

Feeds `summarize()` synthetic paired records and checks the gain verdict
(9 of 10 wins and a median gap wider than the parent's interquartile
range), the bound flag, the unresolved flag, and that a tie is a win for
neither side.
"""
import contextlib
import io
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench_pairs  # noqa: E402

METRICS = {"op_p50_ms": {"better": "lower", "bound": 0.25}}


def records(parent, change):
    """One record per side per seed, from two equally long value lists."""
    out = []
    for seed, (p, c) in enumerate(zip(parent, change)):
        for side, v in (("parent", p), ("change", c)):
            out.append({"workload": "w", "seed": seed, "side": side, "result": {
                "correct": True, "attempted": 1, "failed": 0,
                "metrics": {"op_p50_ms": {"value": v}}}})
    return out


def verdict(parent, change):
    """The summary line of op_p50_ms."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bench_pairs.summarize(records(parent, change), METRICS)
    lines = [ln for ln in buf.getvalue().splitlines() if "op_p50_ms" in ln]
    assert len(lines) == 1, buf.getvalue()
    return lines[0]


# parent runs 100..109 ms: median 104.5, interquartile range 4.5
PARENT = [100.0 + i for i in range(10)]


class SummarizeTest(unittest.TestCase):

    def test_gain_at_nine_of_ten_wins_and_a_gap_wider_than_the_iqr(self):
        line = verdict(PARENT, [80.0] * 9 + [120.0])
        self.assertIn("change won 9/10", line)
        self.assertIn("gain: yes", line)
        self.assertNotIn("WORSE", line)
        self.assertNotIn("UNRESOLVED", line)

    def test_no_gain_at_eight_of_ten_wins(self):
        line = verdict(PARENT, [80.0] * 8 + [120.0] * 2)
        self.assertIn("change won 8/10", line)
        self.assertIn("gain: no", line)

    def test_no_gain_when_the_gap_is_inside_the_iqr(self):
        line = verdict(PARENT, [p - 1.0 for p in PARENT])
        self.assertIn("change won 10/10", line)
        self.assertIn("gain: no", line)

    def test_a_median_past_the_bound_is_flagged(self):
        line = verdict(PARENT, [p * 1.5 for p in PARENT])
        self.assertIn("WORSE THAN BOUND 25%", line)
        self.assertIn("gain: no", line)

    def test_a_parent_iqr_wider_than_the_bound_is_unresolved(self):
        wide = [50.0, 150.0, 60.0, 140.0, 70.0, 130.0, 80.0, 120.0, 90.0, 110.0]
        line = verdict(wide, [w - 1.0 for w in wide])
        self.assertIn("UNRESOLVED", line)
        self.assertNotIn("WORSE", line)

    def test_unresolved_is_not_flagged_when_every_change_run_beats_every_parent_run(self):
        wide = [50.0, 150.0, 60.0, 140.0, 70.0, 130.0, 80.0, 120.0, 90.0, 110.0]
        line = verdict(wide, [10.0] * 10)
        self.assertNotIn("UNRESOLVED", line)
        self.assertIn("gain: yes", line)

    def test_ties_count_for_neither_side(self):
        line = verdict(PARENT, list(PARENT))
        self.assertIn("change won 0/10", line)
        self.assertIn("gain: no", line)
        line = verdict(PARENT, [80.0] * 8 + PARENT[8:])
        self.assertIn("change won 8/10", line)
        self.assertIn("gain: no", line)


if __name__ == "__main__":
    unittest.main()
