"""Percentile, interval-union and self-time arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end, "name": name}


class PercentileTest(unittest.TestCase):

    def test_interpolates_between_ranks(self):
        xs = [10, 20, 30, 40]
        self.assertEqual(stats.percentile(xs, 0), 10)
        self.assertEqual(stats.percentile(xs, 100), 40)
        self.assertAlmostEqual(stats.percentile(xs, 50), 25)
        self.assertAlmostEqual(stats.percentile(xs, 90), 37)

    def test_order_free_and_single_value(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.percentile([7], 90), 7)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class CoveredTest(unittest.TestCase):

    def test_union_of_overlapping_intervals(self):
        self.assertEqual(stats.covered([(0, 10), (5, 15), (20, 25)], 0, 100), 20)

    def test_clipped_to_window(self):
        self.assertEqual(stats.covered([(-5, 5), (8, 30)], 0, 10), 7)
        self.assertEqual(stats.covered([(50, 60)], 0, 10), 0)


class SelfTimeTest(unittest.TestCase):

    def test_children_subtract_once_even_when_overlapping(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 50), span(4, 2, 15, 20)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 40)   # children cover 10..50
        self.assertEqual(st[2], 30 - 5)     # grandchild counts for its parent only
        self.assertEqual(st[3], 20)
        self.assertEqual(st[4], 5)

    def test_leaf_self_time_is_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 5, 9)]), {1: 4})


class OpSchedTest(unittest.TestCase):

    def test_jobs_attach_through_groups_of_the_subtree(self):
        spans = [span(1, 0, 0, 1000, "op.batch"), span(2, 1, 100, 900), span(3, 0, 2000, 3000)]
        jobs = [
            {"group": "1", "start_ms": 0, "end_ms": 100, "stages": 1, "tasks": 4,
             "run_ms": 400, "gc_ms": 5},
            {"group": "2", "start_ms": 200, "end_ms": 600, "stages": 2, "tasks": 8,
             "run_ms": 1200, "gc_ms": 7},
            {"group": "3", "start_ms": 2000, "end_ms": 2500, "stages": 1, "tasks": 1,
             "run_ms": 9, "gc_ms": 0},
        ]
        plans = [{"start_ms": 50, "analysis_ms": 2, "optimizer_ms": 3, "physical_ms": 1},
                 {"start_ms": 2100, "analysis_ms": 9, "optimizer_ms": 9, "physical_ms": 9}]
        s = stats.op_sched(spans[0], spans, jobs, plans, cpus=4)
        self.assertEqual((s["jobs"], s["stages"], s["tasks"]), (2, 3, 12))
        self.assertEqual(s["gap_ms"], 1000 - 500)
        self.assertAlmostEqual(s["busy_frac"], 1600 / 4000)
        self.assertEqual(s["gc_ms"], 12)
        self.assertEqual((s["analysis_ms"], s["optimizer_ms"], s["physical_ms"]), (2, 3, 1))


if __name__ == "__main__":
    unittest.main()
