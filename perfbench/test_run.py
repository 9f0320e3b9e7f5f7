"""Tests of the benchmark's pure logic: python3 perfbench/test_run.py"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


class PureLogic(unittest.TestCase):
    def test_tail_pick_leaves_ten_samples_beyond(self):
        values = list(range(20, 0, -1))
        pct, v = run.tail_pick(values)
        self.assertEqual(v, 10)
        self.assertEqual(pct, 50.0)
        self.assertEqual(sum(x > v for x in values), 10)

    def test_tail_pick_is_the_highest_such_percentile(self):
        values = [float(i) for i in range(1, 101)]
        pct, v = run.tail_pick(values)
        self.assertEqual((pct, v), (90.0, 90.0))
        self.assertEqual(run.tail_pick(values[:11]), (100.0 / 11, 1.0))

    def test_tail_pick_needs_more_than_ten_samples(self):
        self.assertIsNone(run.tail_pick([1.0] * 10))

    def test_self_time_subtracts_the_union_of_children(self):
        # children cover [1,5] and [8,10] of the span: 6 of its 10 units
        self.assertEqual(run.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 4)
        self.assertEqual(run.self_time((0, 10), []), 10)
        self.assertEqual(run.self_time((0, 10), [(0, 10), (2, 3)]), 0)

    def test_driver_gap_counts_time_no_job_covers(self):
        jobs = [(10, 20), (15, 30), (50, 60), (-5, 2), (95, 120)]
        # jobs cover [0,2], [10,30], [50,60] and [95,100] of the query's [0,100]
        self.assertEqual(run.driver_gap((0, 100), jobs), 100 - 2 - 20 - 10 - 5)
        self.assertEqual(run.driver_gap((0, 100), []), 100)

    def test_pass_orders_are_a_deterministic_function_of_the_seed(self):
        qs = [f"q{i}" for i in range(12)]
        a = run.pass_orders(qs, 7, 5)
        self.assertEqual(a, run.pass_orders(qs, 7, 5))
        self.assertNotEqual(a, run.pass_orders(qs, 8, 5))
        self.assertTrue(all(sorted(o) == sorted(qs) for o in a))
        self.assertEqual(len({tuple(o) for o in a}), 5)


if __name__ == "__main__":
    unittest.main()
