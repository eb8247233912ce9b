"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime as dt
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import measure  # noqa: E402


class PercentileTest(unittest.TestCase):

    def test_nearest_rank(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(measure.percentile(xs, 0.5), 5)
        self.assertEqual(measure.percentile(xs, 0.9), 9)
        self.assertEqual(measure.percentile(xs, 1.0), 10)
        self.assertEqual(measure.percentile(xs, 0.0), 1)

    def test_order_and_single_sample(self):
        self.assertEqual(measure.percentile([3.0, 1.0, 2.0], 0.5), 2.0)
        self.assertEqual(measure.percentile([7.5], 0.9), 7.5)

    def test_p90_needs_the_tenth_largest_of_a_hundred(self):
        xs = [float(i) for i in range(100)]
        self.assertEqual(measure.percentile(xs, 0.9), 89.0)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            measure.percentile([], 0.5)


class DigestTest(unittest.TestCase):

    def test_row_and_column_order_do_not_matter(self):
        a = measure.digest(["x", "y"], [["a", 1], ["b", 2]])
        b = measure.digest(["y", "x"], [[2, "b"], [1, "a"]])
        self.assertEqual(a, b)
        self.assertEqual(a[0], 2)

    def test_values_are_canonicalized_like_the_oracle_gate(self):
        # floats compare at 10 significant digits; ints stay exact
        self.assertEqual(measure.digest(["v"], [[0.1 + 0.2]]),
                         measure.digest(["v"], [[0.3]]))
        self.assertNotEqual(measure.digest(["v"], [[1]]),
                            measure.digest(["v"], [[2]]))

    def test_duplicates_and_nulls_count(self):
        self.assertNotEqual(measure.digest(["v"], [["a"]]),
                            measure.digest(["v"], [["a"], ["a"]]))
        self.assertNotEqual(measure.digest(["v"], [[None]]),
                            measure.digest(["v"], [["None"]]))

    def test_column_names_count(self):
        self.assertNotEqual(measure.digest(["a"], [[1]]),
                            measure.digest(["b"], [[1]]))

    def test_tagged_values_decode_to_arrow_values(self):
        us = 1704067207179575
        self.assertEqual(measure.decode({"$ts_us": us}),
                         dt.datetime(2024, 1, 1, 0, 0, 7, 179575))
        self.assertEqual(measure.decode({"$hex": "0aff"}), b"\x0a\xff")
        self.assertEqual(measure.decode([{"$date": "2024-02-03"}]),
                         [dt.date(2024, 2, 3)])


class SelfTimeTest(unittest.TestCase):

    @staticmethod
    def span(i, parent, start, end):
        return dict(id=i, parent=parent, start_ns=start, end_ns=end)

    def test_leaf_keeps_its_duration(self):
        self.assertEqual(measure.self_times([self.span(0, -1, 10, 30)]), {0: 20})

    def test_children_are_subtracted(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 30),
                 self.span(2, 0, 50, 90), self.span(3, 2, 60, 70)]
        got = measure.self_times(spans)
        self.assertEqual(got, {0: 40, 1: 20, 2: 30, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 50),
                 self.span(2, 0, 40, 60)]
        self.assertEqual(measure.self_times(spans)[0], 50)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 90, 120)]
        self.assertEqual(measure.self_times(spans)[0], 90)


if __name__ == "__main__":
    unittest.main()
