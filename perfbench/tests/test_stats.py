"""Tests for the benchmark's statistics: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


def span(id_, parent, start, end, name):
    return {"id": id_, "parent": parent, "op": 1, "name": name,
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]  # 1..100
        value, pct, beyond = stats.tail(xs)
        self.assertEqual(value, 90.0)
        self.assertEqual(pct, 90.0)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5  # 25 samples
        value, pct, beyond = stats.tail(xs)
        self.assertEqual((value, pct, beyond), (3.0, 60.0, 10))

    def test_eleven_samples_is_the_minimum(self):
        value, pct, _ = stats.tail([float(i) for i in range(11)])
        self.assertEqual(value, 0.0)
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        with self.assertRaises(ValueError):
            stats.tail([])


class FailedRatioTest(unittest.TestCase):
    def test_counts_throws_timeouts_and_check_failures(self):
        ops = [{"status": s} for s in
               ["ok", "error", "timeout", "check_failed", "ok", "ok", "ok", "ok"]]
        self.assertEqual(stats.failed_ratio(ops), 3 / 8)

    def test_all_ok(self):
        self.assertEqual(stats.failed_ratio([{"status": "ok"}] * 4), 0.0)

    def test_nothing_attempted(self):
        with self.assertRaises(ValueError):
            stats.failed_ratio([])


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(1, 0, 0.0, 10.0, "op"),
                 span(2, 1, 1.0, 4.0, "parse"),
                 span(3, 2, 2.0, 3.0, "read"),
                 span(4, 1, 5.0, 9.0, "write")]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["op"], 3.0)     # 10 - 3 - 4
        self.assertAlmostEqual(got["parse"], 2.0)  # 3 - 1
        self.assertAlmostEqual(got["read"], 1.0)
        self.assertAlmostEqual(got["write"], 4.0)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0.0, 10.0, "op"),
                 span(2, 1, 1.0, 5.0, "a"),
                 span(3, 1, 3.0, 7.0, "b"),
                 span(4, 1, 9.0, 12.0, "c")]  # runs past its parent: clipped
        self.assertAlmostEqual(stats.self_times(spans)["op"], 10.0 - 6.0 - 1.0)

    def test_same_name_sums_across_ops(self):
        spans = [span(1, 0, 0.0, 2.0, "op"), span(2, 0, 5.0, 6.5, "op")]
        self.assertAlmostEqual(stats.self_times(spans)["op"], 3.5)


if __name__ == "__main__":
    unittest.main()
