"""Unit tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class TailRule(unittest.TestCase):
    def test_highest_rung_with_ten_beyond(self):
        # 143 samples: p90 leaves 14 beyond, p95 only 7
        self.assertEqual(stats.tail_level(143), 90.0)
        # 200 samples: p95 leaves exactly 10 beyond, p99 only 2
        self.assertEqual(stats.tail_level(200), 95.0)
        self.assertEqual(stats.tail_level(199), 90.0)
        self.assertEqual(stats.tail_level(40), 75.0)
        self.assertEqual(stats.tail_level(39), 50.0)
        self.assertEqual(stats.tail_level(20), 50.0)
        # fewer than 20: not even the median has ten beyond it
        self.assertIsNone(stats.tail_level(19))

    def test_nearest_rank(self):
        xs = list(range(1, 201))
        self.assertEqual(stats.percentile(xs, 95.0), 190)
        self.assertEqual(sum(1 for x in xs if x > 190), 10)
        self.assertEqual(stats.percentile(xs, 50.0), 100)
        self.assertEqual(stats.percentile([7.0], 99.9), 7.0)

    def test_too_few_samples_report_the_maximum(self):
        p50, tail, level, n = stats.latency_summary([3.0, 1.0, 2.0], [True] * 3, 99.0)
        self.assertEqual((p50, tail, level, n), (2.0, 3.0, 100.0, 3))


class Misses(unittest.TestCase):
    def test_failed_ops_count_as_misses_in_the_tail(self):
        lat = [float(i) for i in range(1, 201)]  # 1..200 ms
        ok = [True] * 200
        _, tail, level, _ = stats.latency_summary(lat, ok, miss_value=10_000.0)
        self.assertEqual((tail, level), (190.0, 95.0))
        # the ten fastest ops fail instantly: their short times must not
        # pull the tail down; as misses they push it up to the slowest op
        ok = [i >= 10 for i in range(200)]
        p50, tail, _, _ = stats.latency_summary(lat, ok, miss_value=10_000.0)
        self.assertEqual(tail, 200.0)
        self.assertEqual(p50, 110.5)  # the middle two of 11..200 + ten misses
        # eleven failures: the 95th percentile itself is a miss
        ok = [i >= 11 for i in range(200)]
        _, tail, _, _ = stats.latency_summary(lat, ok, miss_value=10_000.0)
        self.assertEqual(tail, 10_000.0)

    def test_with_misses(self):
        self.assertEqual(stats.with_misses([1, 2, 3], [True, False, True], 9),
                         [1, 9, 3])


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 0, 100),
                 span(2, 1, 10, 30),   # child
                 span(3, 1, 20, 50),   # overlaps the first child
                 span(4, 2, 12, 14),   # grandchild: counts for span 2 only
                 span(5, 1, 90, 120)]  # runs past the parent: clipped
        self_t = stats.self_times(spans)
        self.assertEqual(self_t[1], 100 - (50 - 10) - (100 - 90))
        self.assertEqual(self_t[2], 20 - 2)
        self.assertEqual(self_t[3], 30)
        self.assertEqual(self_t[4], 2)
        self.assertEqual(self_t[5], 30)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(7, 0, 5, 9)]), {7: 4})

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25), (3, 3)]), 20)
        self.assertEqual(stats.union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
