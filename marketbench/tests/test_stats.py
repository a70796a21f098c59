"""The tail-percentile rule and span self-time accounting."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_refuses_fewer_than_ten_beyond(self):
        with self.assertRaises(stats.TailTooShort):
            stats.percentile(list(range(99)), 90)     # 9.9 beyond p90
        with self.assertRaises(stats.TailTooShort):
            stats.percentile(list(range(49)), 80)     # 9.8 beyond p80

    def test_accepts_ten_beyond(self):
        self.assertAlmostEqual(stats.percentile(list(range(100)), 90), 89.1)
        self.assertAlmostEqual(stats.percentile(list(range(50)), 80), 39.2)

    def test_median_needs_twenty(self):
        self.assertEqual(stats.percentile(list(range(20, 0, -1)), 50), 10.5)
        with self.assertRaises(stats.TailTooShort):
            stats.percentile(list(range(19)), 50)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


class SelfTime(unittest.TestCase):
    def test_duration_minus_child_covered_interval(self):
        spans = [span(1, 0, 0, 100),
                 span(2, 1, 10, 30),     # children overlap: 10..40 covered once
                 span(3, 1, 20, 40),
                 span(4, 1, 90, 120),    # clipped to the parent: 90..100
                 span(5, 2, 12, 18)]     # grandchild counts against 2 only
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 30 - 10)
        self.assertEqual(st[2], 20 - 6)
        self.assertEqual(st[3], 20)
        self.assertEqual(st[4], 30)
        self.assertEqual(st[5], 6)

    def test_childless_span_is_all_self(self):
        self.assertEqual(stats.self_times([span(7, 0, 5, 9)]), {7: 4})


class Spread(unittest.TestCase):
    def test_interquartile_share_of_median(self):
        q1, q2, q3, rel = stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(rel, 1.0)


if __name__ == "__main__":
    unittest.main()
