"""Tests for the benchmark's reductions.

    python3 -m unittest discover -s perfbench/tests -t perfbench
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pb import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(39))
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        # capped at p90 even when p95/p99 would qualify
        self.assertEqual(stats.tail_percentile(1000), 90)
        self.assertEqual(stats.tail_percentile(1000, cap=99), 99)

    def test_every_reported_tail_has_ten_beyond(self):
        for n in range(1, 400):
            p = stats.tail_percentile(n)
            if p is not None:
                values = list(range(n))
                cut = stats.percentile(values, p)
                self.assertGreaterEqual(sum(1 for x in values if x > cut), 10, (n, p))

    def test_summary_omits_tail_of_small_samples(self):
        s = stats.timing_summary([1.0, 2.0, 3.0])
        self.assertEqual(s, {"n": 3, "p50": 2.0})
        s = stats.timing_summary([float(i) for i in range(100)])
        self.assertEqual((s["tail_pct"], s["tail"]), (90, 89.0))


class FailureAccounting(unittest.TestCase):
    ops = [{"name": "q1", "error": None}, {"name": "q1", "error": None},
           {"name": "q2", "error": "boom"}, {"name": "q3", "error": None}]

    def test_errors_count(self):
        self.assertEqual(stats.failures(self.ops, []), (4, 1))

    def test_failed_check_marks_every_op_it_covers(self):
        checks = [{"scope": "q1", "ok": False}, {"scope": "q3", "ok": True}]
        self.assertEqual(stats.failures(self.ops, checks), (4, 3))

    def test_an_op_counts_once(self):
        checks = [{"scope": "q2", "ok": False}, {"scope": "q2", "ok": False}]
        self.assertEqual(stats.failures(self.ops, checks), (4, 1))

    def test_global_check(self):
        self.assertEqual(stats.failures(self.ops, [{"scope": "*", "ok": False}]), (4, 4))


class SelfTime(unittest.TestCase):
    def node(self, i, parent, name, s, e):
        return {"id": i, "parent": parent, "name": name, "start": s, "end": e}

    def test_children_subtract_once_when_overlapping(self):
        nodes = [self.node(1, 0, "op", 0, 100),
                 self.node(2, 1, "build", 10, 30),
                 self.node(3, 1, "job", 20, 50),   # overlaps build
                 self.node(4, 2, "job", 12, 18)]
        t = stats.self_times(nodes)
        self.assertEqual(t["op"], 100 - 40)
        self.assertEqual(t["build"], 20 - 6)
        self.assertEqual(t["job"], 30 + 6)

    def test_children_clipped_to_parent(self):
        nodes = [self.node(1, 0, "a", 0, 10), self.node(2, 1, "b", 5, 25)]
        self.assertEqual(stats.self_times(nodes)["a"], 5)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)


class Compare(unittest.TestCase):
    def test_clear_gain(self):
        r = stats.compare([10.0, 10.2, 9.9, 10.1, 10.0], [8.0, 8.1, 7.9, 8.2, 8.0])
        self.assertEqual(r["won"], 1.0)
        self.assertFalse(r["unresolved"])
        self.assertAlmostEqual(r["delta_frac"], -0.2)

    def test_noise_is_unresolved(self):
        r = stats.compare([10.0, 11.0, 9.0, 10.5, 9.5], [10.2, 9.1, 10.9, 9.6, 10.4])
        self.assertTrue(r["unresolved"])

    def test_quartiles_match_statistics(self):
        import statistics
        v = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
        q = statistics.quantiles(v, n=4)
        self.assertEqual(stats.quartiles(v), (q[0], q[1], q[2]))


if __name__ == "__main__":
    unittest.main()
