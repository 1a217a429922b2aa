"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_exactly_ten_beyond(self):
        # 100 samples 1..100: p90 is 90 with 91..100 beyond it
        self.assertEqual(metrics.tail(range(1, 101)), (90.0, 90, 100))

    def test_small_sample_moves_the_percentile_down(self):
        p, v, n = metrics.tail(range(1, 21))
        self.assertEqual((p, v, n), (50.0, 10, 20))

    def test_ties_do_not_count_as_beyond(self):
        # ten 9s at the top: 5 is the highest value with ten samples above it
        xs = [1, 2, 3, 4, 5] + [9] * 10
        self.assertEqual(metrics.tail(xs)[1], 5)
        # a tie at the candidate itself pushes it further down
        xs = [1, 2, 3, 5, 5] + [9] * 8 + [10]
        self.assertEqual(metrics.tail(xs)[1], 3)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail(range(10)))
        self.assertIsNotNone(metrics.tail(range(11)))


class SelfTimeTest(unittest.TestCase):
    def test_concurrent_children_are_subtracted_once(self):
        # a query's build span with three overlapping writer jobs
        spans = [(0, -1, "build", 0.0, 10.0),
                 (1, 0, "job", 1.0, 5.0),
                 (2, 0, "job", 2.0, 6.0),
                 (3, 0, "job", 3.0, 4.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 5.0)
        self.assertAlmostEqual(st[1], 4.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [(0, -1, "action", 0.0, 2.0), (1, 0, "job", 1.5, 3.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 1.5)

    def test_disjoint_children_and_unfinished_spans(self):
        spans = [(0, -1, "query:q", 0.0, 10.0),
                 (1, 0, "build", 0.0, 2.0),
                 (2, 0, "action", 4.0, 9.0),
                 (3, 0, "job", 5.0, None)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 3.0)
        self.assertNotIn(3, metrics.self_times(spans))

    def test_by_layer(self):
        spans = [(0, -1, "pass:1", 0.0, 4.0),
                 (1, 0, "query:a", 0.0, 2.0),
                 (2, 0, "query:b", 2.0, 3.0)]
        by = metrics.self_time_by_layer(spans)
        self.assertAlmostEqual(by["pass"][0], 1.0)
        self.assertEqual(by["query"], (3.0, 2))


class DigestTest(unittest.TestCase):
    golden = {"q_a": {"rows": 3, "hashsum": "-12"}, "q_b": {"rows": 1, "hashsum": "7"}}

    def test_match(self):
        first = [{"query": "q_a", "status": "ok", "rows": 3, "hashsum": "-12"},
                 {"query": "q_b", "status": "ok", "rows": 1, "hashsum": "7"}]
        self.assertEqual(metrics.digest_mismatches(first, self.golden), [])

    def test_row_count_or_hash_differs(self):
        first = [{"query": "q_a", "status": "ok", "rows": 4, "hashsum": "-12"},
                 {"query": "q_b", "status": "ok", "rows": 1, "hashsum": "8"}]
        self.assertEqual(metrics.digest_mismatches(first, self.golden), ["q_a", "q_b"])

    def test_missing_golden_is_a_mismatch_and_failures_are_not(self):
        first = [{"query": "q_new", "status": "ok", "rows": 0, "hashsum": "0"},
                 {"query": "q_a", "status": "failed"}]
        self.assertEqual(metrics.digest_mismatches(first, self.golden), ["q_new"])


class SpreadTest(unittest.TestCase):
    def test_quartile_spread(self):
        # statistics.quantiles(n=4) of 1..9 (exclusive method): 2.5, 5, 7.5
        self.assertAlmostEqual(metrics.spread(range(1, 10)), 5.0 / 5.0)


if __name__ == "__main__":
    unittest.main()
