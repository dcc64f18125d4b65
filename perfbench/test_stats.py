"""Tests for the benchmark's metric helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_too_few_samples_for_any_percentile(self):
        self.assertEqual(stats.tail(list(range(19))), (None, None))

    def test_twenty_samples_support_only_the_median(self):
        self.assertEqual(stats.tail(list(range(1, 21))), (50.0, 10))

    def test_hundred_samples_support_p90(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs), (90.0, 90))

    def test_thousand_samples_support_p99(self):
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))

    def test_order_of_samples_does_not_matter(self):
        xs = list(range(1, 41))
        self.assertEqual(stats.tail(xs[::-1]), stats.tail(xs))
        self.assertEqual(stats.tail(xs), (75.0, 30))


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 6)]), 5)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (8, 20)]), 6)

    def test_disjoint_and_nested_children(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 20), (12, 15), (50, 60)]), 80)

    def test_child_outside_the_span_is_ignored(self):
        self.assertEqual(stats.self_time((0, 10), [(20, 30)]), 10)


class FingerprintTest(unittest.TestCase):
    recorded = {"q_a": {"hash": "-12", "rows": 3}, "q_b": {"hash": "7", "rows": 1}}

    def op(self, name, h, rows, ok=True):
        return {"name": name, "hash": h, "rows": rows, "ok": ok}

    def test_matching_outputs(self):
        ops = [self.op("q_a", "-12", 3), self.op("q_b", 7, 1)]
        self.assertEqual(stats.fingerprint_mismatches(self.recorded, ops), [])

    def test_hash_row_count_failure_and_unknown_query_all_mismatch(self):
        ops = [self.op("q_a", "-13", 3), self.op("q_b", "7", 2),
               self.op("q_a", "-12", 3, ok=False), self.op("q_c", "1", 1)]
        self.assertEqual(stats.fingerprint_mismatches(self.recorded, ops),
                         ["q_a", "q_b", "q_a", "q_c"])


if __name__ == "__main__":
    unittest.main()
