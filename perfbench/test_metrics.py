"""Tests for the benchmark's own arithmetic and result checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import metrics  # noqa: E402
from metrics import Span  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        # 0..90: p90 = 81, and only 82..90 (9 samples) lie beyond it
        self.assertIsNone(metrics.tail_percentile(list(range(91))))
        # 101 samples 0..100: p90 = 90, and 91..100 are 10 samples beyond
        self.assertEqual(metrics.tail_percentile(list(range(101))), 90)

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        xs = [1.0] * 95 + [2.0] * 9
        self.assertIsNone(metrics.tail_percentile(xs))

    def test_median_and_interpolation(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.percentile([0, 10], 50), 5)


class SelfTime(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 20), (30, 50)]), 70)

    def test_overlapping_children_count_once(self):
        # children cover 10..60 together, not 30 + 40
        self.assertEqual(metrics.self_time((0, 100), [(10, 40), (20, 60)]), 50)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((0, 100), [(-50, 10), (90, 150)]), 80)

    def test_nested_children_inside_a_child(self):
        self.assertEqual(metrics.self_time((0, 100), [(0, 100), (10, 20)]), 0)

    def test_tree_self_times_add_up_to_the_root(self):
        root = Span("op", "harness", 0, 100, 0)
        spans = [Span("ops.construct", "ops", 0, 40, 1),
                 Span("engine.drain", "engine", 40, 95, 1),
                 # two concurrent jobs, overlapping each other
                 Span("engine.job", "engine", 45, 70, 2),
                 Span("engine.job", "engine", 60, 90, 2),
                 Span("plans.planning", "plans", 5, 15, 2),
                 Span("engine.stage", "engine", 50, 65, 3)]
        st = metrics.layer_self_times(metrics.build_tree(root, spans))
        self.assertAlmostEqual(sum(st.values()), 100)
        self.assertEqual(st["plans"], 10)
        self.assertEqual(st["harness"], 5)
        self.assertEqual(st["ops"], 30)
        self.assertEqual(st["engine"], 55)

    def test_span_reaching_past_its_parent_is_clipped(self):
        root = Span("op", "harness", 0, 100, 0)
        spans = [Span("engine.drain", "engine", 0, 50, 1),
                 Span("engine.job", "engine", 40, 60, 2)]  # midpoint 50 is in drain
        st = metrics.layer_self_times(metrics.build_tree(root, spans))
        self.assertEqual(sum(st.values()), 100)
        self.assertEqual(st["harness"], 50)


class CoreUtil(unittest.TestCase):
    def test_busy_over_wall_times_cores(self):
        self.assertEqual(metrics.core_util(busy_ms=2000, wall_ms=1000, cores=4), 0.5)

    def test_zero_wall(self):
        self.assertEqual(metrics.core_util(10, 0, 4), 0.0)


class FailedOps(unittest.TestCase):
    def test_a_wrong_result_is_counted_as_failed(self):
        oracle = {"q": (["a", "b"], [[1, 2.0], [3, 4.0]])}
        right = {"name": "q", "result": {"cols": ["b", "a"], "rows": [[4.0, 3], [2.0, 1]]}}
        wrong = {"name": "q", "result": {"cols": ["a", "b"], "rows": [[1, 2.0], [3, 4.5]]}}
        outcomes = [checks.check_relational(op, oracle) for op in (right, wrong, right)]
        self.assertEqual(outcomes[0], None)
        self.assertIn("mismatch", outcomes[1])
        self.assertEqual(metrics.failed_count(outcomes), 1)

    def test_missing_rows_and_errors_count(self):
        oracle = {"q": (["a"], [[1], [2]])}
        short = {"name": "q", "result": {"cols": ["a"], "rows": [[1]]}}
        outcomes = [checks.check_relational(short, oracle), "RuntimeException: boom", None]
        self.assertEqual(metrics.failed_count(outcomes), 2)

    def test_oracle_tolerance(self):
        self.assertIsNone(checks.compare(["x"], [[1.0 + 1e-9]], ["x"], [[1.0]]))
        self.assertIsNotNone(checks.compare(["x"], [[1.001]], ["x"], [[1.0]]))

    def test_tagged_values_decode(self):
        got = checks.decode([{"$ts": "2024-01-02T03:04:05"}, {"$date": "2024-01-02"},
                             {"$f": "NaN"}])
        self.assertEqual(str(got[0]), "2024-01-02 03:04:05")
        self.assertEqual(str(got[1]), "2024-01-02")
        self.assertNotEqual(got[2], got[2])

    def test_cluster_check(self):
        pairs = {(1, 2), (2, 3), (7, 9)}
        good = [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)]
        self.assertIsNone(checks._check_components(pairs, good))
        self.assertIsNotNone(checks._check_components(pairs, good[:-1] + [(9, 9)]))


if __name__ == "__main__":
    unittest.main()
