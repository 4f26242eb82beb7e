"""Unit tests of the benchmark's arithmetic (no JVM).

    python3 -m unittest discover -s perfbench/tests -p 'test_metrics.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertIsNone(metrics.p90([1.0] * 99))
        vals = [float(i) for i in range(1, 101)]
        self.assertAlmostEqual(metrics.p90(vals), 90.1)
        # at least ten samples lie beyond the reported percentile
        self.assertGreaterEqual(sum(v > metrics.p90(vals) for v in vals), 10)

    def test_end_to_end_reports_p90_only_from_100_queries(self):
        def result(n):
            return {"pass_start_ms": 0, "pass_end_ms": 1000,
                    "queries": [{"total_ms": float(i)} for i in range(n)]}
        self.assertNotIn("query_p90_s", metrics.end_to_end(result(99), 1.0))
        self.assertIn("query_p90_s", metrics.end_to_end(result(100), 1.0))

    def test_spread_is_quartile_distance_over_median(self):
        self.assertAlmostEqual(metrics.spread([1.0, 2.0, 3.0, 4.0, 5.0]), 3.0 / 3.0)
        self.assertEqual(metrics.spread([2.0] * 10), 0.0)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, s, e):
        return {"id": i, "parent": parent, "start_ms": s, "end_ms": e}

    def test_children_overlapping_each_other_count_once(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40),
                 self.span(2, 0, 30, 50), self.span(3, 1, 15, 20)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - 40)   # children cover [10, 50]
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 5)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 5, 30)]
        self.assertEqual(metrics.self_times(spans)[0], 5)

    def test_union(self):
        self.assertEqual(metrics.union_ms([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(metrics.union_ms([(0, 5)], lo=2, hi=4), 2)
        self.assertEqual(metrics.union_ms([]), 0)


class Attribution(unittest.TestCase):
    def test_jobs_hang_under_the_call_that_started_them(self):
        result = {
            "spans": [
                {"id": 0, "parent": -1, "name": "query", "query": "q", "start_ms": 0, "end_ms": 100},
                {"id": 1, "parent": 0, "name": "ops.build", "query": "q", "start_ms": 0, "end_ms": 60},
                {"id": 2, "parent": 0, "name": "plans.plan", "query": "q", "start_ms": 60, "end_ms": 70},
                {"id": 3, "parent": 0, "name": "exec.run", "query": "q", "start_ms": 70, "end_ms": 100}],
            "jobs": [
                {"id": 7, "group": "perfbench:q", "start_ms": 5, "end_ms": 15},
                {"id": 8, "group": "other", "start_ms": 22, "end_ms": 30},
                {"id": 9, "group": "perfbench:q", "start_ms": 75, "end_ms": 95}],
            "batches": [{"start_ms": 20, "trigger_ms": 20}],
        }
        spans = metrics.attribute(result)
        by_id = {s["id"]: s for s in spans}
        jobs = {s["job"]: s for s in spans if s["name"] == "spark.job"}
        self.assertEqual(by_id[jobs[7]["parent"]]["name"], "ops.build")
        self.assertEqual(by_id[jobs[8]["parent"]]["name"], "streaming.batch")
        self.assertEqual(by_id[jobs[9]["parent"]]["name"], "exec.run")
        self.assertEqual(metrics.layer_of(by_id, jobs[8]), "ops.build")
        st = metrics.self_times(spans)
        build = by_id[1]
        # build covers [0, 60]; job 7 and the batch [20, 40] are its children
        self.assertEqual(st[build["id"]], 60 - 10 - 20)


class FailureCounting(unittest.TestCase):
    def test_a_query_counts_once_whether_it_threw_or_failed_the_gate(self):
        result = {"queries": [
            {"name": "a", "error": "boom"},
            {"name": "b", "error": ""},
            {"name": "c", "error": ""}]}
        self.assertEqual(metrics.failed_queries(result, {"b"}), {"a", "b"})


if __name__ == "__main__":
    unittest.main()
