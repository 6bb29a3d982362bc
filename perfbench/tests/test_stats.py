"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import model  # noqa: E402
from stats import clip, percentile, self_times, union_length  # noqa: E402


class PercentileTest(unittest.TestCase):

    def test_nearest_rank(self):
        values = [15, 20, 35, 40, 50]
        self.assertEqual(percentile(values, 5), 15)
        self.assertEqual(percentile(values, 30), 20)
        self.assertEqual(percentile(values, 40), 20)
        self.assertEqual(percentile(values, 50), 35)
        self.assertEqual(percentile(values, 100), 50)

    def test_order_and_size(self):
        self.assertEqual(percentile([3, 1, 2], 50), 2)
        self.assertEqual(percentile([7], 99), 7)
        self.assertIsNone(percentile([], 50))

    def test_p99_needs_a_hundred_values_to_leave_the_maximum(self):
        values = list(range(1, 101))
        self.assertEqual(percentile(values, 99), 99)
        self.assertEqual(percentile(values[:50], 99), 50)


class UnionTest(unittest.TestCase):

    def test_overlaps_count_once(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_touching_and_unsorted(self):
        self.assertEqual(union_length([(30, 40), (0, 100), (10, 20)]), 100)
        self.assertEqual(union_length([(0, 5), (5, 10)]), 10)
        self.assertEqual(union_length([(8, 9), (0, 2)]), 3)

    def test_empty_and_degenerate(self):
        self.assertEqual(union_length([]), 0)
        self.assertEqual(union_length([(4, 4), (6, 5)]), 0)

    def test_clip_to_a_window(self):
        self.assertEqual(clip([(0, 10), (15, 30), (40, 50)], 5, 20), [(5, 10), (15, 20)])

    def test_driver_only_time_of_a_query(self):
        # a 100 ms query with two overlapping jobs and one job ending after it
        jobs = [(10, 40), (30, 50), (90, 120)]
        busy = union_length(clip(jobs, 0, 100))
        self.assertEqual(100 - busy, 50)


class SelfTimeTest(unittest.TestCase):

    def test_children_are_subtracted_once(self):
        spans = {"q": (None, 0, 100),
                 "build": ("q", 0, 30), "execute": ("q", 30, 95),
                 "job1": ("execute", 40, 70), "job2": ("execute", 60, 80),
                 "stage": ("job1", 45, 65)}
        st = self_times(spans)
        self.assertEqual(st["q"], 5)
        self.assertEqual(st["build"], 30)
        self.assertEqual(st["execute"], 65 - 40)
        self.assertEqual(st["job1"], 30 - 20)
        self.assertEqual(st["job2"], 20)
        self.assertEqual(st["stage"], 20)

    def test_child_outside_parent_is_clipped(self):
        st = self_times({"p": (None, 0, 10), "c": ("p", 5, 50)})
        self.assertEqual(st["p"], 5)


class TraceAccountingTest(unittest.TestCase):

    def sample(self, build_s, execute_s):
        return {"query": "q", "pass": 0, "start_ms": 1000, "built_ms": 1000 + build_s * 1000,
                "end_ms": 1000 + (build_s + execute_s) * 1000, "build_s": build_s,
                "execute_s": execute_s, "wall_s": build_s + execute_s}

    def trace(self, jobs):
        return {"jobs": jobs, "stages": [], "plans": []}

    def test_covered_query_has_no_violation(self):
        m, _ = layers.batch([self.sample(0.2, 0.8)], self.trace(
            [{"id": 1, "span": "q#0/execute", "start_ms": 1300, "end_ms": 1900,
              "stages": []}]), cores=4)
        self.assertEqual(m["trace.accounting_violations"], 0)
        self.assertAlmostEqual(m["spark.scheduler.driver_only_s"], 0.4)
        self.assertEqual(m["spark.scheduler.jobs"], 1)

    def test_job_outside_its_query_is_a_violation(self):
        m, _ = layers.batch([self.sample(0.2, 0.8)], self.trace(
            [{"id": 1, "span": "q#0/build", "start_ms": 500, "end_ms": 1100,
              "stages": []}]), cores=4)
        self.assertEqual(m["trace.accounting_violations"], 1)

    def test_unlabelled_job_inside_a_query_is_a_violation(self):
        m, _ = layers.batch([self.sample(0.2, 0.8)], self.trace(
            [{"id": 1, "span": "", "start_ms": 1300, "end_ms": 1900, "stages": []}]),
            cores=4)
        self.assertEqual(m["trace.accounting_violations"], 1)
        # it is not counted as the query's work either
        self.assertEqual(m["spark.scheduler.jobs"], 0)
        self.assertAlmostEqual(m["spark.scheduler.driver_only_s"], 1.0)

    def test_foreign_stage_inside_a_query_is_a_violation(self):
        trace = self.trace([{"id": 1, "span": "q#0/execute", "start_ms": 1300,
                             "end_ms": 1900, "stages": [3]}])
        trace["stages"] = [{"id": 7, "attempt": 0, "span": "other#0/execute",
                            "start_ms": 1400, "end_ms": 1500, "tasks": 1}]
        m, _ = layers.batch([self.sample(0.2, 0.8)], trace, cores=4)
        self.assertEqual(m["trace.accounting_violations"], 1)

    def test_work_outside_every_query_is_not_a_violation(self):
        m, _ = layers.batch([self.sample(0.2, 0.8)], self.trace(
            [{"id": 1, "span": "", "start_ms": 2500, "end_ms": 2600, "stages": []}]),
            cores=4)
        self.assertEqual(m["trace.accounting_violations"], 0)


class ModelTest(unittest.TestCase):

    def test_segments_follow_event_time_order(self):
        events = [("e2", 2000, "IDENTIFY", "u1", "free"),
                  ("e1", 1000, "IDENTIFY", "u1", "pro")]
        # applied in ts order: pro, then free
        self.assertEqual(model.segment_counts(events),
                         {"pro_plan:ENTER": 1, "pro_plan:EXIT": 1})

    def test_duplicates_and_power_user(self):
        track = [(f"t{i}", 1000 + i, "TRACK", "u1", None) for i in range(4)]
        dup = [("t3", 1003, "TRACK", "u1", None)]
        fifth = [("t9", 2000, "TRACK", "u1", None)]
        self.assertEqual(model.segment_counts(track + dup), {})
        self.assertEqual(model.segment_counts(track + dup + fifth),
                         {"power_user:ENTER": 1})


if __name__ == "__main__":
    unittest.main()
