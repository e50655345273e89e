"""Tests of the benchmark's own computations.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def span(id_, parent, start, end, name="api.plan", req=1, phase="op"):
    return {"id": id_, "parent": parent, "name": name, "req": req, "phase": phase,
            "start_ns": start, "end_ns": end, "failed": False}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        values = list(range(1, 101))          # 1..100
        self.assertEqual(stats.percentile(values, 50), 50)
        self.assertEqual(stats.percentile(values, 95), 95)
        self.assertEqual(stats.percentile(values, 100), 100)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([9, 1, 5, 3, 7], 50), 5)

    def test_small_samples_pick_an_observed_value(self):
        self.assertEqual(stats.percentile([4.0], 95), 4.0)
        self.assertEqual(stats.percentile([1, 2, 3], 95), 3)
        self.assertEqual(stats.percentile([1, 2, 3], 1), 1)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_samples_beyond(self):
        self.assertEqual(stats.beyond(200, 95), 10)   # p95 with ten beyond
        self.assertEqual(stats.beyond(60, 95), 3)
        self.assertEqual(stats.beyond(1, 95), 0)


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 10, 30)]), {1: 20})

    def test_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)]
        self.assertEqual(stats.self_times(spans)[1], 70)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 70)]
        self.assertEqual(stats.self_times(spans)[1], 40)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_only_direct_children_count(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 90), span(3, 2, 20, 30)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 20)
        self.assertEqual(st[2], 70)


class HitCountTest(unittest.TestCase):
    def test_lookup_without_build_job_is_a_hit(self):
        self.assertEqual(stats.hit_ratio([0, 0, 1, 0]), 0.75)

    def test_no_lookups(self):
        self.assertEqual(stats.hit_ratio([]), 0.0)

    def test_hit_ratio_in_layer_metrics(self):
        ops = [{"req": r, "kind": k, "traced": True, "ok": True, "lat_ms": 1.0}
               for r, k in [(1, "api.portal"), (2, "api.dataset"), (3, "api.landing")]]
        spans = [span(10, 0, 0, 5, req=1), span(11, 0, 0, 7, req=2),
                 span(12, 0, 0, 9, req=3)]
        work = {"10": {"jobs": 1, "dim_jobs": 0}, "11": {"jobs": 3, "dim_jobs": 2},
                "12": {"jobs": 1, "dim_jobs": 0}}
        out = {"spans": spans, "span_work": work, "facts": {}, "ops": ops,
               "setup_s": [1.0]}
        m = stats.layer_metrics(out)
        # landing consults no dimension, so two lookups, one of them a miss
        self.assertEqual(m["identifier_dim.hit_ratio"], (0.5, "ratio"))
        self.assertEqual(m["identifier_dim.lookup_plan_ms"], (6e-6, "ms"))
        self.assertEqual(m["api.jobs_per_request"], (5 / 3, "count"))


if __name__ == "__main__":
    unittest.main()
