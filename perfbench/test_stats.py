"""Tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import inputs  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402


def span(id, start, end, parent=-1, layer="x", query="q", pass_=1, name=None):
    return {"id": id, "name": name or f"s{id}", "layer": layer, "start": start,
            "end": end, "parent": parent, "query": query, "pass": pass_}


class TailRule(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))           # 100 samples
        v, p, n = stats.tail(xs)
        self.assertEqual((v, p, n), (90, 90.0, 100))   # p95 leaves only 5

    def test_exactly_ten_beyond_qualifies(self):
        v, p, _ = stats.tail(list(range(1, 41)))        # p75 rank 30, 10 beyond
        self.assertEqual((v, p), (30, 75.0))

    def test_large_sample_reaches_p99(self):
        v, p, _ = stats.tail(list(range(1, 1001)))
        self.assertEqual((v, p), (990, 99.0))

    def test_few_samples_fall_back_to_median(self):
        v, p, n = stats.tail([3.0, 1.0, 2.0])
        self.assertEqual((v, p, n), (2.0, 50.0, 3))

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class HarrellDavis(unittest.TestCase):
    def test_incomplete_beta_known_values(self):
        self.assertAlmostEqual(stats.beta_inc(3.5, 3.5, 0.5), 0.5, places=12)
        # I_x(2, 2) = 3x^2 - 2x^3
        for x in (0.1, 1 / 3, 0.8):
            self.assertAlmostEqual(stats.beta_inc(2, 2, x), 3 * x * x - 2 * x ** 3,
                                   places=12)
        self.assertAlmostEqual(stats.beta_inc(1, 1, 0.37), 0.37, places=12)

    def test_three_samples_by_hand(self):
        # n = 3, p50: Beta(2, 2) weights 7/27, 13/27, 7/27
        self.assertAlmostEqual(stats.hd_quantile([10, 1, 2], 50), 103 / 27, places=12)
        self.assertAlmostEqual(stats.hd_quantile([1, 2, 3], 50), 2.0, places=12)

    def test_constant_sample_and_symmetry(self):
        self.assertAlmostEqual(stats.hd_quantile([4.5] * 17, 90), 4.5, places=12)
        xs = list(range(1, 31))
        self.assertAlmostEqual(stats.hd_quantile(xs, 50), 15.5, places=9)

    def test_moves_smoothly_when_middle_ranks_trade(self):
        # two clusters meeting at the median: nudging one sample across the
        # gap moves the sample median by the gap, the estimate by a little
        a = [1.0] * 15 + [2.0] * 15
        b = [1.0] * 14 + [2.0] * 16
        self.assertEqual(stats.median(b) - stats.median(a), 0.5)
        self.assertLess(stats.hd_quantile(b, 50) - stats.hd_quantile(a, 50), 0.2)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_union_ignores_empty_intervals(self):
        self.assertEqual(stats.union_length([(2, 2), (3, 1)]), 0)

    def test_nested_interval_counts_once(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(0, 0, 10), span(1, 2, 6, parent=0), span(2, 3, 4, parent=1)]
        self.assertEqual(stats.self_times(spans), {0: 6, 1: 3, 2: 1})

    def test_overlapping_children_count_once(self):
        spans = [span(0, 0, 10), span(1, 1, 5, parent=0), span(2, 3, 8, parent=0)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 3)          # 10 - |[1, 8]|
        self.assertEqual((st[1], st[2]), (4, 5))

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, 0, 4), span(1, 3, 9, parent=0)]
        self.assertEqual(stats.self_times(spans)[0], 3)

    def test_parents_by_innermost_containing_span(self):
        outer, inner = span(0, 0, 10), span(1, 2, 8, parent=0)
        job = span(2, 3, 12)                       # starts inside both
        other_pass = span(3, 3, 4, pass_=2)
        stats.assign_parents([job, other_pass], [outer, inner])
        self.assertEqual(job["parent"], 1)
        self.assertEqual(other_pass["parent"], -1)

    def test_unattributed_is_wall_minus_self_times(self):
        q = span(0, 0, 10, layer="query")
        b = span(1, 0, 6, parent=0, layer="build")
        d = span(2, 6, 10, parent=0, layer="drain")
        j = span(3, 1, 5, parent=1, layer="exec")
        spans = [q, b, d, j]
        st = stats.self_times(spans)
        self.assertEqual(layers.unattributed(spans, st, q), 0)
        # two concurrent jobs under the drain: their overlap counts twice
        spans += [span(4, 6, 9, parent=2, layer="exec"),
                  span(5, 7, 10, parent=2, layer="exec")]
        st = stats.self_times(spans)
        self.assertEqual(layers.unattributed(spans, st, q), -2)


class LayerSpans(unittest.TestCase):
    def test_listener_events_become_nested_spans(self):
        res = {
            "spans": [span(0, 1000, 2000, layer="query"),
                      span(1, 1000, 1500, parent=0, layer="build"),
                      span(2, 1500, 2000, parent=0, layer="drain")],
            "events": [
                {"kind": "job_start", "job": 7, "t": 1600, "stream": "", "stages": [3]},
                {"kind": "job_end", "job": 7, "t": 1900, "ok": True},
                {"kind": "stage", "stage": 3, "start": 1610, "end": 1890, "tasks": 1},
                {"kind": "task", "stage": 3, "launch": 1620, "finish": 1880,
                 "wait": 10, "failed": False, "run": 250},
                {"kind": "qe", "t": 1950, "exchanges": 1, "broadcast_joins": 0, "wscg": 2,
                 "phases": [{"phase": "planning", "start": 1520, "end": 1580}]},
                {"kind": "job_start", "job": 8, "t": 5000, "stream": "", "stages": []},
                {"kind": "job_end", "job": 8, "t": 5100, "ok": True},
            ]}
        spans = layers.build_spans(res)
        by_name = {s["name"]: s for s in spans}
        self.assertNotIn("job 8", by_name)          # outside every query
        self.assertEqual(by_name["job 7"]["parent"], 2)
        self.assertEqual(by_name["stage 3"]["parent"], by_name["job 7"]["id"])
        self.assertEqual(by_name["plan.planning"]["parent"], 2)
        st = stats.self_times(spans)
        self.assertEqual(st[2], 500 - 60 - 300)    # drain minus planning and job


class Inputs(unittest.TestCase):
    def test_cut_is_deterministic_and_seed_dependent(self):
        import numpy as np
        keys = np.arange(10000, dtype=np.int64)
        a = inputs.keep_mask(keys, 5, 2, 3)
        self.assertTrue((a == inputs.keep_mask(keys, 5, 2, 3)).all())
        self.assertFalse((a == inputs.keep_mask(keys, 6, 2, 3)).all())
        self.assertAlmostEqual(a.mean(), 2 / 3, delta=0.02)

    def test_permutation_is_seeded(self):
        names = [f"q{i}" for i in range(12)]
        self.assertEqual(inputs.permute(names, 3), inputs.permute(names, 3))
        self.assertEqual(sorted(inputs.permute(names, 3)), sorted(names))
        self.assertNotEqual(inputs.permute(names, 3), inputs.permute(names, 4))


if __name__ == "__main__":
    unittest.main()
