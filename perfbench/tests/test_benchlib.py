"""Tests of the benchmark's own arithmetic and checks.

Run from the repository root:
    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import benchlib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(benchlib.percentile(xs, 50), 50)
        self.assertEqual(benchlib.percentile(xs, 99), 99)
        self.assertEqual(benchlib.percentile(xs, 100), 100)
        self.assertEqual(benchlib.percentile(xs, 0), 1)
        self.assertEqual(benchlib.percentile([7.0], 95), 7.0)

    def test_order_does_not_matter(self):
        self.assertEqual(benchlib.percentile([5, 1, 4, 2, 3], 60), 3)

    def test_samples_beyond(self):
        self.assertEqual(benchlib.samples_beyond(1000, 99), 10)
        self.assertEqual(benchlib.samples_beyond(999, 99), 9)
        self.assertEqual(benchlib.samples_beyond(200, 95), 10)
        self.assertEqual(benchlib.samples_beyond(199, 95), 9)

    def test_tail_needs_ten_samples_beyond(self):
        # 1000 samples: p99.9 has 1 beyond, p99 has 10 -> p99
        p, v = benchlib.tail_percentile(list(range(1, 1001)))
        self.assertEqual((p, v), (99.0, 990))
        # 999 samples: p99 rank is 990, 9 beyond -> falls to p98
        p, _ = benchlib.tail_percentile(list(range(1, 1000)))
        self.assertEqual(p, 98.0)
        # 200 samples: p95 has exactly 10 beyond
        p, v = benchlib.tail_percentile(list(range(1, 201)))
        self.assertEqual((p, v), (95.0, 190))

    def test_too_few_samples_fall_back_to_median(self):
        xs = [3.0, 1.0, 2.0, 10.0]
        self.assertEqual(benchlib.tail_percentile(xs), (50.0, benchlib.hd_quantile(xs, 0.5)))
        # 30 samples: p75 has 7 beyond -> the same median as latency_p50_ms
        xs = [float(x * x % 31) for x in range(30)]
        self.assertEqual(benchlib.tail_percentile(xs), (50.0, benchlib.hd_quantile(xs, 0.5)))

    def test_harrell_davis_median(self):
        # symmetric samples: the estimate is the centre
        self.assertAlmostEqual(benchlib.hd_quantile(list(range(1, 10)), 0.5), 5.0, places=6)
        self.assertAlmostEqual(benchlib.hd_quantile([4.0] * 7, 0.5), 4.0, places=6)
        # a gap at the middle: the sample median jumps from 1 to 10 when one
        # value moves across it; the estimate moves by far less
        low = [1.0] * 5 + [10.0] * 4
        high = [1.0] * 4 + [10.0] * 5
        jump = benchlib.hd_quantile(high, 0.5) - benchlib.hd_quantile(low, 0.5)
        self.assertLess(jump, 9.0 / 2)
        self.assertLess(benchlib.hd_quantile(low, 0.5), benchlib.hd_quantile(high, 0.5))
        # other quantiles are ordered
        xs = [float(x) for x in range(100)]
        self.assertLess(benchlib.hd_quantile(xs, 0.25), benchlib.hd_quantile(xs, 0.75))


class TickLatencyTest(unittest.TestCase):
    def test_each_tick_charged_to_first_committing_trigger(self):
        # ticks every 10 ms from t=1000; offsets are tick indexes
        ticks = [(i, 1000 + 10 * i) for i in range(10)]
        # trigger A ends at 1045 having committed through offset 3,
        # trigger B ends at 1200 through offset 8; offset 9 never commits
        triggers = [(1200, 8), (1045, 3)]
        lat = benchlib.tick_latencies(ticks, triggers)
        self.assertEqual(lat[0], 45)
        self.assertEqual(lat[3], 15)
        self.assertEqual(lat[4], 160)   # waited for trigger B: queue wait counts
        self.assertEqual(lat[8], 120)
        self.assertNotIn(9, lat)
        self.assertEqual(len(lat), 9)

    def test_replayed_trigger_does_not_recharge(self):
        # a restart replays the batch through offset 3; the ticks keep the
        # latency of the first commit
        ticks = [(i, 100 * i) for i in range(4)]
        lat = benchlib.tick_latencies(ticks, [(250, 1), (500, 3), (900, 3)])
        self.assertEqual(lat, {0: 250, 1: 150, 2: 300, 3: 200})

    def test_lag_at_trigger_end(self):
        ticks = [(i, 10 * (i + 1)) for i in range(5)]
        # at t=35, offsets 0..2 appended and 0..1 committed -> 1 behind
        self.assertEqual(benchlib.lag_at_trigger_end(ticks, [(35, 1), (60, 4)]), [1, 0])


class GoldenTest(unittest.TestCase):
    GOLD = {"query:q_a": {"rows": 10, "hash": "abc"},
            "query:q_b": {"rows": 5, "hash": "def"}}

    def test_matching_outputs_pass(self):
        res = {"query:q_a": (10, "abc"), "query:q_b": (5, "def")}
        self.assertEqual(benchlib.golden_mismatches(res, self.GOLD), [])

    def test_tampered_content_fails(self):
        res = {"query:q_a": (10, "abd"), "query:q_b": (5, "def")}
        bad = benchlib.golden_mismatches(res, self.GOLD)
        self.assertEqual([n for n, _ in bad], ["query:q_a"])

    def test_tampered_row_count_fails(self):
        res = {"query:q_a": (11, "abc")}
        self.assertEqual(len(benchlib.golden_mismatches(res, self.GOLD)), 1)

    def test_unknown_output_fails(self):
        self.assertEqual(len(benchlib.golden_mismatches({"query:q_new": (1, "x")}, self.GOLD)), 1)


class StreamCheckTest(unittest.TestCase):
    @staticmethod
    def rec(b, start, end):
        return {"batch_id": b, "start_offset": start, "end_offset": end}

    def test_gapless_chain(self):
        rs = [self.rec(0, "none", "4"), self.rec(1, "4", "9"), self.rec(2, "9", "9")]
        self.assertEqual(benchlib.readback_gaps(rs), [])

    def test_missing_batch_and_offset_gap(self):
        self.assertEqual(len(benchlib.readback_gaps([self.rec(0, "none", "4"), self.rec(2, "4", "9")])), 1)
        self.assertEqual(len(benchlib.readback_gaps([self.rec(0, "none", "4"), self.rec(1, "5", "9")])), 1)
        self.assertEqual(len(benchlib.readback_gaps([])), 1)

    def test_sink_every_planted_pair_once_per_band(self):
        ok = {"planted": 3, "found_planted": 3, "unplanted_pairs": 0,
              "pair_row_counts": {"2": 3}, "bands": 2}
        self.assertEqual(benchlib.sink_problems(ok), [])
        replayed = dict(ok, pair_row_counts={"2": 2, "4": 1})
        self.assertEqual(len(benchlib.sink_problems(replayed)), 1)
        lost = dict(ok, found_planted=2, pair_row_counts={"2": 2})
        self.assertEqual(len(benchlib.sink_problems(lost)), 1)


if __name__ == "__main__":
    unittest.main()
