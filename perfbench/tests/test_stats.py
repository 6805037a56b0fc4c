"""Unit tests of the benchmark's statistics and ledger arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import ledger  # noqa: E402
import stats  # noqa: E402


class StatsTest(unittest.TestCase):

    def test_median(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_p90_has_ten_samples_beyond_it(self):
        xs = [float(x) for x in range(1, 111)]  # 1..110
        p90 = stats.percentile(xs, 90)
        self.assertAlmostEqual(p90, 1 + 0.9 * 109)  # linear interpolation
        self.assertGreaterEqual(sum(1 for x in xs if x > p90), 10)

    def test_percentile_edges(self):
        self.assertEqual(stats.percentile([5.0], 90), 5.0)
        self.assertEqual(stats.percentile([1.0, 2.0], 0), 1.0)
        self.assertEqual(stats.percentile([1.0, 2.0], 100), 2.0)
        self.assertEqual(stats.percentile([2.0, 1.0, 3.0], 50), stats.median([1, 2, 3]))
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_quartile_spread_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.8, 11.5, 9.8]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / med)
        self.assertEqual(stats.quartile_spread([7.0] * 10), 0.0)

    def test_failed_op_ratio(self):
        self.assertEqual(stats.failed_op_ratio(40, 0), 0.0)
        self.assertEqual(stats.failed_op_ratio(40, 10), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_op_ratio(0, 0)

    def test_amplification(self):
        # 1 MB of input, 3 MB added under the table dirs
        self.assertEqual(stats.write_amp(3_000_000, 1_000_000), 3.0)
        # 5 MB on disk for a table whose live rows compact to 2 MB
        self.assertEqual(stats.space_amp(5_000_000, 2_000_000), 2.5)


class LedgerTest(unittest.TestCase):

    def test_covered_ms_merges_and_clips(self):
        self.assertEqual(ledger.covered_ms([], 0, 10), 0.0)
        self.assertEqual(ledger.covered_ms([(1, 3), (2, 5), (7, 8)], 0, 10), 5.0)
        self.assertEqual(ledger.covered_ms([(-5, 2), (9, 20)], 0, 10), 3.0)

    def test_reduce_attributes_jobs_inclusively(self):
        raw = {
            "sections": [{"n_ops": 2, "elapsed_ms": 1000.0},
                         {"n_ops": 1, "elapsed_ms": 1000.0}],
            "ops": [{"i": 0, "phase": "timed"}, {"i": 1, "phase": "timed"},
                    {"i": 2, "phase": "traced"}],
            "spans": [
                {"id": 1, "name": "streaming.batch", "parent": 0, "op": 2,
                 "start_ms": 0.0, "end_ms": 100.0},
                {"id": 2, "name": "text.dedup_probe", "parent": 1, "op": 2,
                 "start_ms": 10.0, "end_ms": 60.0}],
            "jobs": [
                {"id": 1, "span": 2, "start_ms": 20.0, "end_ms": 40.0, "run_ms": 30,
                 "cpu_ms": 25.0, "deser_ms": 4, "gc_ms": 1, "input_bytes": 100,
                 "shuffle_read_bytes": 7, "shuffle_write_bytes": 9},
                {"id": 2, "span": 0, "start_ms": 70.0, "end_ms": 80.0, "run_ms": 5,
                 "cpu_ms": 5.0, "deser_ms": 0, "gc_ms": 0, "input_bytes": 0,
                 "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}],
            "counters": [{"span": "tables.log", "key": "commits", "op": 2, "value": 2.0},
                         {"span": "text.dedup_probe", "key": "loser_ratio", "op": 2,
                          "value": 0.5}],
            "progress": [{"op": 2, "duration_ms": {"triggerExecution": 90,
                                                    "addBatch": 80, "walCommit": 3}}],
        }
        out = ledger.reduce(raw)
        self.assertEqual(out["streaming.batch.wall_ms"], 100.0)
        self.assertEqual(out["streaming.batch.self_ms"], 50.0)
        self.assertEqual(out["streaming.batch.jobs"], 1)  # the child's job
        self.assertEqual(out["streaming.batch.driver_gap_ms"], 80.0)
        self.assertEqual(out["text.dedup_probe.task_run_ms"], 30)
        self.assertEqual(out["text.dedup_probe.driver_gap_ms"], 30.0)
        self.assertEqual(out["text.dedup_probe.shuffle_write_bytes"], 9)
        self.assertEqual(out["text.dedup_probe.loser_ratio"], 0.5)
        self.assertEqual(out["tables.log.commits"], 2.0)  # per traced op
        self.assertEqual(out["tables.merge.wall_ms"], 0.0)  # absent span
        self.assertEqual(out["streaming.walCommit_ms"], 3)
        self.assertEqual(out["streaming.overhead_ms"], 10)
        self.assertEqual(out["unattributed_jobs"], 1.0)
        self.assertEqual(out["trace.ops_per_s_untraced"], 2.0)
        self.assertEqual(out["trace.ops_per_s_traced"], 1.0)
        self.assertEqual(out["trace.overhead_ops_per_s"], 1.0)


if __name__ == "__main__":
    unittest.main()
