"""Percentile / sample-count rule and failure accounting of run.py."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


def ops(ms_values):
    return [{"op": i, "req": "r", "ms": ms, "ok": True, "err": ""}
            for i, ms in enumerate(ms_values)]


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(run.tail_percentile(1))
        self.assertIsNone(run.tail_percentile(99))
        self.assertEqual(run.tail_percentile(100), 0.90)
        self.assertEqual(run.tail_percentile(199), 0.90)
        self.assertEqual(run.tail_percentile(200), 0.95)
        self.assertEqual(run.tail_percentile(1000), 0.99)

    def test_percentile_interpolates(self):
        self.assertEqual(run.percentile([1, 2, 3, 4, 5], 0.5), 3)
        self.assertAlmostEqual(run.percentile(list(range(1, 101)), 0.9), 90.1)

    def test_figures_report_tail_only_with_enough_samples(self):
        few = run.end_to_end(ops([10.0] * 50), [], 1, 1.0, 100.0)
        self.assertNotIn("op_p90_ms", few)
        self.assertEqual(few["samples"], 50)
        many = run.end_to_end(ops([float(i) for i in range(1, 121)]), [], 1, 1.0, 100.0)
        self.assertIn("op_p90_ms", many)
        self.assertAlmostEqual(many["op_p50_ms"], 60.5)

    def test_throughput_is_ops_over_timed_wall(self):
        fig = run.end_to_end(ops([500.0, 500.0]), [], 100, 1.0, 100.0)
        self.assertAlmostEqual(fig["ops_per_s"], 2.0)
        self.assertAlmostEqual(fig["rows_per_s"], 200.0)


class FailureAccounting(unittest.TestCase):
    def test_planted_failing_op_raises_failed_ratio(self):
        records = ops([10.0, 11.0, 12.0, 13.0])
        clean = run.end_to_end(records, [], 1, 1.0, 100.0)
        self.assertEqual(clean["failed_ratio"], 0.0)
        records[2].update(ok=False, err="java.lang.RuntimeException: planted")
        fig = run.end_to_end(records, [], 1, 1.0, 100.0)
        self.assertEqual(fig["failed"], 1)
        self.assertEqual(fig["failed_ratio"], 0.25)
        self.assertEqual(fig["samples"], 3)

    def test_oracle_mismatch_counts_as_failed_op(self):
        fig = run.end_to_end(ops([10.0, 11.0]), [1], 1, 1.0, 100.0)
        self.assertEqual(fig["failed"], 1)
        self.assertEqual(fig["failed_ratio"], 0.5)
        self.assertEqual(fig["op_p50_ms"], 10.0)


if __name__ == "__main__":
    unittest.main()
