"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s lakebench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        values = list(range(1, 101))  # 100 samples
        # p95 leaves 5 samples beyond it, p90 leaves 10
        self.assertEqual(metrics.beyond(100, 95.0), 5)
        self.assertEqual(metrics.beyond(100, 90.0), 10)
        pct, value = metrics.tail(values)
        self.assertEqual(pct, 90.0)
        self.assertAlmostEqual(value, metrics.percentile(values, 90.0))

    def test_sample_count_sets_the_percentile(self):
        self.assertEqual(metrics.tail(list(range(90)))[0], 75.0)   # p90 leaves 9
        self.assertEqual(metrics.tail(list(range(500)))[0], 95.0)  # p99 leaves 5
        self.assertEqual(metrics.tail(list(range(1000)))[0], 99.0)

    def test_too_few_samples_fall_back_to_the_maximum(self):
        pct, value = metrics.tail([5.0, 1.0, 3.0])
        self.assertEqual((pct, value), (100.0, 5.0))

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50.0), 2.5)
        self.assertEqual(metrics.percentile([7], 90.0), 7)


class SelfTimeTest(unittest.TestCase):
    def span(self, id_, parent, start, end):
        return {"id": id_, "parent": parent, "start_ms": start, "end_ms": end}

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 40),
                 self.span(2, 0, 30, 60),   # overlaps child 1 by 10
                 self.span(3, 0, 80, 90)]
        self.assertEqual(metrics.self_times(spans)[0], 100 - (50 + 10))

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(0, -1, 0, 50), self.span(1, 0, 40, 70)]
        self.assertEqual(metrics.self_times(spans)[0], 40)

    def test_grandchildren_only_reduce_their_own_parent(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 0, 50),
                 self.span(2, 1, 10, 20)]
        selfs = metrics.self_times(spans)
        self.assertEqual(selfs[0], 50)
        self.assertEqual(selfs[1], 40)
        self.assertEqual(selfs[2], 10)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([]), 0)


class AmplificationTest(unittest.TestCase):
    def test_write_amp_prices_rows_at_live_bytes_per_row(self):
        # 1000 live rows in 50_000 bytes: 50 bytes a row; 200 rows merged
        # are 10_000 logical bytes; 40_000 bytes written is 4x
        self.assertEqual(metrics.write_amp(10_000, 50_000, 200, 50_000, 1000), 4.0)

    def test_write_amp_without_merged_rows_is_zero(self):
        self.assertEqual(metrics.write_amp(0, 10, 0, 100, 10), 0.0)

    def test_space_amp(self):
        self.assertEqual(metrics.space_amp(300, 100), 3.0)
        self.assertEqual(metrics.space_amp(300, 0), 0.0)


class ErrorRateTest(unittest.TestCase):
    def test_denominator_counts_ops_and_checks(self):
        checks = [{"ok": True}, {"ok": False}, {"ok": True}]
        # 6 ok ops + 1 failed op + 3 checks = 10 attempts, 2 failures
        self.assertEqual(metrics.error_counts(6, 1, checks), (10, 2))
        self.assertAlmostEqual(metrics.error_rate(6, 1, checks), 0.2)

    def test_nothing_attempted_is_all_failure(self):
        self.assertEqual(metrics.error_rate(0, 0, []), 1.0)


class MetricSetTest(unittest.TestCase):
    def run_record(self):
        return {
            "workload": "daily_ingest", "op_ms": [100.0, 300.0, 200.0],
            "op_items": [10, 10, 10], "measure_s": 0.6, "failed_ops": 0,
            "checks": [{"ok": True}], "setup_s": 9.0,
            "retained_heap_mb": 64.0, "gc_ms": 5, "gc_count": 1,
            "lake_bytes_before": 0, "lake_bytes_after": 3000,
            "facts": {"pipeline.rows_kept": 30.0,
                      "sinks.live_data_bytes": 1000, "sinks.live_rows": 100,
                      "sinks.bytes_on_disk": 4000},
        }

    def test_end_to_end_values(self):
        values, detail = metrics.end_to_end(self.run_record())
        self.assertEqual(set(values), set(metrics.E2E_UNITS))
        self.assertEqual(values["setup_s"], 9.0)
        self.assertEqual(values["op_p50_ms"], 200.0)
        self.assertEqual(values["op_tail_ms"], 300.0)
        self.assertAlmostEqual(values["items_per_s"], 50.0)
        self.assertEqual(values["ok_ratio"], 1.0)
        self.assertEqual(detail["write_amp"], 10.0)
        self.assertEqual(detail["space_amp"], 4.0)
        self.assertEqual(detail["day_tail_s"]["percentile"], 100.0)

    def test_per_layer_reports_every_metric(self):
        rec = self.run_record()
        rec["spans"] = []
        self.assertEqual(set(metrics.per_layer(rec)),
                         set(metrics.PER_LAYER_UNITS))


if __name__ == "__main__":
    unittest.main()
