"""Tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import metrics
import run

HERE = os.path.dirname(os.path.abspath(__file__))


def batch(bid, ts, trigger, rows, latest=0, start=None, end=None, **dur):
    d = {"triggerExecution": trigger, "latestOffset": latest}
    d.update(dur)
    return {"id": bid, "ts_ms": ts, "rows": rows, "dur": d,
            "start": start if start is not None else 0,
            "end": end if end is not None else rows}


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(list(range(19)), 0.5))
        self.assertIsNotNone(metrics.percentile(list(range(20)), 0.5))
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertIsNotNone(metrics.percentile(list(range(100)), 0.9))
        self.assertIsNone(metrics.percentile([], 0.5))

    def test_nearest_rank(self):
        values = list(range(1, 101))  # 1..100
        self.assertEqual(metrics.percentile(values, 0.9), 90)
        self.assertEqual(metrics.percentile(values, 0.5), 50)
        self.assertEqual(metrics.percentile(list(reversed(values)), 0.9), 90)


class WholeBatchRate(unittest.TestCase):
    def test_counts_whole_batches_between_first_and_last_completion(self):
        # completions at 1000, 2000, 3500; the first batch's rows are
        # not counted: they were processed before the measured span
        bs = [batch(0, 0, 1000, 100), batch(1, 1000, 1000, 200), batch(2, 2000, 1500, 400)]
        rate = metrics.whole_batch_rate(bs, (0, 10000))
        self.assertAlmostEqual(rate, (200 + 400) / 2.5)

    def test_window_and_empty_batches(self):
        bs = [batch(0, 0, 1000, 100), batch(1, 1000, 1000, 0),
              batch(2, 2000, 1000, 300), batch(3, 3000, 5000, 999)]
        # batch 3 commits at 8000, outside; the empty batch is ignored
        self.assertAlmostEqual(metrics.whole_batch_rate(bs, (500, 7000)), 300 / 2.0)

    def test_fewer_than_two_completions(self):
        self.assertIsNone(metrics.whole_batch_rate([batch(0, 0, 10, 5)], (0, 100)))
        self.assertIsNone(metrics.whole_batch_rate([], (0, 100)))


class AddBatchRate(unittest.TestCase):
    def test_rate_of_work_done_not_of_admission(self):
        # 1M-row chunks granted once per 1 s tick, each read in 250 ms:
        # the whole-batch rate sits at the 1M/s admission cap, the
        # work rate shows the reader's 4M/s
        bs = [batch(i, i * 1000, 300, 1000000, addBatch=250) for i in range(4)]
        self.assertAlmostEqual(metrics.whole_batch_rate(bs, (0, 5000)), 1e6)
        self.assertAlmostEqual(metrics.add_batch_rows_per_s(bs), 4e6)

    def test_no_rows_or_no_time(self):
        self.assertIsNone(metrics.add_batch_rows_per_s([]))
        self.assertIsNone(metrics.add_batch_rows_per_s([batch(0, 0, 10, 5, addBatch=0)]))


class JvmFlags(unittest.TestCase):
    def test_keeps_only_add_opens_pairs(self):
        opts = ["--add-opens", "java.base/java.lang=ALL-UNNAMED", "-Xmx8g",
                "--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED", "-Dspark.ui.enabled=false"]
        self.assertEqual(run.add_opens(opts), [
            "--add-opens", "java.base/java.lang=ALL-UNNAMED",
            "--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED"])


class SkippedTicks(unittest.TestCase):
    def test_open_loop_skips_missed_ticks(self):
        # pace 1 s; grants at 0, 1.5 s (tick 2 due), 3.0 s (ticks 3 and 4
        # due: one skipped), 4.5 s (tick 5 due), 6.0 s (6, 7: one skipped)
        grants = [0, 1500, 3000, 4500, 6000]
        bs = [batch(i, g, 1500, 10) for i, g in enumerate(grants)]
        self.assertEqual(metrics.skipped_ticks(bs, 1.0), 2)
        # inside a window holding only the last three batches' commits
        self.assertEqual(metrics.skipped_ticks(bs, 1.0, (4000, 8000)), 1)

    def test_grant_is_end_of_latest_offset(self):
        # the first trigger spends 900 ms in latestOffset (index build)
        # before the schedule is anchored; nothing is skipped
        bs = [batch(0, 0, 1000, 10, latest=900), batch(1, 1900, 500, 10)]
        self.assertEqual(metrics.skipped_ticks(bs, 1.0), 0)

    def test_keeping_up_skips_nothing(self):
        bs = [batch(i, i * 10, 5, 10) for i in range(50)]
        self.assertEqual(metrics.skipped_ticks(bs, 0.01), 0)


class OffsetContract(unittest.TestCase):
    def test_contiguous_batches_pass(self):
        bs = [batch(0, 0, 1, 10, start=0, end=10), batch(1, 5, 1, 5, start=10, end=15)]
        self.assertEqual(metrics.offset_failures(bs), 0)

    def test_gap_and_count_mismatch_fail(self):
        bs = [batch(0, 0, 1, 10, start=0, end=10), batch(1, 5, 1, 5, start=11, end=16),
              batch(2, 9, 1, 4, start=16, end=21)]
        self.assertEqual(metrics.offset_failures(bs), 2)

    def test_first_batch_starts_at_zero(self):
        self.assertEqual(metrics.offset_failures([batch(0, 0, 1, 10, start=5, end=15)]), 1)


class Fingerprints(unittest.TestCase):
    pinned = {"q01": {"rows": 6, "fp": "aa"}, "q03": {"rows": 50, "fp": "bb"}}

    def test_match(self):
        samples = [{"name": "q01", "rows": 6, "fp": "aa"}, {"name": "q03", "rows": 50, "fp": "bb"}]
        self.assertEqual(metrics.fingerprint_failures(samples, self.pinned), [])

    def test_row_count_hash_and_unpinned_fail(self):
        samples = [{"name": "q01", "rows": 7, "fp": "aa"}, {"name": "q03", "rows": 50, "fp": "bc"},
                   {"name": "q99", "rows": 1, "fp": "00"}]
        self.assertEqual(metrics.fingerprint_failures(samples, self.pinned), ["q01", "q03", "q99"])

    def test_pins_cover_the_query_list(self):
        with open(os.path.join(HERE, "fingerprints.json")) as fh:
            pinned = json.load(fh)
        self.assertEqual(sorted(pinned), sorted(metrics.QUERY_NAMES))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "a", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "layer": "b", "start_ms": 10, "end_ms": 40},
            {"id": 3, "parent": 1, "layer": "b", "start_ms": 30, "end_ms": 60},
            {"id": 4, "parent": 1, "layer": "b", "start_ms": 90, "end_ms": 120},
        ]
        own = metrics.self_times(spans)
        self.assertAlmostEqual(own[1], 100 - 50 - 10)
        self.assertAlmostEqual(own[2], 30)
        by_layer = metrics.self_by_layer(spans, (0, 50))
        self.assertAlmostEqual(by_layer["a"], 40)
        self.assertAlmostEqual(by_layer["b"], 60)


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_the_runner(self):
        path = os.path.join(HERE, os.pardir, "BENCHMARK.json")
        with open(path) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
