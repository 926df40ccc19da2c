"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class MedianAndTail(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_op_medians_over_iterations(self):
        its = [[("a", 1.0), ("b", 5.0)], [("a", 3.0), ("b", 4.0)],
               [("a", 2.0)]]
        self.assertEqual(stats.op_medians(its), {"a": 2.0, "b": 4.5})
        self.assertEqual(stats.op_medians([]), {})

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_tail_keeps_ten_samples_beyond(self):
        # 1000 samples: p99 leaves exactly 10 above it, p99.9 only 1
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))
        # 10010 samples: p99.9 leaves 10 above it
        self.assertEqual(stats.tail(list(range(1, 10011)))[0], 99.9)
        # 200 samples: p95 leaves 10 above it, p99 only 2
        self.assertEqual(stats.tail(list(range(1, 201))), (95.0, 190))
        # 999 samples: p99 would leave 9, so the tail falls back to p95
        self.assertEqual(stats.tail(list(range(1, 1000)))[0], 95.0)

    def test_tail_with_too_few_samples_is_the_maximum(self):
        self.assertEqual(stats.tail([5, 1, 9]), (100.0, 9))
        # 60 samples: p75 would leave 15 above it, but a tail is p90 or more
        self.assertEqual(stats.tail(list(range(1, 61))), (100.0, 60))
        # 100 samples: p90 leaves exactly 10 above it
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4.0)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start_ms": start, "end_ms": end}

    def test_overlapping_children_count_once(self):
        spans = [self.span("p", "", 0, 100),
                 self.span("a", "p", 10, 40),
                 self.span("b", "p", 30, 60),   # overlaps a by 10
                 self.span("c", "p", 80, 90)]
        own = stats.self_times(spans)
        # children cover [10, 60] and [80, 90]: 60 of the 100
        self.assertEqual(own["p"], 40)
        self.assertEqual(own["a"], 30)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span("p", "", 0, 50), self.span("a", "p", 40, 70)]
        self.assertEqual(stats.self_times(spans)["p"], 40)

    def test_grandchildren_do_not_count_against_the_grandparent(self):
        spans = [self.span("p", "", 0, 100), self.span("a", "p", 0, 50),
                 self.span("g", "a", 0, 50)]
        own = stats.self_times(spans)
        self.assertEqual((own["p"], own["a"], own["g"]), (50, 0, 50))


class Backlog(unittest.TestCase):
    # 30 s of schedule, a file due every 20 ms (50 files/s)
    due = [i * 20 for i in range(1500)]

    def batched(self, busy_ms, trigger=1000):
        """Commit times of a processing-time trigger: a batch starts on the
        next trigger tick after the previous one ended (at once when it
        ended late), takes every file due by then and commits
        busy_ms(rows) later."""
        done, start, i = [], 0, 0
        while i < len(self.due):
            rows = sum(1 for d in self.due[i:] if d <= start)
            if rows == 0:
                start += trigger
                continue
            end = start + busy_ms(rows)
            done += [end] * rows
            i += rows
            start = max(end, (start // trigger + 1) * trigger)
        return done

    def test_sustained_rate_is_flat(self):
        # 400 ms fixed cost plus 6 ms a file: 700 ms busy per 1 s trigger
        done = self.batched(lambda rows: 400 + 6 * rows)
        self.assertTrue(stats.backlog_flat(self.due, done))

    def test_batches_past_the_trigger_that_catch_up_are_flat(self):
        # busy runs past the trigger, but the batches stop growing
        # (per-file cost below the arrival interval)
        done = self.batched(lambda rows: 900 + 10 * rows)
        self.assertTrue(stats.backlog_flat(self.due, done))

    def test_one_slow_batch_does_not_read_as_growth(self):
        batches = []

        def busy(rows):  # the sixth batch stalls for 2.5 s
            batches.append(rows)
            return 2500 if len(batches) == 6 else 400 + 6 * rows
        done = self.batched(busy)
        self.assertTrue(stats.backlog_flat(self.due, done))

    def test_ten_percent_overload_grows(self):
        # the stream commits one file per 22 ms against one due per 20 ms
        done = [i * 22 + 700 for i in range(len(self.due))]
        self.assertFalse(stats.backlog_flat(self.due, done))

    def test_ten_percent_overload_in_batches_grows(self):
        # per-file cost 22 ms against a file due every 20 ms: each batch
        # outlasts the arrivals it drains
        done = self.batched(lambda rows: 100 + 22 * rows)
        self.assertFalse(stats.backlog_flat(self.due, done))

    def test_never_committed_files_grow_the_backlog(self):
        done = [d + 300 for d in self.due[:750]] + [float("inf")] * 750
        self.assertFalse(stats.backlog_flat(self.due, done))

    def test_batch_lag_is_from_the_oldest_file(self):
        self.assertEqual(stats.batch_lags([0, 10, 20, 30], [50, 50, 90, 90]),
                         [(50, 50), (90, 70)])

    def test_theil_sen_ignores_one_outlier(self):
        xs = list(range(10))
        ys = [2 * x for x in xs]
        ys[7] = 100
        self.assertEqual(stats.theil_sen(xs, ys), 2)

    def test_series_counts_due_minus_committed(self):
        self.assertEqual(stats.backlog_series([0, 10], [5, 30]),
                         [(0, 1), (5, 0), (10, 1), (30, 0)])


class DueTimeLatency(unittest.TestCase):
    def test_latency_runs_from_due_time_not_delivery(self):
        # the generator delivered file 1 late; its docs still count from due
        due = [0, 100, 200]
        moved = [0, 180, 200]
        done = [500, 500, 700]
        self.assertEqual(stats.due_latencies(due, done), [500, 400, 500])
        self.assertEqual(stats.lateness(due, moved), [0, 80, 0])

    def test_a_stall_counts_against_every_queued_doc(self):
        # a 2 s stall: every file due during it waits for the same commit
        due = [i * 100 for i in range(30)]
        done = [2500] * 25 + [2600 + i * 100 for i in range(5)]
        lat = stats.due_latencies(due, done)
        self.assertEqual(stats.median(lat), 1050)
        self.assertEqual(max(lat), 2500)

    def test_early_delivery_is_not_negative_lateness(self):
        self.assertEqual(stats.lateness([100], [90]), [0])


if __name__ == "__main__":
    unittest.main()
