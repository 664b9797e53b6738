"""Tests of the benchmark's statistics code.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_min_samples(self):
        self.assertEqual(stats.min_samples(50), 20)
        self.assertEqual(stats.min_samples(95), 200)
        self.assertEqual(stats.min_samples(99), 1000)

    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(range(19), 50), (None, 19))
        self.assertEqual(stats.percentile(range(1, 21), 50), (10, 20))
        self.assertEqual(stats.percentile(range(999), 99)[0], None)
        value, n = stats.percentile(range(1, 1001), 99)
        self.assertEqual((value, n), (990, 1000))
        # exactly MIN_BEYOND samples lie above the reported value
        self.assertEqual(sum(1 for x in range(1, 1001) if x > value), stats.MIN_BEYOND)

    def test_sample_count_ignores_missing(self):
        xs = [float("nan"), None] + list(range(1, 21))
        self.assertEqual(stats.percentile(xs, 50), (10, 20))

    def test_empty(self):
        self.assertEqual(stats.percentile([], 50), (None, 0))


class OpenLoopLatency(unittest.TestCase):
    def test_timed_from_due_not_send(self):
        # one FIFO server, 1 ms per request, a 300 ms stall on request 3;
        # requests are due every 10 ms and sent on time (open loop)
        due = [10.0 * i for i in range(40)]
        done, free = [], 0.0
        for i, d in enumerate(due):
            start = max(d, free)
            free = start + (300.0 if i == 3 else 1.0)
            done.append(free)
        lat = stats.open_loop_latencies(due, done)
        # every request due during the stall is inflated...
        stalled = [i for i in range(4, 40) if due[i] < 10.0 * 3 + 300.0]
        self.assertGreaterEqual(len(stalled), 25)
        self.assertTrue(all(lat[i] > 10.0 for i in stalled))
        # ...and the p50 of the run shows it
        self.assertGreater(stats.percentile(lat, 50)[0], 50.0)

    def test_unfinished_requests_are_dropped(self):
        self.assertEqual(stats.open_loop_latencies([0, 10, 20], [5, None, float("nan")]), [5])


class FailureCounting(unittest.TestCase):
    def test_rate(self):
        self.assertEqual(stats.failure_rate(100, 3), 0.03)
        self.assertEqual(stats.failure_rate(5, 0), 0.0)

    def test_nothing_attempted_is_failure(self):
        self.assertEqual(stats.failure_rate(0, 0), 1.0)

    def test_inconsistent_counts(self):
        for a, f in ((3, 4), (-1, 0), (2, -1)):
            with self.assertRaises(ValueError):
                stats.failure_rate(a, f)

    def test_ingest_counts_missing_and_late_markers(self):
        n = 40
        due = [i * 20.0 for i in range(n)]
        vis = [d + 2000.0 for d in due]
        vis[3] = None                                  # never returned by /v1/logs
        vis[7] = due[7] + run.VISIBLE_DEADLINE_MS + 1  # returned too late
        raw = {"due_ms": due, "sent_ms": due, "sink_in_ms": due, "sink_out_ms": due,
               "ack_ms": [d + 5.0 for d in due], "visible_ms": vis, "status": [0] * n,
               "written": [100] * n, "rows_per_write": 100, "warm": 0,
               "window_ms": [0.0, 800.0], "batches": [{"end_ms": 900.0, "rows": 4000}],
               "polls": 10, "poll_failures": 0, "table_rows": 4100, "expected_rows": 4100,
               "setup_s": [1.0]}
        _, _, attempted, failed, details = run.ingest_metrics(raw, 0)
        self.assertEqual((attempted, failed), (n + 10 + 1, 2))
        self.assertEqual(details["failures"]["late"], 1)
        self.assertEqual(details["failures"]["never_visible"], 1)


class HostScale(unittest.TestCase):
    def test_slow_host_scales_times_down(self):
        # the fastest round counts: a round slowed by a busy thread does not
        raw = {"canary_ms": [run.CANARY_REF_MS * 2] * 4 + [run.CANARY_REF_MS * 9]}
        self.assertAlmostEqual(run.host_scale(raw), 0.5)

    def test_reference_host_is_unscaled(self):
        self.assertAlmostEqual(run.host_scale({"canary_ms": [run.CANARY_REF_MS]}), 1.0)


class CommittedRate(unittest.TestCase):
    def test_interpolates_between_batch_ends(self):
        batches = [{"end_ms": 1000.0, "rows": 100}, {"end_ms": 2000.0, "rows": 100},
                   {"end_ms": 3000.0, "rows": 100}]
        self.assertEqual(run.committed_at(batches, 1500.0), 150.0)
        self.assertEqual(run.committed_at(batches, 500.0), 50.0)
        self.assertEqual(run.committed_at(batches, 9000.0), 300)
        # a steady 100 rows/s whichever way the window falls on the batches
        for w0 in (1000.0, 1250.0, 1999.0):
            self.assertAlmostEqual(run.committed_at(batches, w0 + 1000.0) -
                                   run.committed_at(batches, w0), 100.0)


class Spread(unittest.TestCase):
    def test_iqr_over_median(self):
        self.assertEqual(stats.spread([5.0] * 10), 0.0)
        self.assertTrue(math.isclose(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                                     (8.25 - 2.75) / 5.5))


if __name__ == "__main__":
    unittest.main()
