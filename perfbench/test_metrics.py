"""Self-tests of the benchmark's metric math: python3 perfbench/test_metrics.py"""
import unittest

import metrics


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond_the_cut(self):
        value, pct, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        value, pct, n = metrics.tail(list(range(1000)))
        self.assertEqual((value, pct, n), (989, 99.0, 1000))

    def test_order_of_input_does_not_matter(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail(xs[::-1]), metrics.tail(xs))

    def test_small_sample_reports_the_maximum(self):
        # 50 samples: ten beyond would be p80, below the p90 floor
        self.assertEqual(metrics.tail(list(range(50))), (49, 100.0, 50))
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(metrics.tail([]), (0.0, 100.0, 0))


class DriverGap(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_gap_is_window_minus_job_union(self):
        # jobs overlap and one starts before the window: covered 10..40
        jobs = [(5, 30), (20, 40), (60, 70)]
        self.assertEqual(metrics.driver_gap((10, 100), jobs), 90 - 30 - 10)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(metrics.driver_gap((0, 50), []), 50)

    def test_job_outside_window_is_ignored(self):
        self.assertEqual(metrics.driver_gap((0, 50), [(60, 80)]), 50)


class OpenLoopLatency(unittest.TestCase):
    def test_latency_runs_from_due_time(self):
        dues = metrics.paced_dues(1_000_000, 1000, 0, 4)
        self.assertEqual(dues, [1_000_000, 1_001_000, 1_002_000, 1_003_000])
        adds = [{"off": 0, "first": 0, "n": 2, "due": dues[:2]},
                {"off": 1, "first": 2, "n": 2, "due": dues[2:]}]
        batches = [{"start_off": -1, "end_off": 1, "commit_us": 1_010_000}]
        self.assertEqual(metrics.event_latencies(adds, batches),
                         [10_000, 9_000, 8_000, 7_000])

    def test_stalled_batch_delays_later_events(self):
        # batch 1 stalls until t=500ms; the events due meanwhile are added
        # on schedule and wait for batch 2, which commits at 520ms: their
        # latency counts from when they were due, not from batch 2's start
        adds = [{"off": i, "first": i, "n": 1, "due": i * 100_000} for i in range(5)]
        batches = [{"start_off": -1, "end_off": 0, "commit_us": 500_000},
                   {"start_off": 0, "end_off": 4, "commit_us": 520_000}]
        self.assertEqual(metrics.event_latencies(adds, batches),
                         [500_000, 420_000, 320_000, 220_000, 120_000])

    def test_uncommitted_events_are_absent(self):
        adds = [{"off": 0, "first": 0, "n": 3, "due": 0}]
        self.assertEqual(metrics.event_latencies(adds, []), [])


class Backlog(unittest.TestCase):
    def test_flat_backlog_does_not_grow(self):
        samples = [(t, 100 + (t % 3) * 50) for t in range(30)]
        self.assertFalse(metrics.backlog_grows(samples, rate=1000))

    def test_rising_backlog_grows(self):
        samples = [(t, 200 * t) for t in range(30)]
        self.assertTrue(metrics.backlog_grows(samples, rate=1000))

    def test_growth_within_slack_is_not_growth(self):
        samples = [(t, 10 * t) for t in range(30)]
        self.assertFalse(metrics.backlog_grows(samples, rate=1000))

    def test_too_few_samples(self):
        self.assertFalse(metrics.backlog_grows([(0, 0), (1, 10 ** 6)], rate=1))


class Classify(unittest.TestCase):
    def test_busy_tasks_split_on_cpu_share(self):
        self.assertEqual(metrics.classify(1.0, 0.1, 3.0, 2.0), "cpu")
        self.assertEqual(metrics.classify(1.0, 0.1, 3.0, 0.5), "shuffle")

    def test_idle_cores_split_on_catalyst(self):
        self.assertEqual(metrics.classify(1.0, 0.5, 0.2, 0.2), "planning")
        self.assertEqual(metrics.classify(1.0, 0.1, 0.2, 0.2), "dispatch")


if __name__ == "__main__":
    unittest.main()
