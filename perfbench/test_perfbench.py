"""Unit tests of the benchmark's own helpers.

Run from the root of a checkout: python3 -m unittest perfbench/test_perfbench.py
(the digest test builds the harness and starts a small Spark session)."""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
from stats import backlog_growing, percentile  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        for p, n in ((50, 20), (75, 40), (90, 100), (95, 200)):
            self.assertIsNone(percentile(list(range(n - 1)), p), (p, n - 1))
            self.assertIsNotNone(percentile(list(range(n)), p), (p, n))

    def test_nearest_rank_of_unsorted_input(self):
        values = list(range(100, 0, -1))  # 100 .. 1
        self.assertEqual(percentile(values, 50), 50)
        self.assertEqual(percentile(values, 90), 90)
        self.assertIsNone(percentile([], 50))


class BacklogTest(unittest.TestCase):
    RATE = 20000.0

    def test_steady_sawtooth_is_not_growing(self):
        samples = [(0.5 * i, 10000 + (3000 if i % 2 else -3000)) for i in range(12)]
        self.assertFalse(backlog_growing(samples, self.RATE))

    def test_falling_behind_is_growing(self):
        samples = [(0.5 * i, 10000 + 0.3 * self.RATE * 0.5 * i) for i in range(12)]
        self.assertTrue(backlog_growing(samples, self.RATE))

    def test_slow_drift_within_tolerance(self):
        samples = [(0.5 * i, 10000 + 0.05 * self.RATE * 0.5 * i) for i in range(12)]
        self.assertFalse(backlog_growing(samples, self.RATE))

    def test_too_few_batches_is_growing(self):
        self.assertTrue(backlog_growing([(1.0, 5), (2.0, 5)], self.RATE))


class TimelineTest(unittest.TestCase):
    def test_event_latency_runs_from_due_time_to_batch_end(self):
        # 10 events/s from t=1000 ms; chunks of 5 events sent at 1450 and
        # 1950 ms; batch 0 emits events 0-4 at 1600 ms, batch 1 5-9 at 2300.
        run_ = {
            "phases": [{"name": "rung0", "rate": 10.0, "start_ms": 1000.0, "first": 0,
                        "count": 10}],
            "chunks": [[1450.0, 5], [1950.0, 10]],
            "batches": [
                {"id": 0, "start_ms": 1500.0, "durations": {"triggerExecution": 100},
                 "start_offset": -1, "end_offset": 0},
                {"id": 1, "start_ms": 2000.0, "durations": {"triggerExecution": 300},
                 "start_offset": 0, "end_offset": 1}],
        }
        tl = metrics.Timeline(run_)
        lat = tl.latencies(tl.phases[0])
        self.assertEqual(len(lat), 10)
        self.assertAlmostEqual(lat[0], 600.0)   # due 1000, emitted 1600
        self.assertAlmostEqual(lat[4], 200.0)   # due 1400
        self.assertAlmostEqual(lat[5], 800.0)   # due 1500, emitted 2300
        self.assertAlmostEqual(lat[9], 400.0)   # due 1900
        self.assertEqual(tl.backlog(tl.phases[0]), [(0.6, 0)])


class DigestTest(unittest.TestCase):
    def test_digest_ignores_row_order_but_not_content(self):
        classpath = build.build()
        work = os.path.join(build.build_dir(), "selftest")
        cmd = run.jvm_command(classpath, work, "perfbench.SelfTest", [work])
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
        self.assertEqual(out.returncode, 0, out.stdout[-2000:] + out.stderr[-2000:])
        self.assertIn("digest-selftest ok", out.stdout)


if __name__ == "__main__":
    unittest.main()
