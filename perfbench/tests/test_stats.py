"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import stats  # noqa: E402


class PercentileChoice(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(stats.percentile(xs, 0.5), 5.5)
        self.assertEqual(stats.percentile(xs, 0.0), 1)
        self.assertEqual(stats.percentile(xs, 1.0), 10)
        self.assertAlmostEqual(stats.percentile(xs, 0.9), 9.1)

    def test_named_percentile_kept_with_ten_beyond(self):
        # 100 samples: exactly 10 lie beyond p90
        self.assertEqual(stats.tail_quantile(100, 0.9), 0.9)
        self.assertEqual(stats.tail_quantile(1000, 0.99), 0.99)

    def test_lowered_until_ten_beyond(self):
        for n, want in ((99, 0.89), (50, 0.8), (53, 0.81), (500, 0.98)):
            q = stats.tail_quantile(n, 0.99 if n == 500 else 0.9)
            self.assertEqual(q, want, n)
            self.assertGreaterEqual(n * (1 - q), stats.MIN_BEYOND - 1e-9)

    def test_never_below_median(self):
        self.assertEqual(stats.tail_quantile(5, 0.9), 0.5)
        self.assertEqual(stats.tail_quantile(19, 0.99), 0.5)

    def test_tail_reports_the_quantile_used(self):
        xs = [float(i) for i in range(40)]
        v, q = stats.tail(xs, 0.9)
        self.assertEqual(q, 0.75)
        self.assertAlmostEqual(v, stats.percentile(xs, 0.75))

    def test_quartiles_match_statistics_module(self):
        xs = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
        q1, med, q3 = stats.quartiles(xs)
        self.assertEqual([q1, med, q3], statistics.quantiles(xs, n=4))
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, dur):
        return {"id": i, "parent": parent, "start_ms": start, "dur_ms": dur}

    def test_children_subtracted(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 20),
                 self.span(2, 0, 40, 30)]
        got = stats.self_times(spans)
        self.assertEqual(got[0], 50)
        self.assertEqual(got[1], 20)

    def test_overlapping_children_counted_once(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40),
                 self.span(2, 0, 30, 40)]  # covers 10..70
        self.assertEqual(stats.self_times(spans)[0], 40)

    def test_children_clipped_to_parent(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 90, 30)]
        self.assertEqual(stats.self_times(spans)[0], 90)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 0, 60),
                 self.span(2, 1, 10, 50)]
        got = stats.self_times(spans)
        self.assertEqual(got[0], 40)
        self.assertEqual(got[1], 10)
        self.assertEqual(got[2], 50)

    def test_construct_plan_exec_cover_the_query(self):
        spans = [self.span(0, -1, 0, 100.0), self.span(1, 0, 0.01, 30),
                 self.span(2, 0, 30.01, 10), self.span(3, 0, 40.01, 59.98)]
        self.assertLess(stats.self_times(spans)[0] / 100.0, 0.01)


class SustainedRate(unittest.TestCase):
    @staticmethod
    def commits(rps, lags_ms, period_ms=1000):
        """Commits every period_ms whose newest row is lag_ms old."""
        out = []
        for i, lag in enumerate(lags_ms):
            end = 10_000 + i * period_ms
            out.append({"end_ms": end, "max_ts": end - lag,
                        "min_ts": end - lag - period_ms, "rows": rps})
        return out

    def test_flat_backlog_is_sustained(self):
        cs = self.commits(1000, [500, 520, 480, 510, 490, 505])
        ok, growth = stats.sustained(cs, 1000, p99_ms=900, limit_ms=2000)
        self.assertTrue(ok)
        self.assertLess(abs(growth), 0.1 * 1000)

    def test_growing_backlog_is_not(self):
        # lag grows 400 ms per 1 s commit: the backlog grows 400 rows/s
        cs = self.commits(1000, [500, 900, 1300, 1700, 2100, 2500])
        ok, growth = stats.sustained(cs, 1000, p99_ms=900, limit_ms=100000)
        self.assertFalse(ok)
        self.assertAlmostEqual(growth, 400.0)

    def test_growth_at_the_tolerance_edge(self):
        cs = self.commits(1000, [500 + 100 * i for i in range(6)])
        ok, growth = stats.sustained(cs, 1000, p99_ms=0, limit_ms=1)
        self.assertAlmostEqual(growth, 100.0)
        self.assertTrue(ok)  # exactly 10% of the rate is still sustained

    def test_latency_limit_overrides_flat_backlog(self):
        cs = self.commits(1000, [500] * 6)
        ok, _ = stats.sustained(cs, 1000, p99_ms=2500, limit_ms=2000)
        self.assertFalse(ok)

    def test_too_few_commits(self):
        cs = self.commits(1000, [500, 500, 500])  # first one is skipped
        ok, growth = stats.sustained(cs, 1000, p99_ms=0, limit_ms=1)
        self.assertFalse(ok)
        self.assertNotEqual(growth, growth)  # NaN

    def test_first_commit_skipped(self):
        pts = stats.backlog_points(self.commits(1000, [9000, 500, 500]), 1000)
        self.assertEqual(len(pts), 2)
        self.assertEqual(pts[0][1], 500.0)

    def test_committed_rate_ignores_the_start_up_lag(self):
        # 1000 rows/s offered; the first commit returns 3 s after the
        # stream starts, then one commit per second keeps up
        cs = [{"end_ms": 3000 + 1000 * i, "max_id": 1999 + 1000 * i}
              for i in range(5)]
        self.assertAlmostEqual(stats.committed_rate(cs), 1000.0)

    def test_committed_rate_below_offered_when_falling_behind(self):
        cs = [{"end_ms": 3000 + 1000 * i, "max_id": 1999 + 800 * i}
              for i in range(5)]
        self.assertAlmostEqual(stats.committed_rate(cs), 800.0)
        self.assertEqual(stats.committed_rate(cs[:1]), 0.0)

    def test_uniform_latencies(self):
        lat = stats.uniform_latencies(2000, 0, 1000, 5)
        self.assertEqual(lat, [2000, 1750, 1500, 1250, 1000])
        self.assertEqual(stats.uniform_latencies(2000, 1000, 1000, 1), [1000])


if __name__ == "__main__":
    unittest.main()
