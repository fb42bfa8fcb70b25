"""The benchmark's own tests.

    python3 -m unittest perfbench/test_perfbench.py

The helpers are tested in Python; the JVM self-test (a tiny-size smoke
pass of each workload, then every output check handed a deliberately
wrong oracle) runs through `run.py --selftest`.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartiles_match_statistics_quantiles(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        self.assertEqual(stats.quartiles(xs), (11.75, 17.25))
        self.assertEqual(stats.quartiles([5.0]), (5.0, 5.0))

    def test_spread_is_iqr_over_median(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        self.assertAlmostEqual(stats.spread(xs), (17.25 - 11.75) / 14.5)
        self.assertEqual(stats.spread([7, 7, 7, 7]), 0.0)


class EndToEndTest(unittest.TestCase):
    def raw(self, passes):
        return {"setup": {"ready_s": 2.0, "reps_s": [9.0, 1.0, 3.0], "once_s": 4.0,
                          "warm_s": 5.0},
                "passes": passes}

    @staticmethod
    def sample(wall, items=10, heap=100.0, traced=False, warm=False, errors=()):
        return {"wall_s": wall, "items": items, "heap_mb": heap, "traced": traced,
                "warm": warm, "errors": list(errors)}

    def test_setup_is_ready_plus_median_rep_plus_once_plus_warm(self):
        m = run.end_to_end(self.raw([self.sample(2.0)]))
        self.assertEqual(m["setup_s"], 2.0 + 3.0 + 4.0 + 5.0)

    def test_failed_traced_and_warm_passes_are_not_timed_as_successes(self):
        good = self.sample(2.0)
        bad = self.sample(0.1, items=0, heap=1.0, errors=["x"])
        traced = self.sample(9.0, heap=900.0, traced=True)
        warm = self.sample(7.0, heap=700.0, warm=True)
        m = run.end_to_end(self.raw([warm, good, bad, traced, good]))
        self.assertEqual(m["wall_s"], 2.0)
        self.assertEqual(m["items_per_s"], 5.0)
        self.assertEqual(m["peak_heap_mb"], 100.0)

    def test_times_are_medians_and_the_heap_peak_is_the_largest(self):
        passes = [self.sample(w, heap=h) for w, h in ((3.0, 300.0), (1.0, 500.0), (2.0, 400.0))]
        m = run.end_to_end(self.raw(passes))
        self.assertEqual(m["wall_s"], 2.0)
        self.assertEqual(m["peak_heap_mb"], 500.0)

    def test_no_good_pass_reports_no_timing(self):
        bad = self.sample(0.1, errors=["x"])
        m = run.end_to_end(self.raw([self.sample(3.0, warm=True), bad]))
        self.assertIsNone(m["wall_s"])
        self.assertIsNone(m["items_per_s"])
        self.assertIsNone(m["peak_heap_mb"])


class JvmSelfTest(unittest.TestCase):
    def test_selftest(self):
        r = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--selftest"],
                           cwd=os.path.dirname(run.HERE), capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:] + r.stderr[-3000:])
        self.assertIn("SELFTEST OK", r.stdout)


if __name__ == "__main__":
    unittest.main()
