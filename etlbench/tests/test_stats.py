"""Tests of the harness's own arithmetic.

    python3 -m unittest discover -s etlbench/tests
"""
import os
import random
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import check  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class OrderStatistics(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [7.0, 1.0, 3.0, 9.0, 5.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        # exclusive method: q1 of 1..10 is 2.75, q3 is 8.25
        self.assertEqual(stats.quartiles(xs), (2.75, 5.5, 8.25))

    def test_iqr_share(self):
        self.assertAlmostEqual(stats.iqr_share(list(range(1, 11))), (8.25 - 2.75) / 5.5)


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        # p90 leaves exactly 10 above it; p95 would leave only 5
        self.assertEqual(stats.tail_percentile(xs), (90, 90))

    def test_falls_back_to_lower_percentile(self):
        xs = list(range(1, 41))  # 40 samples: p75 leaves 10 above
        self.assertEqual(stats.tail_percentile(xs), (75, 30))

    def test_none_when_too_few(self):
        self.assertIsNone(stats.tail_percentile(list(range(15))))

    def test_thousand_samples_reach_p99(self):
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        # pass 0..10; jobs cover 1..4 (two overlapping) and 6..7
        jobs = [(1, 3), (2, 4), (6, 7)]
        self.assertEqual(stats.driver_gap(0, 10, jobs), 10 - 4)

    def test_driver_gap_clips_jobs_to_the_pass(self):
        self.assertEqual(stats.driver_gap(0, 10, [(-5, 2), (9, 20)]), 10 - 3)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 1, "parent": 0, "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "start_ms": 10, "end_ms": 40},
            {"id": 3, "parent": 1, "start_ms": 30, "end_ms": 50},
            {"id": 4, "parent": 2, "start_ms": 15, "end_ms": 20},
        ]
        self.assertEqual(stats.self_times(spans), {1: 60, 2: 25, 3: 20, 4: 5})


class TraceOverhead(unittest.TestCase):
    def test_linear_drift_cancels(self):
        # untraced passes drift down 1 s a pass; traced passes cost 0.5 s more
        passes = [{"s": 10 - i + (0.5 if i % 2 else 0), "traced": bool(i % 2)}
                  for i in range(7)]
        self.assertAlmostEqual(stats.trace_overhead(passes), 0.5)


class FailureCount(unittest.TestCase):
    @staticmethod
    def _jvm(errors, traced=False):
        ops = [{"name": "corpus", "error": errors[0]},
               {"name": "q30_exact_dedup", "error": errors[1]}]
        return {"passes": [{"phase": "warmup", "traced": False, "ops": ops},
                           {"phase": "timed", "traced": False, "ops": ops},
                           {"phase": "timed", "traced": traced, "ops": ops}]}

    def test_raised_operations_count_once_per_timed_pass(self):
        jvm = self._jvm([None, "boom"])
        self.assertEqual(run.count_failures("corpus_dedup", jvm, {}), (4, 2))

    def test_mismatch_fails_the_operation_that_wrote_it_in_each_mode(self):
        report = {"corpus": {"ok": True}, "q30_exact_dedup": {"ok": False}}
        jvm = self._jvm([None, None], traced=True)
        self.assertEqual(run.count_failures("corpus_dedup", jvm, report), (4, 2))

    def test_daily_outputs_belong_to_the_pass(self):
        ops = [{"name": "daily_etl", "error": None}]
        jvm = {"passes": [{"phase": "timed", "traced": False, "ops": ops}] * 3}
        report = {"testpilot": {"ok": False}, "profile": {"ok": False}}
        self.assertEqual(run.count_failures("daily_etl", jvm, report), (3, 1))


class Digest(unittest.TestCase):
    def setUp(self):
        self.con = check.connect()

    def tearDown(self):
        self.con.close()

    def _digest(self, rows):
        values = ", ".join(
            "(" + ", ".join("NULL" if v is None else repr(v) for v in r) + ")"
            for r in rows)
        return check.digest(self.con, f"SELECT * FROM (VALUES {values}) t(a, b, c)")

    def test_independent_of_row_order(self):
        rows = [(i, i / 7, f"s{i % 5}") for i in range(200)] + [(1, None, "dup")] * 2
        shuffled = rows[:]
        random.Random(3).shuffle(shuffled)
        self.assertEqual(self._digest(rows), self._digest(shuffled))

    def test_sensitive_to_values_and_multiplicity(self):
        rows = [(1, 0.5, "x"), (2, 1.5, "y")]
        self.assertNotEqual(self._digest(rows), self._digest([(1, 0.5, "x"), (2, 1.5, "z")]))
        self.assertNotEqual(self._digest(rows), self._digest(rows + [(2, 1.5, "y")]))

    def test_independent_of_column_order_and_engine_types(self):
        a = check.digest(self.con, "SELECT CAST(5 AS INTEGER) AS n, "
                         "DATE '2024-01-02' AS day, CAST(1.25 AS DECIMAL(9, 2)) AS v")
        b = check.digest(self.con, "SELECT 1.25::DOUBLE AS v, '2024-01-02' AS day, "
                         "CAST(5 AS HUGEINT) AS n")
        self.assertEqual(a, b)

    def test_float_noise_below_nine_digits_is_ignored(self):
        a = check.digest(self.con, "SELECT 0.1::DOUBLE + 0.2::DOUBLE AS x")
        b = check.digest(self.con, "SELECT 0.3 AS x")
        self.assertEqual(a, b)


if __name__ == "__main__":
    unittest.main()
