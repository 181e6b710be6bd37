"""Tests of the benchmark's arithmetic and output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import unittest

import numpy as np
import pandas as pd

import checks
import report
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 99), 99)
        self.assertEqual(stats.percentile(v, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.summary(list(range(1000)), 99)["tail"], 989)
        self.assertEqual(stats.summary(list(range(1000)), 99)["highest_p"], 99)
        self.assertEqual(stats.summary(list(range(100)), 99)["highest_p"], 90)
        s = stats.summary(list(range(30)), 90)
        self.assertIsNone(s["tail"])
        self.assertEqual(s["highest_p"], 50)
        self.assertEqual(s["n"], 30)


class BacklogTest(unittest.TestCase):
    # a 4000 msg/s stream acked every 0.6 s: the backlog is a sawtooth
    t = [i * 0.01 for i in range(300)]

    def test_cadence_swing_is_not_growth(self):
        b = [(i % 60) * 40 for i in range(300)]
        self.assertFalse(stats.backlog_grows(self.t, b, rate=4000))

    def test_rising_backlog_grows(self):
        b = [1000 * x + (i % 60) * 40 for i, x in enumerate(self.t)]
        self.assertTrue(stats.backlog_grows(self.t, b, rate=4000))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [{"id": 1, "parent": 0, "start": 0, "end": 100},
                 {"id": 2, "parent": 1, "start": 10, "end": 30},
                 {"id": 3, "parent": 1, "start": 20, "end": 40},
                 {"id": 4, "parent": 1, "start": 90, "end": 120},
                 {"id": 5, "parent": 2, "start": 12, "end": 14}]
        s = stats.self_times(spans)
        self.assertEqual(s[1], 100 - 30 - 10)
        self.assertEqual(s[2], 18)
        self.assertEqual(s[4], 30)


class AckCheckTest(unittest.TestCase):
    intended = np.array([0, 1, 2, 0], dtype=np.int8)

    def test_clean(self):
        self.assertEqual(checks.acks(self.intended, [1, 1, 1, 1], self.intended), [])

    def test_dropped_ack_is_caught(self):
        f = checks.acks(self.intended, [1, 0, 1, 1], self.intended)
        self.assertEqual(len(f), 1)
        self.assertIn("message 1 acked 0 times", f[0])

    def test_duplicated_ack_is_caught(self):
        f = checks.acks(self.intended, [1, 1, 1, 2], self.intended)
        self.assertEqual(len(f), 1)
        self.assertIn("message 3 acked 2 times", f[0])

    def test_wrong_status_is_caught(self):
        f = checks.acks(self.intended, [1, 1, 1, 1], np.array([0, 2, 2, 0]))
        self.assertEqual(f, ["message 1 acked crashed, intended failed"])


class BatchCheckTest(unittest.TestCase):
    def test_labels_and_membership(self):
        due = np.array([0, 1000, 2000, 3000, 4000], dtype=np.float64)
        flush = np.array([0, 0, 0, 0, 1], dtype=np.int8)
        ok, lat = checks.batches(5, [5000, 2_000_000, 4500], ["size", "timeout", "flush"],
                                 [[0, 1], [2], [3, 4]], due, flush, size=2, timeout_ms=1000)
        self.assertEqual(ok, [])
        self.assertEqual(lat, [4.0, 998.0, 0.5])

    def test_missing_duplicate_and_early_timeout(self):
        due = np.zeros(3)
        f, _ = checks.batches(3, [10, 20], ["timeout", "size"], [[0], [0, 1]], due,
                              np.zeros(3, dtype=np.int8), size=2, timeout_ms=1000)
        self.assertEqual(len(f), 3)  # early timeout label, message 0 twice, message 2 never


class JoinReferenceTest(unittest.TestCase):
    def test_matches_brute_force(self):
        rng = np.random.default_rng(5)
        n, within = 400, 50
        left = (rng.integers(0, 1000, n), rng.integers(0, 7, n).astype(np.int32), (rng.random(n) < 0.1).astype(np.int8))
        right = (rng.integers(0, 1000, n), rng.integers(0, 7, n).astype(np.int32), (rng.random(n) < 0.1).astype(np.int8))
        count, checksum = 0, 0
        for i in range(n):
            for j in range(n):
                if (not left[2][i] and not right[2][j] and left[1][i] == right[1][j]
                        and left[0][i] <= right[0][j] <= left[0][i] + within):
                    count += 1
                    checksum += (i << 20) + j
        self.assertEqual(checks.join_reference(left, right, within), (count, checksum))


class OracleCompareTest(unittest.TestCase):
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})

    def test_equal_in_any_order(self):
        self.assertIsNone(checks.frames(self.oracle, self.oracle.iloc[::-1][["v", "k"]]))

    def test_wrong_row_is_caught(self):
        bad = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "x", "c"]})
        self.assertIn("column v", checks.frames(self.oracle, bad))

    def test_missing_row_is_caught(self):
        self.assertIn("row count", checks.frames(self.oracle, self.oracle.iloc[:2]))


class ReportTest(unittest.TestCase):
    @staticmethod
    def runs(fail_warm):
        out = [{"name": f"q{i}", "pass": 0, "ok": True, "ms": 100.0 + i} for i in range(10)]
        for p in range(1, 5):
            out += [{"name": f"q{i}", "pass": p, "ok": True, "ms": 10.0 * p + i} for i in range(10)]
        for r in out[10:10 + fail_warm]:
            r["ok"], r["error"] = False, "RuntimeException: boom"
        return out

    def report(self, runs):
        run = report.Run("query_suite")
        run.attempted = len(runs)
        run.failures += [f"{r['name']} pass {r['pass']}: {r['error']}" for r in runs if not r["ok"]]
        report.query_latency(run, runs)
        for key in ("setup_s", "peak_rss_mb"):
            run.e2e(key, 1.0, 1)
        return report.summarise(run, 0)

    def test_failed_warm_query_stays_in_the_sample(self):
        rep = self.report(self.runs(fail_warm=1))
        self.assertEqual(rep["failed"], 1)
        self.assertEqual(rep["metrics"]["latency_tail_ms"]["n"], 40)
        self.assertIsNotNone(rep["metrics"]["latency_tail_ms"]["value"])
        with contextlib.redirect_stdout(io.StringIO()) as out:
            report.show(rep, untraced=None)
        self.assertIn("FAILED q0 pass 1", out.getvalue())
        self.assertFalse(report.contract_line(rep, 0)["correct"])

    def test_missing_tail_fails_the_run_but_still_reports(self):
        runs = self.runs(fail_warm=0)[:-1]
        rep = self.report(runs)
        self.assertIsNone(rep["metrics"]["latency_tail_ms"]["value"])
        self.assertEqual(rep["failed"], 1)
        with contextlib.redirect_stdout(io.StringIO()) as out:
            report.show(rep, untraced=None)
        self.assertIn("missing", out.getvalue())
        line = report.contract_line(rep, 0)
        self.assertFalse(line["correct"])
        self.assertEqual(set(line["metrics"]), set(report.END_TO_END))


class BenchmarkFileTest(unittest.TestCase):
    def test_lists_exactly_the_reported_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], list(report.END_TO_END.items()))
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]}, report.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
