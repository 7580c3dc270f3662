"""Unit tests for the benchmark's metric rules: python3 -m unittest discover perfbench/tests"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics as M  # noqa: E402


def op(i, kind="batch", dur=1.0, ok=True, t0=1000, **kw):
    return dict({"ev": "op", "id": i, "kind": kind, "t0": t0, "dur": dur, "ok": ok}, **kw)


class TailRule(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 201))  # 200 samples: p95 leaves exactly 10 beyond
        v, p, n = M.tail(xs)
        self.assertEqual((p, n), (95.0, 200))
        self.assertAlmostEqual(v, M.percentile(xs, 95.0))

    def test_sample_count_moves_the_percentile(self):
        self.assertEqual(M.tail(list(range(100)))[1], 90.0)
        self.assertEqual(M.tail(list(range(99)))[1], 75.0)
        self.assertEqual(M.tail(list(range(1000)))[1], 99.0)
        self.assertEqual(M.tail(list(range(40)))[1], 75.0)
        self.assertEqual(M.tail(list(range(39)))[1], 50.0)

    def test_too_few_samples_fall_back_to_p50(self):
        v, p, n = M.tail([5.0, 1.0, 3.0])
        self.assertEqual((v, p, n), (3.0, 50.0, 3))

    def test_percentile_interpolates(self):
        self.assertEqual(M.percentile([1, 2, 3, 4], 50.0), 2.5)
        self.assertEqual(M.percentile([7], 99.0), 7)


class FailureAccounting(unittest.TestCase):
    def test_throwing_op_is_failed_and_never_timed(self):
        ev = [op(1, dur=2.0), op(2, dur=0.001, ok=False, err="boom"), op(3, dur=3.0)]
        ops, attempted, failed, reasons = M.outcomes(ev)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(sorted(M.durations(ops, "batch")), [2.0, 3.0])
        self.assertIn("boom", reasons[0])

    def test_wrong_answer_fails_its_op_retroactively(self):
        ev = [op(1, dur=0.01), op(2, dur=2.0),
              {"ev": "check", "name": "row_count", "op": 1, "ok": False, "why": "3 != 4"},
              {"ev": "check", "name": "row_count", "op": 2, "ok": True, "why": ""}]
        ops, attempted, failed, reasons = M.outcomes(ev)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertEqual(M.durations(ops, "batch"), [2.0])
        self.assertIn("3 != 4", reasons[0])

    def test_run_level_check_counts_as_an_operation(self):
        ev = [op(1), {"ev": "check", "name": "final_table", "op": 0, "ok": False, "why": "x"}]
        _, attempted, failed, _ = M.outcomes(ev)
        self.assertEqual((attempted, failed), (2, 1))

    def test_retryable_read_is_a_retry_not_a_failure(self):
        ev = [op(1, kind="read", ok=False, err="SparkException: [FAILED_READ_FILE.FILE_NOT_EXIST] x"),
              op(2, kind="range", ok=False,
                 err="SparkException: awaitResult / root cause FileNotFoundException: gone"),
              op(3, kind="read", dur=0.2),
              op(4, kind="point", ok=False, err="AnalysisException: [PATH_NOT_FOUND] Path does not exist"),
              op(5, kind="merge", ok=False, err="FILE_NOT_EXIST"),
              op(6, kind="read", ok=False,
                 err="SparkException: [FAILED_READ_FILE.NO_HINT] x / root cause NoSuchFileException: /t/f")]
        ops, attempted, failed, _ = M.outcomes(ev)
        self.assertEqual((attempted, failed), (2, 1))  # only reads may retry
        self.assertEqual(M.durations(ops, "read"), [0.2])

    def test_window_bounds_timings(self):
        ev = [op(1, t0=50), op(2, t0=150, dur=4.0), op(3, t0=250)]
        ops, _, _, _ = M.outcomes(ev)
        self.assertEqual(M.durations(ops, "batch", 100, 200), [4.0])


class IngestAttribution(unittest.TestCase):
    def test_files_map_to_the_batch_whose_cumulative_rows_reach_them(self):
        files = [{"file": k, "rows": 200} for k in range(4)]
        progress = [{"at": 10, "rows": 0}, {"at": 20, "rows": 400},
                    {"at": 30, "rows": 200}, {"at": 40, "rows": 200}]
        got = M.attribute_files(files, progress)
        self.assertEqual({k: v["at"] for k, v in got.items()}, {0: 20, 1: 20, 2: 30, 3: 40})

    def test_uncommitted_files_are_left_out(self):
        files = [{"file": 0, "rows": 100}, {"file": 1, "rows": 100}]
        got = M.attribute_files(files, [{"at": 5, "rows": 100}])
        self.assertEqual(list(got), [0])

    def test_file_split_across_batches_counts_at_the_last(self):
        files = [{"file": 0, "rows": 300}]
        got = M.attribute_files(files, [{"at": 5, "rows": 100}, {"at": 9, "rows": 200}])
        self.assertEqual(got[0]["at"], 9)


class OpenLoopLag(unittest.TestCase):
    def test_lag_runs_from_due_time_and_lateness_is_reported(self):
        # the generator got file 1 out 700 ms late: lag still counts from due
        files = [{"file": 0, "rows": 10, "due": 0, "landed": 5},
                 {"file": 1, "rows": 10, "due": 500, "landed": 1200}]
        progress = [{"at": 300, "rows": 10}, {"at": 1500, "rows": 10}]
        lags, late, backlog = M.ingest_lag(files, progress)
        self.assertEqual(lags, [0.3, 1.0])
        self.assertEqual(late, [5, 700])
        self.assertEqual(max(late), 700)
        self.assertEqual(backlog, 1)

    def test_backlog_counts_landed_but_uncommitted_files(self):
        files = [{"file": k, "rows": 1, "due": k * 100, "landed": k * 100} for k in range(3)]
        lags, _, backlog = M.ingest_lag(files, [{"at": 250, "rows": 3}])
        self.assertEqual(backlog, 3)
        self.assertEqual(lags, [0.25, 0.15, 0.05])


if __name__ == "__main__":
    unittest.main()
