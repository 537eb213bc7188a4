"""Tests of the benchmark's own arithmetic and of its failure exits.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import io
import os
import shutil
import tempfile
import unittest

import benchlib
import run


def batch(start, commit, traffic):
    return {"start_ms": start, "commit_ms": commit, "offsets": {"traffic": traffic},
            "duration_ms": {"triggerExecution": commit - start, "walCommit": 5,
                            "queryPlanning": 7, "addBatch": commit - start - 20},
            "state_commit_ms": 3, "state_rows": 10, "state_bytes": 1000,
            "dropped": 0, "rows_out": 1, "input_rows": 0, "id": 0}


class EventLatencyTest(unittest.TestCase):
    def test_offsets_map_each_send_to_the_batch_that_consumed_it(self):
        # sends 0..3; row i of a send was scheduled at first + i * gap
        sends = [[0, 0.0, 1.0, 2, 2.0, 2.1, 0],
                 [1, 10.0, 1.0, 1, 11.0, 11.2, 0],
                 [2, 20.0, 0.0, 1, 20.0, 20.0, 1],
                 [3, 30.0, 0.0, 3, 30.0, 30.0, 1]]
        batches = [batch(0, 100.0, [-1, 1]), batch(100, 250.0, [1, 2])]
        events, uncommitted = benchlib.event_latencies({"traffic": sends}, batches)
        self.assertEqual(sorted(events), sorted([
            (0, 0.0, 100.0), (0, 1.0, 99.0), (0, 10.0, 90.0), (1, 20.0, 230.0)]))
        self.assertEqual(uncommitted, {1: 3})

    def test_a_send_outside_every_batch_range_is_uncommitted(self):
        sends = [[5, 0.0, 0.0, 4, 0.0, 0.0, 2]]
        events, uncommitted = benchlib.event_latencies(
            {"traffic": sends}, [batch(0, 10.0, [-1, 4])])
        self.assertEqual(events, [])
        self.assertEqual(uncommitted, {2: 4})


class TailQuantileTest(unittest.TestCase):
    def test_highest_quantile_keeps_ten_samples_beyond_it(self):
        for n in (20, 30, 57, 100, 999, 1000, 5000):
            q = benchlib.tail_quantile(n)
            self.assertGreaterEqual(n * (1 - q) + 1e-9, 10, n)
            self.assertLessEqual(q, 0.99)
        self.assertEqual(benchlib.tail_quantile(1000), 0.99)
        self.assertAlmostEqual(benchlib.tail_quantile(100), 0.9)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(benchlib.tail_quantile(5), 0.5)
        self.assertIsNone(benchlib.tail_quantile(0))

    def test_quantile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(benchlib.quantile(xs, 0.5), 50)
        self.assertEqual(benchlib.quantile(xs, 0.99), 99)
        self.assertEqual(benchlib.quantile([7], 0.99), 7)


def series(rate, duration_s, batch_ms, load=0.0, step=0, start=0.0):
    """Events of one step at `rate`/s, and micro-batches back to back that
    each take what arrived while the previous one ran. A batch lasts
    `batch_ms` plus `load` times the previous batch: the per-row work of
    the rows that queued meanwhile. `load` >= 1 is an overload."""
    gap = 1000.0 / rate
    scheds = [start + i * gap for i in range(int(duration_s * rate))]
    commits, t, d = [], start, batch_ms
    while len(commits) < 2 or commits[-2] <= scheds[-1]:
        t += d
        commits.append(t)
        d = batch_ms + load * d
    events = []
    for s in scheds:
        j = next(j for j, c in enumerate(commits) if c > s)
        events.append((step, s, commits[j + 1] - s))
    return events, commits


class SustainedRuleTest(unittest.TestCase):
    def test_steady_batches_sustain_the_rate(self):
        events, commits = series(1000, 20, 2000.0, load=0.3)
        v = benchlib.step_verdict({"rate": 1000, "start_ms": 0.0, "end_ms": 20000.0},
                                  events, commits)
        self.assertTrue(v["sustained"], v)

    def test_lengthening_batches_mean_a_growing_backlog(self):
        events, commits = series(1000, 20, 1000.0, load=3.0)
        v = benchlib.step_verdict({"rate": 1000, "start_ms": 0.0, "end_ms": 20000.0},
                                  events, commits)
        self.assertFalse(v["sustained"], v)
        self.assertGreater(v["growth_eps"], 500)

    def test_latency_over_the_limit_fails_the_step(self):
        events, commits = series(10, 200, 61000.0)
        v = benchlib.step_verdict({"rate": 10, "start_ms": 0.0, "end_ms": 200000.0},
                                  events, commits)
        self.assertFalse(v["sustained"])

    def test_uncommitted_events_fail_the_step(self):
        events, commits = series(1000, 5, 500.0)
        v = benchlib.step_verdict({"rate": 1000, "start_ms": 0.0, "end_ms": 5000.0},
                                  events, commits, uncommitted=3)
        self.assertFalse(v["sustained"])

    def test_highest_sustained_step_is_reported(self):
        e0, c0 = series(100, 10, 1000.0, step=0)
        e1, c1 = series(400, 10, 1000.0, step=1, start=10000.0)
        e2, c2 = series(1600, 10, 1000.0, load=3.0, step=2, start=20000.0)
        steps = [{"rate": 100, "start_ms": 0.0, "end_ms": 10000.0},
                 {"rate": 400, "start_ms": 10000.0, "end_ms": 20000.0},
                 {"rate": 1600, "start_ms": 20000.0, "end_ms": 30000.0}]
        rate, verdicts = benchlib.sustained_rate(steps, e0 + e1 + e2, sorted(c0 + c1 + c2))
        self.assertEqual(rate, 400)
        self.assertEqual([v["sustained"] for v in verdicts], [True, True, False])

    def test_a_failing_lower_step_caps_the_rate(self):
        e0, c0 = series(100, 10, 1000.0, step=0)
        e1, c1 = series(400, 10, 1000.0, load=3.0, step=1, start=10000.0)
        e2, c2 = series(1600, 10, 1000.0, step=2, start=20000.0)
        steps = [{"rate": 100, "start_ms": 0.0, "end_ms": 10000.0},
                 {"rate": 400, "start_ms": 10000.0, "end_ms": 20000.0},
                 {"rate": 1600, "start_ms": 20000.0, "end_ms": 30000.0}]
        rate, verdicts = benchlib.sustained_rate(steps, e0 + e1 + e2, sorted(c0 + c1 + c2))
        self.assertEqual([v["sustained"] for v in verdicts], [True, False, True])
        self.assertEqual(rate, 100)

    def test_a_failing_base_step_reports_zero(self):
        events, commits = series(1000, 20, 1000.0, load=3.0)
        rate, _ = benchlib.sustained_rate(
            [{"rate": 1000, "start_ms": 0.0, "end_ms": 20000.0}], events, commits)
        self.assertEqual(rate, 0)

    def test_a_short_step_is_judged_against_base_batch_times(self):
        # one commit inside the step, so no backlog slope: its events must
        # commit within SHORT_STEP_BATCHES base-step batch durations
        step = {"rate": 4000, "start_ms": 0.0, "end_ms": 500.0}
        events = [(1, float(t), 2500.0 - t) for t in range(500)]
        kept = benchlib.step_verdict(step, events, [250.0, 2500.0], base_batch_ms=1000.0)
        self.assertIsNone(kept["growth_eps"])
        self.assertTrue(kept["sustained"], kept)
        slow = benchlib.step_verdict(step, events, [250.0, 2500.0], base_batch_ms=700.0)
        self.assertFalse(slow["sustained"], slow)
        self.assertEqual(slow["limit_ms"], benchlib.SHORT_STEP_BATCHES * 700.0)


class ClosedLoopTest(unittest.TestCase):
    def test_tail_is_the_slowest_operation_of_a_pass_over_passes(self):
        raw = {"passes": [3.0, 4.0, 5.0], "rows": 600,
               "operations": [[100.0, 900.0, 2000.0], [100.0, 1000.0, 2900.0],
                              [200.0, 1100.0, 3700.0]]}
        e2e, detail = benchlib.closed_loop_metrics(raw)
        self.assertEqual(e2e["latency_p99_ms"], 2900.0)
        self.assertEqual(e2e["latency_p50_ms"], 1000.0)
        self.assertEqual(e2e["wall_s"], 4.0)
        self.assertEqual(e2e["sustained_eps"], 150.0)
        self.assertEqual(detail["operations_per_pass"], [3, 3, 3])


class CorpusTest(unittest.TestCase):
    def test_the_corpus_has_the_shape_of_the_documents_tables(self):
        import corpus
        tmp = tempfile.mkdtemp()
        try:
            path = os.path.join(tmp, "documents.parquet")
            self.assertEqual(corpus.write(1, path), corpus.DOCUMENTS)
            f = corpus.stats(path)
        finally:
            shutil.rmtree(tmp)
        # sf0.001 / sf0.01 / sf0.1 read 31 tokens, 5 % near-duplicates,
        # prefix tokens in 75-76 % of documents, 29.5-30.9 % candidate
        # pairs and 7.2-8.8 % result pairs
        self.assertEqual(f["distinct_tokens"], 31)
        self.assertAlmostEqual(f["near_duplicate_share"], 0.05)
        self.assertTrue(0.70 <= f["prefix_token_df_median_share"] <= 0.80, f)
        self.assertTrue(0.25 <= f["q124_candidate_pair_share"] <= 0.35, f)
        self.assertTrue(0.06 <= f["q124_result_pair_share"] <= 0.10, f)
        self.assertEqual(corpus.documents(1), corpus.documents(1))


def stream_raw(check_ok):
    sends = [[1, 1000.0, 1.0, 10, 1010.0, 1010.0, 0], [2, 2000.0, 1.0, 10, 2010.0, 2010.0, 0]]
    return {
        "timed_start_ms": 1000.0, "timed_end_ms": 5000.0, "peak_rss_mb": 100.0,
        "check": {"ok": check_ok, "detail": "ok" if check_ok else "rows differ"},
        "stream": {"steps": [{"rate": 1000, "start_ms": 1000.0, "end_ms": 2500.0},
                             {"rate": 4000, "start_ms": 2500.0, "end_ms": 3000.0}],
                   "chunks": {"traffic": sends},
                   "batches": [batch(1000.0, 1900.0, [0, 1]), batch(1900.0, 2800.0, [1, 2])],
                   "too_late": 0, "out_of_order": 0, "local1_batch_ms": []},
        "spark": {}}


class ReportTest(unittest.TestCase):
    def args(self, trace=0):
        return run.parse(["--workload", "mood_stream", "--seed", "1", "--seconds", "3",
                          "--trace", str(trace)])

    def test_a_matching_run_prints_every_metric_and_exits_zero(self):
        _, line, code = run.report(self.args(), stream_raw(True), 1.5)
        self.assertEqual(code, 0)
        self.assertTrue(line["correct"])
        self.assertEqual(set(line["metrics"]), set(run.END_TO_END))
        _, line, _ = run.report(self.args(trace=1), stream_raw(True), 1.5)
        self.assertEqual(set(line["metrics"]), set(run.PER_LAYER))

    def test_a_mismatch_makes_the_command_fail(self):
        detail, line, code = run.report(self.args(), stream_raw(False), 1.5)
        self.assertNotEqual(code, 0)
        self.assertFalse(line["correct"])
        self.assertIn("rows differ", detail["problems"])

    def test_batch_counts_that_disagree_are_a_mismatch(self):
        tmp = tempfile.mkdtemp()
        try:
            import duckdb
            os.makedirs(os.path.join(tmp, "mood.parquet"))
            duckdb.sql("SELECT TIMESTAMP '2025-06-20 10:00:00' AS event_time, 'k' AS intersection, "
                       "10.0 AS avg_speed, 1.0 AS avg_temp, 'clear' AS weather, 'relaxed' AS mood"
                       ).write_parquet(os.path.join(tmp, "mood.parquet", "part-0.parquet"))
            c = {"succeeded": True, "report": "", "rows": 1, "backfilled": 1,
                 "export": {"read": 1, "valid": 1, "written": 1},
                 "quality": {"total": 1, "missing": 0, "invalid": 0, "passed": True},
                 "parquet": os.path.join(tmp, "mood.parquet"),
                 "summaries": [{"day": "2025-06-20", "rows": [["k", "relaxed", 1, 10.0, 1.0]]}]}
            self.assertEqual(run.check_batch(c), [])
            c["summaries"][0]["rows"][0][3] = 11.0
            c["export"]["valid"] = 0
            self.assertEqual(len(run.check_batch(c)), 2)
        finally:
            shutil.rmtree(tmp)

    def test_without_the_engine_sources_it_exits_nonzero_and_prints_nothing(self):
        tmp = tempfile.mkdtemp()
        cwd = os.getcwd()
        out = io.StringIO()
        try:
            os.chdir(tmp)
            with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
                code = run.main(["--workload", "mood_batch", "--seed", "1",
                                 "--seconds", "1", "--trace", "0"])
        finally:
            os.chdir(cwd)
            shutil.rmtree(tmp)
        self.assertNotEqual(code, 0)
        self.assertEqual(out.getvalue(), "")


if __name__ == "__main__":
    unittest.main()
