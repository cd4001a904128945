#!/usr/bin/env python3
"""Self-tests for the benchmark's own arithmetic.

Run: python3 perfbench/test_metrics.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402
import run  # noqa: E402
import survey  # noqa: E402


def span(id, parent, name, start, end):
    return {"id": id, "parent": parent, "name": name,
            "start_ns": start, "end_ns": end, "attrs": {}}


class Percentile(unittest.TestCase):
    def test_reported_with_ten_beyond(self):
        xs = list(range(1, 101))  # rank 90 of 100 leaves 10 beyond
        self.assertEqual(metrics.percentile(xs, 0.9), 90)

    def test_omitted_with_fewer_than_ten_beyond(self):
        self.assertIsNone(metrics.percentile(list(range(1, 100)), 0.9))
        self.assertIsNone(metrics.percentile([5.0] * 20, 0.9))
        self.assertIsNone(metrics.percentile([], 0.9))

    def test_order_free(self):
        xs = [float(x) for x in range(200)]
        self.assertEqual(metrics.percentile(xs[::-1], 0.9), 179.0)

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)
        # whole passes repeat every entry, which leaves the median alone
        self.assertEqual(metrics.median([4, 1, 3, 2] * 3), 2.5)


class FailedRatio(unittest.TestCase):
    def test_counts_throw_timeout_and_mismatch(self):
        st = ["ok", "error", "timeout", "mismatch", "ok", "ok", "ok", "ok"]
        self.assertEqual(metrics.failed_ratio(st), 3 / 8)

    def test_all_ok(self):
        self.assertEqual(metrics.failed_ratio(["ok"] * 5), 0.0)

    def test_digest_mismatch_is_marked(self):
        expected = {"a": {"check": "exact", "digest": "d1", "rows": 1},
                    "b": {"check": "rows", "digest": "x", "rows": 3},
                    "c": {"check": "exact", "digest": "d3", "rows": 1,
                          "known_failure": True}}
        rec = {"ops": [
            {"entry": "a", "status": "ok", "digest": "d1", "rows": 1},
            {"entry": "a", "status": "ok", "digest": "bad", "rows": 1},
            {"entry": "b", "status": "ok", "digest": "y", "rows": 3},
            {"entry": "b", "status": "timeout"},
            {"entry": "c", "status": "ok", "digest": "other", "rows": 1}]}
        unexpected = run.check(rec, expected)
        self.assertEqual([o["status"] for o in rec["ops"]],
                         ["ok", "mismatch", "ok", "timeout", "mismatch"])
        self.assertEqual(unexpected, ["a", "b"])  # c is a known failure
        self.assertEqual(metrics.failed_ratio(o["status"] for o in rec["ops"]), 3 / 5)

    def test_warmup_failures_are_checked_but_not_counted(self):
        expected = {"a": {"check": "exact", "digest": "d1", "rows": 1},
                    "b": {"check": "exact", "digest": "d2", "rows": 1},
                    "c": {"check": "exact", "digest": "d3", "rows": 1}}
        rec = {"workload": "sql_interactive", "ops": [
            {"entry": "a", "pass": 0, "status": "error", "wall_ms": 1.0},
            {"entry": "b", "pass": 0, "status": "timeout", "wall_ms": 1.0},
            {"entry": "c", "pass": 0, "status": "ok", "digest": "bad", "rows": 1,
             "wall_ms": 1.0},
            {"entry": "a", "pass": 1, "status": "ok", "digest": "d1", "rows": 1,
             "wall_ms": 1.0}]}
        # a throw, a timeout and a wrong output on first touch fail the run
        self.assertEqual(run.check(rec, expected), ["a", "b", "c"])
        self.assertEqual(rec["ops"][2]["status"], "mismatch")
        # while the timed operations alone make the metrics
        self.assertEqual([o["status"] for o in metrics.operations(rec)], ["ok"])

    def test_stream_replay_status_applies_to_its_triggers(self):
        rec = {"workload": "stream_replay", "ops": [
            {"entry": "t", "pass": 1, "status": "mismatch", "start_ns": 0, "end_ns": 1,
             "triggers": [{"wall_ms": 1.0}, {"wall_ms": 2.0}]},
            {"entry": "t", "pass": 1, "status": "ok", "start_ns": 0, "end_ns": 1,
             "triggers": [{"wall_ms": 1.0}]},
            {"entry": "t", "pass": 0, "status": "ok", "start_ns": 0, "end_ns": 1,
             "triggers": [{"wall_ms": 9.0}]},
            {"entry": "t", "pass": 2, "status": "error", "start_ns": 0, "end_ns": 5000000,
             "triggers": []}]}
        ops = metrics.operations(rec)
        self.assertEqual([o["status"] for o in ops],
                         ["mismatch", "mismatch", "ok", "error"])
        self.assertEqual(ops[-1]["wall_ms"], 5.0)


class Order(unittest.TestCase):
    MIX = ["a", "b", "c", "d", "e", "f"]

    def test_same_seed_same_order(self):
        self.assertEqual(metrics.plan(self.MIX, 7, 5), metrics.plan(self.MIX, 7, 5))

    def test_passes_are_permutations(self):
        for p in metrics.plan(self.MIX, 3, 10):
            self.assertEqual(sorted(p), self.MIX)

    def test_seed_changes_order(self):
        self.assertNotEqual(metrics.plan(self.MIX, 1, 5), metrics.plan(self.MIX, 2, 5))

    def test_prefix_stable(self):
        self.assertEqual(metrics.plan(self.MIX, 9, 3), metrics.plan(self.MIX, 9, 8)[:3])

    def test_pinned_value(self):
        # guards against a change of generator between Python versions
        self.assertEqual(metrics.plan(["a", "b", "c"], 1, 1), [["c", "b", "a"]])


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_children(self):
        op = span(1, 0, "op", 0, 100)
        kids = [span(2, 1, "x", 10, 40), span(3, 1, "y", 30, 50),
                span(4, 1, "z", 90, 120)]
        # covered: [10,50) + [90,100) = 50
        self.assertEqual(metrics.self_time(op, kids), 50)

    def test_no_children(self):
        self.assertEqual(metrics.self_time(span(1, 0, "op", 5, 25), []), 20)

    def test_nest_and_reconcile(self):
        spans = [span(1, 0, "op", 0, 100),
                 span(2, 1, "engine.build", 0, 30),
                 span(3, 1, "exec.collect", 30, 95),
                 span(10, 1, "exec.job", 5, 20),
                 span(11, 1, "exec.job", 40, 90),
                 span(20, 11, "exec.stage", 40, 60)]
        metrics.nest_jobs(spans)
        parents = {s["id"]: s["parent"] for s in spans}
        self.assertEqual(parents[10], 2)
        self.assertEqual(parents[11], 3)
        self.assertEqual(parents[20], 11)
        # every level with children: op, both phases, the job
        self.assertEqual(metrics.reconcile(spans), [
            ("op", 100, 95, 5, True), ("engine.build", 30, 15, 15, True),
            ("exec.collect", 65, 50, 15, True), ("exec.job", 50, 20, 30, True)])
        build = spans[1]
        self.assertEqual(metrics.self_time(build, [spans[3]]), 15)

    def test_reconcile_flags_overlapping_phases(self):
        ms = 1_000_000
        spans = [span(1, 0, "op", 0, 100 * ms), span(2, 1, "a", 0, 60 * ms),
                 span(3, 1, "b", 50 * ms, 100 * ms)]
        [(_, _, total, own, ok)] = metrics.reconcile(spans)
        self.assertEqual((total, own, ok), (110 * ms, 0, False))

    def test_reconcile_flags_phases_beyond_the_trigger(self):
        # phases laid end to end from progress durations that add up to
        # more than triggerExecution
        ms = 1_000_000
        spans = [span(1, 0, "op", 0, 100 * ms),
                 span(2, 1, "stream.trigger", 0, 100 * ms),
                 span(3, 2, "stream.latestOffset", 0, 30 * ms),
                 span(4, 2, "stream.addBatch", 30 * ms, 110 * ms)]
        self.assertEqual([(n, ok) for n, _, _, _, ok in metrics.reconcile(spans)],
                         [("op", True), ("stream.trigger", False)])

    def test_reconcile_jobs_may_overlap_within_clock_tolerance(self):
        ms = 1_000_000
        spans = [span(1, 0, "stream.trigger", 0, 100 * ms),
                 span(2, 1, "stream.addBatch", 10 * ms, 90 * ms),
                 span(10, 1, "exec.job", 20 * ms, 60 * ms),
                 span(11, 1, "exec.job", 40 * ms, 101 * ms),  # 1 ms late: clock
                 span(20, 10, "exec.stage", 15 * ms, 50 * ms)]  # before its job
        self.assertEqual([(n, ok) for n, _, _, _, ok in metrics.reconcile(spans)],
                         [("stream.trigger", True), ("exec.job", False)])


class Selection(unittest.TestCase):
    @staticmethod
    def entries(n, stores=()):
        return {f"e{i}": {"latency_ms": float(i + 1), "front_ms": 1.0,
                          "pass_ms": float(i + 1), "eligible": True,
                          "materializes": i in stores} for i in range(n)}

    def test_picks_the_middle_of_each_stratum(self):
        # strata e0-e2, e3-e6, e7-e9 (round(i * 10 / 3))
        self.assertEqual(survey.stratified(self.entries(10), 3), ["e1", "e5", "e8"])

    def test_swaps_in_an_entry_that_stores_blocks(self):
        self.assertEqual(survey.stratified(self.entries(10, stores={7}), 3),
                         ["e1", "e5", "e7"])
        # a pick that already stores blocks needs no swap
        self.assertEqual(survey.stratified(self.entries(10, stores={5, 9}), 3),
                         ["e1", "e5", "e8"])

    def test_k_is_the_largest_odd_count_within_the_pass_budget(self):
        ents = self.entries(40)
        for e in ents.values():
            e["pass_ms"] = 1000.0
        sel = survey.select("sql_interactive", ents)
        budget = int(survey.PASS_BUDGET_S)
        self.assertEqual(sel["k"], budget if budget % 2 else budget - 1)
        self.assertEqual(len(sel["mix"]), sel["k"])


class PerLayer(unittest.TestCase):
    def record(self):
        op = lambda i, s: {
            "entry": "e", "pass": 1, "status": "ok", "wall_ms": 100.0,
            "exec": {"jobs": 2, "task_run_ms": 200, "scan_rows": 1000},
            "counters": {"analysis_ms": 4.0, "codegen_compiles": 1,
                         "jvm_gc_ms": 3, "heap_used_mb": 10.0},
            "spans": [span(i, 0, "op", s, s + 100_000_000),
                      span(i + 1, i, "engine.build", s, s + 40_000_000),
                      span(i + 2, i, "exec.collect", s + 40_000_000, s + 100_000_000),
                      span(i + 3, i, "exec.job", s + 10_000_000, s + 30_000_000),
                      span(i + 4, i, "exec.job", s + 50_000_000, s + 90_000_000)]}
        return {"workload": "sql_interactive", "cores": 4,
                "ops": [op(100, 0), op(200, 10**9)],
                "timed_start_ns": 0, "timed_end_ns": 2 * 10**9,
                "check_ms": 0.0, "t0_ns": 0, "first_op_ns": 0,
                "rss_peak_kb": 1024}

    def test_layer_arithmetic(self):
        m = metrics.per_layer(self.record())
        self.assertAlmostEqual(m["engine.build_ms"], 40.0)
        self.assertAlmostEqual(m["engine.build_self_ms"], 20.0)
        self.assertAlmostEqual(m["exec.driver_gap_ms"], 40.0)
        self.assertAlmostEqual(m["exec.core_busy_ratio"], 0.5)
        self.assertAlmostEqual(m["exec.jobs"], 2.0)
        self.assertAlmostEqual(m["catalyst.analysis_ms"], 4.0)
        # not exercised by a batch workload, and reported as such
        self.assertEqual({k: v for k, v in m.items() if k.startswith("streaming.")},
                         {"streaming." + k: 0.0 for k in metrics.STREAM_METRICS})

    def test_stream_replay_layers(self):
        ms = 1_000_000
        trig = lambda b, wall, add: {
            "batch_id": b, "wall_ms": wall, "input_rows": 100,
            "durations_ms": {"addBatch": add, "walCommit": 20},
            "state_commit_ms": 5, "state_rows": 7, "state_memory_bytes": 64,
            "exec": {"jobs": 1, "task_run_ms": 40}, "spans": []}
        rec = {"workload": "stream_replay", "cores": 4, "ops": [{
            "entry": "t", "pass": 1, "status": "ok", "start_ns": 0, "end_ns": 500 * ms,
            "build_ms": 10.0, "build_jobs": [[2 * ms, 6 * ms]],
            "checkpoint_bytes": 1000, "counters": {"analysis_ms": 8.0},
            "triggers": [trig(0, 100.0, 60), trig(1, 60.0, 40)]}]}
        m = metrics.per_layer(rec)
        self.assertAlmostEqual(m["engine.build_ms"], 5.0)
        self.assertAlmostEqual(m["engine.build_self_ms"], 3.0)
        self.assertAlmostEqual(m["catalyst.analysis_ms"], 4.0)
        self.assertAlmostEqual(m["streaming.add_batch_ms"], 50.0)
        self.assertAlmostEqual(m["streaming.fixed_ms"], 30.0)
        self.assertAlmostEqual(m["streaming.checkpoint_bytes"], 500.0)
        self.assertAlmostEqual(m["exec.core_busy_ratio"], 80 / (160 * 4))
        e = metrics.end_to_end(dict(rec, timed_start_ns=0, timed_end_ns=10**9,
                                    check_ms=0.0, t0_ns=0, first_op_ns=0,
                                    rss_peak_kb=2048))
        self.assertAlmostEqual(e["stream_rows_s"], 200 / 0.16)
        self.assertAlmostEqual(e["op_p50_ms"], 80.0)

    def test_end_to_end(self):
        m = metrics.end_to_end(self.record())
        self.assertAlmostEqual(m["throughput_ops_s"], 1.0)
        self.assertAlmostEqual(m["op_p50_ms"], 100.0)
        self.assertIsNone(m["op_p90_ms"])
        self.assertAlmostEqual(m["stream_rows_s"], 10000.0)
        self.assertEqual(m["failed_ratio"], 0.0)


if __name__ == "__main__":
    unittest.main()
