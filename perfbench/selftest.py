"""Spark-free checks of the benchmark's own math.

    python3 perfbench/selftest.py

Covers the percentile and its samples-beyond count, lag from scheduled and
visible stamps, CPU and RSS accounting over a process tree that forks and
reaps children, the delivery audit behind ``failed`` / ``error_share`` (a
synthetic broker dump with one lost, one duplicated and one mismatched
record), the trace's self-time and blocking-path arithmetic, and the load
generator's determinism."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import loadgen  # noqa: E402
import stats  # noqa: E402
import traced  # noqa: E402


def burn(seconds: float) -> None:
    t0 = time.process_time()
    while time.process_time() - t0 < seconds:
        pass


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_and_beyond(self):
        xs = [float(i) for i in range(1, 101)]  # 1..100
        p50 = stats.percentile(xs, 0.5)
        p90 = stats.percentile(xs, 0.9)
        self.assertEqual((p50.value, p50.n, p50.beyond), (50.0, 100, 50))
        self.assertEqual((p90.value, p90.beyond), (90.0, 10))
        self.assertEqual(stats.percentile(xs, 1.0).beyond, 0)

    def test_ties_are_not_beyond(self):
        # rows of one micro-batch share a delay: ties at the percentile do
        # not count as samples beyond it
        p = stats.percentile([1.0] * 5 + [2.0] * 5, 0.5)
        self.assertEqual((p.value, p.beyond), (1.0, 5))
        p = stats.percentile([1.0] * 5 + [2.0] * 5, 0.9)
        self.assertEqual((p.value, p.beyond), (2.0, 0))

    def test_order_does_not_matter_and_empty_raises(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 0.5).value, 2.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)


class LagTest(unittest.TestCase):
    def test_lag_from_due_and_visible(self):
        due_us = [1_000_000_000_000_000, 1_000_000_000_500_000]
        visible = [1_000_000_000.25, 1_000_000_001.0]
        lags = stats.lags_s(due_us, visible)
        self.assertAlmostEqual(lags[0], 0.25, places=5)
        self.assertAlmostEqual(lags[1], 0.5, places=5)

    def test_generator_stall_is_charged_to_rows_behind_it(self):
        # rows due every 10 ms; everything stalls until t=1.0 s, then all
        # become visible at once: earlier rows carry the longer lag
        due_us = [i * 10_000 for i in range(100)]
        lags = stats.lags_s(due_us, [1.0] * 100)
        self.assertAlmostEqual(max(lags), 1.0)
        self.assertAlmostEqual(min(lags), 0.01)
        self.assertAlmostEqual(stats.percentile(lags, 0.5).value, 0.50)

    def test_unpaired_raises(self):
        with self.assertRaises(ValueError):
            stats.lags_s([1], [])


class ProcessTreeTest(unittest.TestCase):
    """A root process forks a child that burns CPU and is reaped, then
    keeps a second child burning: the tree's CPU counts both."""

    SCRIPT = r"""
import os, sys, time
sys.path.insert(0, sys.argv[1])
from selftest import burn
pid = os.fork()
if pid == 0:
    burn(0.4)
    os._exit(0)
os.waitpid(pid, 0)
pid = os.fork()
if pid == 0:
    burn(0.3)
    print("burnt", flush=True)
    time.sleep(30)
    os._exit(0)
print("reaped", flush=True)
sys.stdin.readline()
os.kill(pid, 9)
os.waitpid(pid, 0)
"""

    def test_fork_reap_and_live_child(self):
        here = os.path.dirname(os.path.abspath(__file__))
        p = subprocess.Popen([sys.executable, "-c", self.SCRIPT, here],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        try:
            self.assertEqual(p.stdout.readline().strip(), "reaped")
            self.assertEqual(p.stdout.readline().strip(), "burnt")
            snap = {pid: s for pid in stats.list_pids()
                    if (s := stats.read_proc(pid)) is not None}
            tree = stats.tree_of(p.pid, snap)
            self.assertEqual(len(tree), 2)  # root + the live child
            root = next(t for t in tree if t.pid == p.pid)
            self.assertGreaterEqual(root.reaped_cpu_s, 0.35)  # the reaped child
            self.assertGreaterEqual(stats.tree_cpu_s(tree), 0.35 + 0.25)
            self.assertLess(stats.tree_cpu_s(tree), 3.0)
            self.assertEqual(stats.tree_rss_bytes(tree), sum(t.rss_bytes for t in tree))
            self.assertGreater(stats.tree_rss_bytes(tree), 1 << 20)
        finally:
            p.stdin.write("\n")
            p.stdin.close()
            p.wait(timeout=10)
            p.stdout.close()

    def test_tree_excludes_unrelated(self):
        snap = {
            1: stats.ProcSample(1, 0, "init", 1.0, 0.0, 10),
            2: stats.ProcSample(2, 1, "engine", 2.0, 1.0, 20),
            3: stats.ProcSample(3, 2, "java", 3.0, 0.5, 30),
            4: stats.ProcSample(4, 3, "python3", 4.0, 0.0, 40),
            5: stats.ProcSample(5, 1, "other", 5.0, 0.0, 50),
        }
        tree = stats.tree_of(2, snap)
        self.assertEqual(sorted(t.pid for t in tree), [2, 3, 4])
        self.assertAlmostEqual(stats.tree_cpu_s(tree), 2.0 + 1.0 + 3.0 + 0.5 + 4.0)
        self.assertEqual(stats.tree_rss_bytes(tree), 90)


def _value(pk, op, ver, name="n", email="e", balance="1.50"):
    doc = {"id": str(pk), "operation": op}
    if op != "DELETE":
        doc.update({"ver": str(ver), "name": name, "email": email, "balance": balance})
    return json.dumps(doc).encode()


class AuditTest(unittest.TestCase):
    def setUp(self):
        self.expected = {}
        self.dump = []
        for pk in range(1, 9):
            self.expected[(pk, "INSERT", 1)] = {"name": "n", "email": "e", "balance": "1.5"}
            self.dump.append(_value(pk, "INSERT", 1))
        self.expected[(3, "UPDATE", 2)] = {"name": "n", "email": "e", "balance": "2.00"}
        self.dump.append(_value(3, "UPDATE", 2, balance="2.0"))
        self.expected[(4, "DELETE", None)] = {}
        self.dump.append(_value(4, "DELETE", None))

    def test_clean_dump(self):
        for eo in (True, False):
            a = stats.audit_changes(self.expected, self.dump, exactly_once=eo)
            self.assertEqual((a.attempted, a.failed, a.error_share), (10, 0, 0.0))

    def test_one_lost_one_duplicated_one_mismatched(self):
        dump = list(self.dump)
        del dump[1]                                  # pk 2 lost
        dump.append(dump[0])                         # pk 1 delivered twice
        dump[4] = _value(6, "INSERT", 1, name="x")   # pk 6 wrong content
        eo = stats.audit_changes(self.expected, dump, exactly_once=True)
        self.assertEqual((eo.lost, eo.duplicates, eo.mismatched), (1, 1, 1))
        self.assertEqual(eo.failed, 3)
        self.assertAlmostEqual(eo.error_share, 0.3)
        alo = stats.audit_changes(self.expected, dump, exactly_once=False)
        self.assertEqual(alo.failed, 2)  # duplicates are allowed at-least-once
        self.assertAlmostEqual(alo.error_share, 0.2)

    def test_dropping_one_row_makes_error_share_non_zero(self):
        a = stats.audit_changes(self.expected, self.dump[:-1], exactly_once=False)
        self.assertGreater(a.error_share, 0.0)

    def test_unexpected_and_garbage_records_fail(self):
        a = stats.audit_changes(self.expected, self.dump + [_value(99, "INSERT", 1), b"{"],
                                exactly_once=False)
        self.assertEqual((a.unexpected, a.failed), (2, 2))

    def test_add_folds_parts(self):
        a = stats.Audit(attempted=10, lost=1)
        a.add(stats.Audit(attempted=5, duplicates=2))
        self.assertEqual((a.attempted, a.lost, a.duplicates, a.failed), (15, 1, 2, 1))

    def test_final_state(self):
        table = {1: {"ver": "1", "name": "n", "email": "e", "balance": "1.50"}}
        good = {1: ("INSERT", {"ver": "1", "name": "n", "email": "e", "balance": "1.5"}),
                2: ("DELETE", {"id": "2"})}
        self.assertEqual(stats.final_state_mismatches(good, table), 0)
        stale = {1: ("INSERT", {"ver": "0", "name": "n", "email": "e", "balance": "1.5"})}
        self.assertEqual(stats.final_state_mismatches(stale, table), 1)
        self.assertEqual(stats.final_state_mismatches({}, table), 1)  # never delivered
        resurrected = {1: good[1], 3: ("INSERT", {"ver": "1"})}
        self.assertEqual(stats.final_state_mismatches(resurrected, table), 1)


class TraceMathTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [
            {"name": "kafka_wire.send_records", "start": 0.0, "end": 1.0, "id": "1:1", "parent": None},
            {"name": "kafka_wire.encode", "start": 0.1, "end": 0.3, "id": "1:2", "parent": "1:1"},
            {"name": "kafka_wire.encode", "start": 0.5, "end": 0.6, "id": "1:3", "parent": "1:1"},
        ]
        self.assertAlmostEqual(traced.self_time(spans, "kafka_wire.send_records"), 0.7)
        self.assertAlmostEqual(traced.self_time(spans, "kafka_wire.encode"), 0.3)

    def test_blocking_path_splits_add_batch_by_task_shares(self):
        batch = {"timestamp": "2026-01-01T00:00:00.000Z", "numInputRows": 10,
                 "durationMs": {"latestOffset": 100, "queryPlanning": 50, "addBatch": 1000,
                                "walCommit": 20, "commitOffsets": 30, "triggerExecution": 1250}}
        prof = {"t_pull_sum": 1.0, "t_marshal_sum": 2.0, "t_send_sum": 1.0, "t_txn_sum": 0.0}
        path = traced.blocking_path([batch], [prof])
        self.assertAlmostEqual(path["path.latest_offset_s"], 0.1)
        self.assertAlmostEqual(path["path.marshal_s"], 0.5)
        self.assertAlmostEqual(path["path.pull_s"], 0.25)
        self.assertAlmostEqual(path["path.commit_s"], 0.05)
        self.assertAlmostEqual(path["path.other_s"], 0.05)


class LoadgenTest(unittest.TestCase):
    def test_same_seed_same_plan(self):
        a, b = loadgen.catchup_plan(7, 5_000), loadgen.catchup_plan(7, 5_000)
        self.assertEqual(a.expected, b.expected)
        self.assertEqual([loadgen.txn_sql(t, None) for t in a.txns],
                         [loadgen.txn_sql(t, None) for t in b.txns])
        self.assertNotEqual(loadgen.catchup_plan(8, 5_000).expected, a.expected)

    def test_catchup_mix(self):
        plan = loadgen.catchup_plan(1, 20_000)
        ops = [k[1] for k in plan.expected]
        share = {op: ops.count(op) / len(ops) for op in ("INSERT", "UPDATE", "DELETE")}
        self.assertEqual(len(ops), 20_000)
        self.assertAlmostEqual(share["INSERT"], 0.80, delta=0.03)
        self.assertAlmostEqual(share["UPDATE"], 0.15, delta=0.03)
        self.assertAlmostEqual(share["DELETE"], 0.05, delta=0.02)
        # the final state is what replaying the changes leaves
        deleted = {k[0] for k in plan.expected if k[1] == "DELETE"}
        inserted = {k[0] for k in plan.expected if k[1] == "INSERT"}
        self.assertEqual(set(plan.final), inserted - deleted)

    def test_live_schedule(self):
        plan = loadgen.live_plan(3, rate=2_000, seconds=2, first_id=1_001)
        self.assertEqual(sum(t.rows for t in plan.txns), 4_000)
        self.assertEqual(min(k[0] for k in plan.expected), 1_001)
        self.assertAlmostEqual(plan.txns[-1].due_s, 2.0 - 20 / 2_000)


if __name__ == "__main__":
    unittest.main()
