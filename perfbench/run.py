#!/usr/bin/env python3
"""CDC benchmark: PostgreSQL WAL → pgoutput decode → record shaping → Kafka
produce, measured from outside the engine.

    python3 perfbench/run.py --workload wal_catchup --seed 1 --seconds 10 --trace 0

Workloads (perfbench/README.md says why each exists):

- ``wal_catchup``: the connector comes back after downtime. A backlog of
  mixed changes waits in the slot while the query is stopped; timed from
  the restart until a read_committed consumer sees the last change
  (exactly-once ``to_kafka_wire_eos``).
- ``backfill_tail``: a fresh connector. A parallel snapshot backfill of a
  preloaded table under the slot's exported snapshot (``run_batch`` +
  ``write_kafka_wire``), then a live tail: an open-loop generator commits
  small transactions at a fixed rate, and each row's lag runs from its
  scheduled time to consumer visibility (at-least-once ``to_kafka_wire``).

The harness owns a throwaway PostgreSQL cluster, an out-of-process
MiniBroker and the engine process, and stops all of them before it exits.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The line before it, on stderr, is
the full record of the run (environment stamp, counts, phases, audit).
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time
from contextlib import closing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import loadgen  # noqa: E402
import stats  # noqa: E402
import traced  # noqa: E402

#: hard cap on one run, inside a 180 s per-run limit
RUN_DEADLINE_S = 170.0

#: Sizes. Only the seed changes the rows; the amounts scale with --seconds
#: so that each timed phase takes about that long on a 4-core box.
WARM_ROWS = 2_000
#: the engine's local cores: half the box, so PostgreSQL's walsender, the
#: broker, the load generator and the consumer keep cores of their own
#: and a run measures the engine rather than the scheduler
ENGINE_CPUS = 2
#: the catch-up warm-up spans a cold first batch, a full cut and a short
#: one, so the timed drain does not pay the rest of the workers' warm-up
CATCHUP_WARM_ROWS = 16_000
#: catch-up backlog, cut into ten full ``maxframes`` micro-batches (plus a
#: short one for the transactions' BEGIN/COMMIT frames): a long poll lets
#: even the first read after the restart fill its cut. A trigger costs
#: ~0.35 s that does not grow with its rows, ~45 us a row on top; cuts of
#: 8 000 keep that fixed cost under half of each trigger.
CATCHUP_EVENTS_PER_S = 8_000
CATCHUP_SOURCE = {"maxframes": 8_000, "pollms": 1500, "groups": 2, "partitions": 2}
#: backfill table rows, scanned by this many parallel chunks: one untimed
#: pass (which also times the set-up) warms the scan, shaping and produce
#: path, then the median of the timed passes is reported (a burst of CPU
#: steal on the shared host hits one pass, not the figure)
BACKFILL_ROWS_PER_S = 4_000
BACKFILL_CHUNKS = 8
BACKFILL_PASSES = 3
#: live tail: open-loop rate, about a tenth of what the engine drains in
#: large cuts on a fast spell of the host and a third on the slowest seen
#: (catch-up ran 3 000-9 300 rows/s), so per-batch fixed cost, not a queue
#: near saturation, sets the lag; when it falls behind, its batches grow.
#: The schedule runs for --seconds; its first TAIL_WARM_S only warm the
#: stream: their rows are audited but carry no lag sample.
TAIL_ROWS_PER_S = 1_000
TAIL_WARM_S = 2.0
TAIL_SOURCE = {"maxframes": 20_000, "pollms": 100, "groups": 2, "partitions": 2}

E2E_UNITS = {
    "rows_per_s": "rows/s",
    "lag_p50_s": "s",
    "lag_p90_s": "s",
    "sut_cpu_us_per_row": "us",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

SLOT = "bench_slot"
PUB = "bench_pub"
TOPIC = "bench.users"
BACKFILL_TOPIC = "bench.backfill"


class Stall(RuntimeError):
    pass


class Engine:
    """The engine process and its event stream."""

    def __init__(self, cfg: dict, env: dict, log_path: str) -> None:
        self.log = open(log_path, "w")
        self.t_start = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), json.dumps(cfg)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, env=env, cwd=cfg["work"],
        )
        self.pid = self.proc.pid
        self.events: queue.Queue = queue.Queue()
        self.profiles: list[tuple[float, dict]] = []
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("EV "):
                self.events.put(json.loads(line[3:]))
            elif line.startswith("SB_PROFILE "):
                self.profiles.append((time.time(), json.loads(line[11:])))
        self.events.put({"ev": "eof"})

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def wait(self, kind: str, timeout: float) -> dict:
        deadline = time.monotonic() + timeout
        while True:
            try:
                ev = self.events.get(timeout=max(0.01, deadline - time.monotonic()))
            except queue.Empty:
                raise Stall(f"engine: no {kind!r} within {timeout:.0f}s")
            if ev["ev"] == kind:
                return ev
            if ev["ev"] in ("error", "eof"):
                raise RuntimeError(f"engine {ev['ev']}: {ev.get('msg', '')}")

    def error(self) -> str | None:
        """A failure reported while the harness was waiting on the broker."""
        try:
            while True:
                ev = self.events.get_nowait()
                if ev["ev"] in ("error", "eof"):
                    return ev.get("msg", ev["ev"])
        except queue.Empty:
            return None

    def close(self, tree: list[int]) -> None:
        if self.proc.poll() is None:
            try:
                self.send("exit")
                self.proc.stdin.close()
            except (BrokenPipeError, OSError):
                pass
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)
        for pid in tree:  # JVM or workers left behind by a killed driver
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        self._reader.join(timeout=10)
        self.log.close()


class SlotLag:
    """Polls the slot's distance from the WAL head over SQL."""

    def __init__(self, pg: harness.PgCluster, period: float = 0.25) -> None:
        self.conn = pg.connect()
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(period,), daemon=True)
        self._thread.start()

    def _loop(self, period: float) -> None:
        while not self._stop.wait(period):
            rows = self.conn.simple_query(
                "SELECT pg_current_wal_lsn() - confirmed_flush_lsn AS lag "
                f"FROM pg_replication_slots WHERE slot_name = '{SLOT}'")
            if rows and rows[0]["lag"] is not None:
                self.samples.append((time.time(), float(rows[0]["lag"]) / 2**20))

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.conn.close()


def run_loadgen(mode: str, dsn: str, args: dict, timeout: float) -> dict:
    env = {**os.environ, "PYTHONPATH": ROOT}
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "loadgen.py"), mode, dsn, json.dumps(args)],
        capture_output=True, text=True, timeout=timeout, env=env,
    )
    if out.returncode != 0:
        raise RuntimeError(f"loadgen {mode} failed: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def warm_rows(seed: int, n: int = WARM_ROWS):
    return loadgen.snapshot_rows(seed + 7919, n, base=loadgen.WARM_BASE)


def last_events(values: list[bytes]) -> dict[int, tuple[str, dict]]:
    """Last change per key in delivery order (a key's records share one
    partition, which keeps their order)."""
    last: dict[int, tuple[str, dict]] = {}
    for v in values:
        doc = json.loads(v)
        last[int(doc["id"])] = (doc["operation"], doc)
    return last


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.t_begin = time.monotonic()
        self.info: dict = {"workload": workload, "phases": {}}
        self.pg = self.broker = self.engine = self.sampler = None
        self.observers: list[harness.Observer] = []
        self.slot_lag: SlotLag | None = None
        self.closed = False

    def remaining(self) -> float:
        return RUN_DEADLINE_S - (time.monotonic() - self.t_begin)

    def phase(self, name: str) -> None:
        """Record when a phase of the run ended (seconds since its start)."""
        self.info["phases"][name] = round(time.monotonic() - self.t_begin, 2)

    # -- environment ---------------------------------------------------------

    def engine_env(self) -> dict:
        env = dict(os.environ)
        env.update({
            "SPARK_GRAFT_CPUS": str(ENGINE_CPUS),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "TMPDIR": os.path.join(self.work, "tmp"),
            "PYTHONPATH": ROOT,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        })
        env.pop("SB_PROFILE", None)
        if self.trace:
            env["SB_PROFILE"] = "1"
            env["PERFBENCH_TRACE_DIR"] = os.path.join(self.work, "spans")
            env["PYTHONPATH"] = os.path.join(HERE, "shim") + os.pathsep + ROOT
            os.makedirs(env["PERFBENCH_TRACE_DIR"])
        return env

    def spark_conf(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
        if self.trace:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        return conf

    def start_env(self) -> None:
        self.pg = harness.PgCluster(self.work).start()
        self.broker = harness.Broker()
        with closing(self.pg.connect()) as admin:
            for ddl in loadgen.DDL:
                admin.simple_query(ddl)
            admin.simple_query(f"CREATE PUBLICATION {PUB} FOR TABLE {loadgen.TABLE}")
        self.phase("env")

    def start_engine(self, eos: bool, start_lsn: int, source: dict) -> None:
        cfg = {
            "root": ROOT, "work": self.work, "workload": self.workload,
            "dsn": self.pg.dsn, "bootstrap": self.broker.bootstrap,
            "table": loadgen.TABLE, "topic": TOPIC, "eos": eos,
            "slot": SLOT, "publication": PUB, "start_lsn": start_lsn,
            "checkpoint": os.path.join(self.work, "checkpoint"),
            "source": source, "chunks": BACKFILL_CHUNKS,
            "spark_conf": self.spark_conf(),
        }
        self.engine = Engine(cfg, self.engine_env(), os.path.join(self.work, "engine.log"))
        self.sampler = harness.TreeSampler(
            self.engine.pid, self.pg.proc.pid, self.broker.proc.pid)
        self.info["session_s"] = self.engine.wait("session", self.remaining())["session_s"]
        self.phase("session")

    def observe(self, topic: str, read_committed: bool) -> harness.Observer:
        obs = harness.Observer(self.broker.bootstrap, topic, read_committed)
        self.observers.append(obs)
        return obs

    def await_rows(self, obs: harness.Observer, n: int) -> None:
        ok = obs.wait_for(n, self.remaining(), alive=lambda: self.engine.proc.poll() is None)
        if not ok:
            err = self.engine.error()
            raise Stall(f"saw {obs.count}/{n} records" + (f"; engine: {err}" if err else ""))

    def set_up(self, obs: harness.Observer) -> None:
        """setup_s: engine-process start to the first warm-up record a
        consumer sees."""
        self.await_rows(obs, 1)
        self.info["setup_s"] = obs.stamps[0] - self.engine.t_start
        self.info["first_delivery_s"] = self.info["setup_s"] - self.info["session_s"]

    def mark(self) -> dict:
        m = self.sampler.mark()
        if self.trace:
            m["counters"] = traced.read_counters(os.path.join(self.work, "spans"))
        return m

    def close(self) -> None:
        """Stop everything this run started (idempotent)."""
        if self.closed:
            return
        self.closed = True
        tree: list[int] = []
        if self.sampler is not None:
            snap = self.sampler._snapshot()
            tree = [p.pid for p in stats.tree_of(self.engine.pid, snap)
                    if p.pid != self.engine.pid]
            self.sampler.close()
        for obs in self.observers:
            obs.close()
        if self.slot_lag is not None:
            self.slot_lag.close()
        if self.engine is not None:
            self.engine.close(tree)
        if self.broker is not None:
            self.broker.close()
        if self.pg is not None:
            self.pg.close()

    # -- workloads -------------------------------------------------------------

    def wal_catchup(self) -> dict:
        events = int(CATCHUP_EVENTS_PER_S * self.seconds)
        with closing(self.pg.connect()) as admin:
            slot = admin.create_replication_slot(SLOT)
            rows = warm_rows(self.seed, CATCHUP_WARM_ROWS)
            for i in range(0, len(rows), 100):
                admin.simple_query(loadgen.txn_sql(loadgen.Txn(inserts=rows[i : i + 100]), None))
        obs = self.observe(TOPIC, read_committed=True)
        from go_pq_cdc_kafka_spark.sources import wire

        self.start_engine(True, wire.parse_lsn(slot["consistent_point"]) - 1, CATCHUP_SOURCE)
        self.engine.send("start")
        self.set_up(obs)
        self.await_rows(obs, CATCHUP_WARM_ROWS)
        self.phase("warm")
        if self.trace:
            self.slot_lag = SlotLag(self.pg)

        self.engine.send("stop")
        self.engine.wait("stopped", self.remaining())
        args = {"seed": self.seed, "events": events}
        expected = loadgen.catchup_plan(**args).expected
        run_loadgen("catchup", self.pg.dsn, args, self.remaining())
        obs.settle(0.2)
        first = obs.count
        m0 = self.mark()
        t0 = time.time()
        self.engine.send("start")
        self.await_rows(obs, first + len(expected))
        m1 = self.mark()
        stamps = obs.snapshot(first)[0]
        self.phase("drain")
        self.engine.send("progress")
        progress = self.engine.wait("progress", self.remaining())["progress"]
        self.engine.send("exit")  # shuts down while the audit runs
        obs.settle(0.5)
        values = obs.snapshot(first)[1]
        audit = stats.audit_changes(expected, values, exactly_once=True)
        with closing(self.pg.connect()) as admin:
            table = {int(r["id"]): r for r in admin.simple_query(
                f"SELECT id, ver, name, email, balance FROM {loadgen.TABLE} "
                f"WHERE id < {loadgen.WARM_BASE}")}
        audit.mismatched += stats.final_state_mismatches(last_events(values), table)
        self.info["loadgen"] = {"rows": len(expected)}
        return self.result(
            rows=len(expected), rows_per_s=len(expected) / (max(stamps) - t0),
            lags=[s - t0 for s in stamps], windows=[(m0, m1)], audit=audit,
            progress=progress)

    def backfill_tail(self) -> dict:
        n_backfill = int(BACKFILL_ROWS_PER_S * self.seconds)
        self.info["loadgen_backfill"] = run_loadgen(
            "snapshot", self.pg.dsn, {"seed": self.seed, "rows": n_backfill},
            self.remaining())
        backfill_expected = loadgen.snapshot_expected(
            loadgen.snapshot_rows(self.seed, n_backfill))
        # the slot's exported snapshot stays valid while its creating
        # connection stays open and idle: held until the backfill is done
        holder = self.pg.connect()
        try:
            slot = holder.create_replication_slot(SLOT)
            with closing(self.pg.connect()) as admin:
                rows = warm_rows(self.seed)
                for i in range(0, len(rows), 100):
                    admin.simple_query(loadgen.txn_sql(
                        loadgen.Txn(inserts=rows[i : i + 100]), None))
            obs = self.observe(TOPIC, read_committed=False)
            passes = [self.observe(f"{BACKFILL_TOPIC}.{i}", read_committed=False)
                      for i in range(1 + BACKFILL_PASSES)]
            from go_pq_cdc_kafka_spark.sources import wire

            self.start_engine(False, wire.parse_lsn(slot["consistent_point"]) - 1, TAIL_SOURCE)
            # every pass scans under the same exported snapshot, so each
            # sees the same rows. Pass 0 is untimed: it carries the set-up
            # measurement and warms the path. The median timed pass is the
            # backfill rate.
            rates = []
            for i, back in enumerate(passes):
                self.engine.send(f"backfill {loadgen.TABLE} {BACKFILL_TOPIC}.{i} "
                                 f"{slot['snapshot_name']}")
                if i == 0:
                    self.set_up(back)
                t0 = self.engine.wait("backfill_done", self.remaining())["t0"]
                self.await_rows(back, len(backfill_expected))
                rates.append(len(backfill_expected) / (max(back.snapshot()[0]) - t0))
                if i == 0:
                    self.phase("warm")
                    b0 = self.mark()
            b1 = self.mark()
            rates = rates[1:]
            self.phase("backfill")
        finally:
            holder.close()
        self.info["backfill_pass_rows_per_s"] = rates

        # the stream starts after the backfill, as a connector's initial
        # mode does; its cold first batch carries the warm-up rows
        self.engine.send("start")
        self.await_rows(obs, WARM_ROWS)
        self.phase("stream_warm")
        if self.trace:
            self.slot_lag = SlotLag(self.pg)
        plan = loadgen.live_plan(self.seed, TAIL_ROWS_PER_S, self.seconds, n_backfill + 1)
        base = obs.count
        start_us = int((time.time() + 0.3) * 1e6)
        m0 = self.mark()
        self.info["loadgen"] = run_loadgen(
            "live", self.pg.dsn,
            {"seed": self.seed, "rate": TAIL_ROWS_PER_S, "seconds": self.seconds,
             "first_id": n_backfill + 1, "start_us": start_us},
            self.remaining())
        self.await_rows(obs, base + len(plan.expected))
        m1 = self.mark()
        self.phase("tail")
        self.engine.send("progress")
        progress = self.engine.wait("progress", self.remaining())["progress"]
        self.engine.send("exit")  # shuts down while the audit runs
        obs.settle(0.5)
        stamps, values = obs.snapshot(base)
        warm_us = start_us + int(TAIL_WARM_S * 1e6)
        due = [int(json.loads(v)["due_us"]) for v in values]
        timed = [(d, s) for d, s in zip(due, stamps) if d >= warm_us]
        lags = stats.lags_s([d for d, _ in timed], [s for _, s in timed])
        audit = stats.audit_changes(plan.expected, values, exactly_once=False)
        for back in passes:
            audit.add(stats.audit_changes(backfill_expected, back.snapshot()[1],
                                          exactly_once=False))
        return self.result(
            rows=len(backfill_expected) * BACKFILL_PASSES + len(plan.expected),
            rows_per_s=stats.median(rates), lags=lags, windows=[(b0, b1), (m0, m1)],
            audit=audit, progress=progress)

    # -- results -----------------------------------------------------------------

    def result(self, rows: int, rows_per_s: float, lags: list[float],
               windows: list[tuple[dict, dict]], audit: stats.Audit, progress: list) -> dict:
        """``windows``: the (start, end) marks of each timed phase; CPU and
        the per-layer figures count only inside them."""
        cpu: dict[str, float] = {}
        for m0, m1 in windows:
            for k, v in harness.cpu_delta(m0, m1).items():
                cpu[k] = cpu.get(k, 0.0) + v
        p50, p90 = stats.percentile(lags, 0.5), stats.percentile(lags, 0.9)
        batches = traced.window_batches(progress, windows)
        self.info.update({
            "rows": rows, "timed_wall_s": cpu["t"], "batches": len(batches),
            # per trigger: input rows, trigger / addBatch / latestOffset ms
            "triggers": [(b["numInputRows"], b["durationMs"].get("triggerExecution"),
                          b["durationMs"].get("addBatch"), b["durationMs"].get("latestOffset"))
                         for b in batches],
            "harness_cpu_s": sum(os.times()[:2]),
            "lag_samples": p90.n, "lag_p90_beyond": p90.beyond,
            "cpu_s": cpu, "rss_samples": self.sampler.samples,
            "audit": {"lost": audit.lost, "mismatched": audit.mismatched,
                      "duplicates": audit.duplicates, "unexpected": audit.unexpected,
                      "notes": audit.notes},
        })
        e2e = {
            "rows_per_s": rows_per_s,
            "lag_p50_s": p50.value,
            "lag_p90_s": p90.value,
            "sut_cpu_us_per_row": cpu["engine"] / rows * 1e6,
            "peak_rss_mb": self.sampler.peak_rss / 2**20,
            "setup_s": self.info["setup_s"],
        }
        self.trace_args = {"progress": progress, "windows": windows, "audit": audit,
                           "e2e": e2e}
        return {"correct": audit.failed == 0, "attempted": audit.attempted,
                "failed": audit.failed, "e2e": e2e}


WORKLOADS = {"wal_catchup": Run.wal_catchup, "backfill_tail": Run.backfill_tail}


def format_result(res: dict, trace: bool) -> dict:
    if trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in res["e2e"].items()}
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "go_pq_cdc_kafka_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a SIGTERM from whoever runs us still tears the environment down
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env_stamp = harness.stamp(ROOT, args.seed)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        run.start_env()
        res = WORKLOADS[args.workload](run)
        run.close()  # the event log is complete once Spark has stopped
        if args.trace:
            res["layers"] = traced.layers(run=run, **run.trace_args)
    except Exception as e:  # a crashed or stalled run counts as failed
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    finally:
        run.close()
        run.phase("closed")
        shutil.rmtree(run.work, ignore_errors=True)
    record = {"stamp": env_stamp, "info": run.info, **res}
    print(json.dumps(record, default=str), file=sys.stderr)
    print(json.dumps(format_result(res, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
