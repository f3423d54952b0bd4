"""Per-layer metrics of a traced run.

Sources, all read from outside the engine's code: Spark's per-trigger
progress (``durationMs``), the ``SB_PROFILE`` produce-task timers, the
shim's spans and counters, Spark's event log, the /proc samples of the
process trees, the slot-lag poll, the load generator's report and the
delivery audit. Every workload reports every metric; a layer a workload
does not use reads 0."""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime, timezone

import stats

UNITS = {
    "loadgen.late_p99_s": "s",
    "loadgen.rows": "count",
    "sources.raw.latest_offset_s_p50": "s",
    "sources.raw.frames_per_batch_p50": "count",
    "sources.raw.runner_cpu_s": "s",
    "sources.raw.slot_lag_mb_p50": "MB",
    "sources.raw.slot_lag_mb_max": "MB",
    "sources.pgoutput.decode_s": "s",
    "sources.pgoutput.events": "count",
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.trigger_s_p50": "s",
    "streaming.pipeline.trigger_s_p90": "s",
    "streaming.pipeline.add_batch_s_p50": "s",
    "streaming.pipeline.planning_s_p50": "s",
    "streaming.pipeline.commit_s_p50": "s",
    "streaming.pipeline.pull_s": "s",
    "streaming.pipeline.marshal_s": "s",
    "streaming.pipeline.send_s": "s",
    "streaming.pipeline.txn_s": "s",
    "streaming.pipeline.tasks": "count",
    "streaming.kafka_wire.send_records_s": "s",
    "streaming.kafka_wire.send_records_calls": "count",
    "streaming.kafka_wire.records": "count",
    "streaming.kafka_wire.encode_s": "s",
    "sources.snapshot.scan_s": "s",
    "sources.snapshot.pages": "count",
    "sources.snapshot.rows": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "setup.session_s": "s",
    "setup.first_delivery_s": "s",
    "sut.jvm_cpu_s": "s",
    "sut.py_worker_cpu_s": "s",
    "sut.driver_py_cpu_s": "s",
    "sut.jvm_rss_mb_max": "MB",
    "sut.py_rss_mb_max": "MB",
    "postgres.cpu_s": "s",
    "streaming.minibroker.cpu_s": "s",
    "audit.duplicates": "count",
    "audit.error_share": "ratio",
    # blocking path of one trigger (p50 over triggers): latestOffset →
    # planning → addBatch (split by the produce tasks' pull/marshal/send/
    # txn shares) → offset and commit log writes
    "path.latest_offset_s": "s",
    "path.planning_s": "s",
    "path.pull_s": "s",
    "path.marshal_s": "s",
    "path.send_s": "s",
    "path.txn_s": "s",
    "path.commit_s": "s",
    "path.other_s": "s",
    # the traced run's own end-to-end figures; the tracing overhead is
    # these minus an untraced run of the same seed (see TRACE_REPORT.md)
    "trace.rows_per_s": "rows/s",
    "trace.lag_p50_s": "s",
}

_MB = 2.0**20


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).replace(
        tzinfo=timezone.utc).timestamp()


def _p(vals: list[float], q: float) -> float:
    return stats.percentile(vals, q).value if vals else 0.0


def inside(t: float, windows: list[tuple[dict, dict]], slack: float = 0.0) -> bool:
    """Whether time ``t`` falls in one of the timed windows (pairs of
    start/end marks), widened by ``slack`` seconds at the start."""
    return any(m0["t"] - slack <= t <= m1["t"] for m0, m1 in windows)


def window_batches(progress: list[dict], windows: list[tuple[dict, dict]]) -> list[dict]:
    """Triggers with input that started in a timed window. A trigger that
    started before a window's opening mark carries none of its rows: the
    catch-up restarts after the mark, and the tail's first row is due
    after it."""
    return [p for p in progress
            if (p.get("numInputRows") or 0) > 0 and inside(_ts(p["timestamp"]), windows)]


def match_profiles(batches: list[dict], profiles: list[tuple[float, dict]]) -> list[dict | None]:
    """The ``SB_PROFILE`` line each batch printed: the first one received
    after the batch started and before it ended (plus pipe slack)."""
    out, used = [], set()
    for b in batches:
        start = _ts(b["timestamp"])
        end = start + b["durationMs"].get("triggerExecution", 0) / 1000.0 + 0.5
        hit = None
        for i, (t, prof) in enumerate(profiles):
            if i not in used and start <= t <= end:
                hit = i
                break
        if hit is not None:
            used.add(hit)
        out.append(None if hit is None else profiles[hit][1])
    return out


def blocking_path(batches: list[dict], profiles: list[dict | None]) -> dict[str, float]:
    parts: dict[str, list[float]] = {k: [] for k in (
        "latest_offset", "planning", "pull", "marshal", "send", "txn", "commit", "other")}
    for b, prof in zip(batches, profiles):
        d = {k: v / 1000.0 for k, v in b["durationMs"].items()}
        add = d.get("addBatch", 0.0)
        split = {k: 0.0 for k in ("pull", "marshal", "send", "txn")}
        if prof:
            tot = sum(prof[f"t_{k}_sum"] for k in split)
            if tot > 0:
                split = {k: add * prof[f"t_{k}_sum"] / tot for k in split}
        commit = d.get("walCommit", 0.0) + d.get("commitOffsets", 0.0)
        known = d.get("latestOffset", 0.0) + d.get("queryPlanning", 0.0) + add + commit
        parts["latest_offset"].append(d.get("latestOffset", 0.0))
        parts["planning"].append(d.get("queryPlanning", 0.0))
        for k, v in split.items():
            parts[k].append(v)
        parts["commit"].append(commit)
        parts["other"].append(max(0.0, d.get("triggerExecution", 0.0) - known))
    return {f"path.{k}_s": _p(v, 0.5) for k, v in parts.items()}


def read_spans(trace_dir: str, windows: list[tuple[dict, dict]]) -> list[dict]:
    out = []
    for path in glob.glob(os.path.join(trace_dir, "spans-*.jsonl")):
        with open(path) as f:
            for line in f:
                s = json.loads(line)
                if inside(s["start"], windows):
                    out.append(s)
    return out


def self_time(spans: list[dict], name: str) -> float:
    """Sum over ``name`` spans of duration minus the part covered by their
    child spans."""
    kids: dict[str, float] = {}
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
    return sum(s["end"] - s["start"] - kids.get(s["id"], 0.0)
               for s in spans if s["name"] == name)


def read_counters(trace_dir: str) -> dict[str, list]:
    total: dict[str, list] = {}
    for path in glob.glob(os.path.join(trace_dir, "counters-*.json")):
        with open(path) as f:
            for name, vals in json.load(f).items():
                acc = total.setdefault(name, [0.0, 0, 0])
                for i, v in enumerate(vals):
                    acc[i] += v
    return total


def runner_pids(trace_dir: str) -> list[int]:
    return [int(p.rsplit("-", 1)[1])
            for p in glob.glob(os.path.join(trace_dir, "role-raw_runner-*"))]


def event_log(log_dir: str, windows: list[tuple[dict, dict]]) -> dict[str, float]:
    """Task metrics of tasks that finished inside a timed window."""
    out = dict.fromkeys(("spark.shuffle_write_mb", "spark.shuffle_read_mb",
                         "spark.spill_mb", "spark.task_skew",
                         "spark.executor_cpu_s", "spark.gc_s"), 0.0)
    stages: dict[tuple, list[float]] = {}
    # Spark 4 writes a directory per application, events_<n>_* inside
    for path in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True):
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics")
                if not m or not inside(info.get("Finish Time", 0) / 1000.0, windows):
                    continue
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                out["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
                out["spark.shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
                out["spark.spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB
                out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                key = (ev.get("Stage ID"), ev.get("Stage Attempt ID"))
                stages.setdefault(key, []).append(float(m.get("Executor Run Time", 0)))
    if stages:
        widest = max(stages.values(), key=len)
        out["spark.task_skew"] = max(widest) / max(stats.median(widest), 1.0)
    return out


def delta(windows: list[tuple[dict, dict]], get) -> float:
    """Sum over the timed windows of ``get(end mark) - get(start mark)``."""
    return sum(get(m1) - get(m0) for m0, m1 in windows)


def layers(run, progress: list[dict], windows: list[tuple[dict, dict]],
           audit: stats.Audit, e2e: dict) -> dict[str, tuple]:
    trace_dir = os.path.join(run.work, "spans")
    vals: dict[str, float] = dict.fromkeys(UNITS, 0.0)
    lg = run.info.get("loadgen", {})
    vals["loadgen.late_p99_s"] = lg.get("late_p99_s", 0.0)
    vals["loadgen.rows"] = lg.get("rows", 0)

    batches = window_batches(progress, windows)
    profs = [(t, p) for t, p in run.engine.profiles if inside(t, windows, 1.0)]
    if batches:
        def dur(k):
            return [b["durationMs"].get(k, 0) / 1000.0 for b in batches]

        trig = dur("triggerExecution")
        vals.update({
            "sources.raw.latest_offset_s_p50": _p(dur("latestOffset"), 0.5),
            "sources.raw.frames_per_batch_p50": _p([b["numInputRows"] for b in batches], 0.5),
            "streaming.pipeline.batches": len(batches),
            "streaming.pipeline.trigger_s_p50": _p(trig, 0.5),
            "streaming.pipeline.trigger_s_p90": _p(trig, 0.9),
            "streaming.pipeline.add_batch_s_p50": _p(dur("addBatch"), 0.5),
            "streaming.pipeline.planning_s_p50": _p(dur("queryPlanning"), 0.5),
            "streaming.pipeline.commit_s_p50": _p(
                [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))], 0.5),
        })
        vals.update(blocking_path(batches, match_profiles(batches, profs)))
    for _, prof in profs:
        for k in ("pull", "marshal", "send", "txn"):
            vals[f"streaming.pipeline.{k}_s"] += prof[f"t_{k}_sum"]
        vals["streaming.pipeline.tasks"] += prof["tasks"]

    spans = read_spans(trace_dir, windows)
    sends = [s for s in spans if s["name"] == "kafka_wire.send_records"]
    pages = [s for s in spans if s["name"] == "snapshot.page"]
    vals.update({
        "streaming.kafka_wire.send_records_s": self_time(spans, "kafka_wire.send_records"),
        "streaming.kafka_wire.send_records_calls": len(sends),
        "streaming.kafka_wire.records": sum(s.get("records", 0) for s in sends),
        "streaming.kafka_wire.encode_s": self_time(spans, "kafka_wire.encode"),
        "sources.snapshot.scan_s": self_time(spans, "snapshot.page"),
        "sources.snapshot.pages": len(pages),
        "sources.snapshot.rows": sum(s.get("rows", 0) for s in pages),
    })
    none = [0.0, 0, 0]
    vals["sources.pgoutput.decode_s"] = delta(
        windows, lambda m: m["counters"].get("pgoutput.decode", none)[0])
    vals["sources.pgoutput.events"] = delta(
        windows, lambda m: m["counters"].get("pgoutput.decode", none)[1])
    runners = runner_pids(trace_dir)
    vals["sources.raw.runner_cpu_s"] = delta(
        windows, lambda m: sum(m["pids"].get(pid, 0.0) for pid in runners))
    if run.slot_lag is not None:
        lag = [v for t, v in run.slot_lag.samples if inside(t, windows)]
        vals["sources.raw.slot_lag_mb_p50"] = _p(lag, 0.5)
        vals["sources.raw.slot_lag_mb_max"] = max(lag, default=0.0)

    vals.update(event_log(os.path.join(run.work, "eventlog"), windows))
    vals.update({
        "setup.session_s": run.info["session_s"],
        "setup.first_delivery_s": run.info["first_delivery_s"],
        "sut.jvm_cpu_s": delta(windows, lambda m: m["jvm"]),
        "sut.py_worker_cpu_s": delta(windows, lambda m: m["py_worker"]),
        "sut.driver_py_cpu_s": delta(windows, lambda m: m["driver_py"]),
        "sut.jvm_rss_mb_max": run.sampler.peak_jvm_rss / _MB,
        "sut.py_rss_mb_max": run.sampler.peak_py_rss / _MB,
        "postgres.cpu_s": delta(windows, lambda m: m["pg"]),
        "streaming.minibroker.cpu_s": delta(windows, lambda m: m["broker"]),
        "audit.duplicates": audit.duplicates,
        "audit.error_share": audit.error_share,
        "trace.rows_per_s": e2e["rows_per_s"],
        "trace.lag_p50_s": e2e["lag_p50_s"],
    })
    return {k: (float(vals[k]), UNITS[k]) for k in UNITS}
