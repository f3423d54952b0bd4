"""Tracing shim for the benchmark's traced runs.

The harness puts this directory on ``PYTHONPATH`` only when it traces, so
every Python process of the engine (driver, data-source runner, workers)
imports it at start-up. Once ``PERFBENCH_TRACE_DIR`` is set it wraps a few
public functions of the engine as their modules load:

- ``KafkaWireProducer.send_records`` and ``encode_record_batch``: spans;
- ``ReplicationConnection.simple_query`` for snapshot page queries: spans;
- ``PgOutputDecoder.decode``: a time and event counter (one call per WAL
  message is too fine for a span each);
- ``frame_source_from_dsn``: tags the process that runs the replication
  pump, so the harness can charge that process's CPU to it.

Spans (name, start, end, id, parent) and counters stay in memory and a
background thread appends them to ``<dir>/spans-<pid>.jsonl`` and
``<dir>/counters-<pid>.json`` every quarter second (Spark ends its workers
with ``os._exit``, so an exit hook alone would lose them).
"""

import os

_DIR = os.environ.get("PERFBENCH_TRACE_DIR")

if _DIR:
    import importlib.abc
    import itertools
    import json
    import sys
    import threading
    import time

    _lock = threading.Lock()
    _spans: list = []
    _counters: dict = {}
    _ids = itertools.count(1)
    _local = threading.local()
    _state = {"pid": None, "dirty": False}

    def _flush() -> None:
        with _lock:
            spans, _spans[:] = list(_spans), []
            counters = dict(_counters) if _state["dirty"] else None
            _state["dirty"] = False
        pid = os.getpid()
        if spans:
            with open(os.path.join(_DIR, f"spans-{pid}.jsonl"), "a") as f:
                f.write("".join(json.dumps(s) + "\n" for s in spans))
        if counters is not None:
            path = os.path.join(_DIR, f"counters-{pid}.json")
            with open(path + ".tmp", "w") as f:
                json.dump(counters, f)
            os.replace(path + ".tmp", path)

    def _flusher() -> None:
        while True:
            time.sleep(0.25)
            _flush()

    def _ensure_flusher() -> None:
        # one flusher per process; forked workers start their own
        if _state["pid"] != os.getpid():
            _state["pid"] = os.getpid()
            threading.Thread(target=_flusher, daemon=True).start()

    def span(name, fn, attrs=None):
        def wrapped(*args, **kwargs):
            _ensure_flusher()
            stack = getattr(_local, "stack", None)
            if stack is None:
                stack = _local.stack = []
            sid = next(_ids)
            parent = stack[-1] if stack else None
            stack.append(sid)
            out = None
            t0 = time.time()
            try:
                out = fn(*args, **kwargs)
            finally:
                stack.pop()
                rec = {"name": name, "start": t0, "end": time.time(),
                       "id": f"{os.getpid()}:{sid}",
                       "parent": None if parent is None else f"{os.getpid()}:{parent}"}
                if attrs is not None:
                    rec.update(attrs(args, kwargs, out))
                with _lock:
                    _spans.append(rec)
            return out

        return wrapped

    def counter(name, fn, count):
        def wrapped(*args, **kwargs):
            _ensure_flusher()
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
            with _lock:
                c = _counters.setdefault(name, [0.0, 0, 0])
                c[0] += dt
                c[1] += count(out)
                c[2] += 1
                _state["dirty"] = True
            return out

        return wrapped

    def _patch_kafka_wire(m) -> None:
        P = m.KafkaWireProducer
        P.send_records = span(
            "kafka_wire.send_records", P.send_records,
            lambda a, k, out: {"records": len(a[1]) if len(a) > 1 else len(k["items"])})
        m.encode_record_batch = span("kafka_wire.encode", m.encode_record_batch)

    def _patch_pgoutput(m) -> None:
        D = m.PgOutputDecoder
        D.decode = counter("pgoutput.decode", D.decode, len)

    def _patch_wire(m) -> None:
        C = m.ReplicationConnection
        plain = C.simple_query
        paged = span("snapshot.page", plain,
                     lambda a, k, out: {"rows": len(out) if out is not None else 0})

        def simple_query(self, sql):
            if sql.startswith("SELECT * FROM"):
                return paged(self, sql)
            return plain(self, sql)

        C.simple_query = simple_query
        fsd = m.frame_source_from_dsn

        def frame_source_from_dsn(*args, **kwargs):
            open(os.path.join(_DIR, f"role-raw_runner-{os.getpid()}"), "w").close()
            return fsd(*args, **kwargs)

        m.frame_source_from_dsn = frame_source_from_dsn

    _PATCHES = {
        "go_pq_cdc_kafka_spark.streaming.kafka_wire": _patch_kafka_wire,
        "go_pq_cdc_kafka_spark.sources.pgoutput": _patch_pgoutput,
        "go_pq_cdc_kafka_spark.sources.wire": _patch_wire,
    }

    class _PatchingLoader(importlib.abc.Loader):
        def __init__(self, inner, patch) -> None:
            self.inner, self.patch = inner, patch

        def create_module(self, spec):
            return self.inner.create_module(spec)

        def exec_module(self, module) -> None:
            self.inner.exec_module(module)
            self.patch(module)

    class _Finder(importlib.abc.MetaPathFinder):
        def find_spec(self, name, path, target=None):
            patch = _PATCHES.get(name)
            if patch is None:
                return None
            for finder in sys.meta_path:
                if finder is self or not hasattr(finder, "find_spec"):
                    continue
                spec = finder.find_spec(name, path, target)
                if spec is not None and spec.loader is not None:
                    spec.loader = _PatchingLoader(spec.loader, patch)
                    return spec
            return None

    sys.meta_path.insert(0, _Finder())
