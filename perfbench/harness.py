"""The benchmark's environment: its own PostgreSQL cluster, an
out-of-process MiniBroker, a /proc sampler for the engine's process tree,
and a consumer that stamps when each record becomes visible.

Everything here lives under one work directory inside the checkout and is
torn down by ``close()``; every child process is waited for."""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import sys
import threading
import time

import stats

#: source-side durability settings, fixed so the WAL writer's disk
#: behaviour is not part of the measurement; stamped into every result
PG_SETTINGS = {
    "wal_level": "logical",
    "max_wal_senders": "10",
    "max_replication_slots": "10",
    "fsync": "off",
    "synchronous_commit": "off",
    "full_page_writes": "off",
    "shared_buffers": "256MB",
    "max_wal_size": "2GB",
    "checkpoint_timeout": "30min",
    "wal_sender_timeout": "0",
}
PG_USER = "bench"
BROKER_PARTITIONS = 4


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _wait(proc: subprocess.Popen, timeout: float) -> None:
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)


class PgCluster:
    """A throwaway PostgreSQL cluster in ``<work>/pg``. PostgreSQL refuses
    to run as root, so when the benchmark runs as root the server runs in
    a user namespace that maps it to an unprivileged id while it keeps
    access to the checkout's files."""

    def __init__(self, work: str) -> None:
        self.data = os.path.join(work, "pg")
        self.log_path = os.path.join(work, "pg.log")
        self.port = free_port()
        self.dsn = f"postgresql://{PG_USER}@127.0.0.1:{self.port}/postgres"
        self.proc: subprocess.Popen | None = None

    def _cmd(self, argv: list[str]) -> list[str]:
        if os.geteuid() != 0:
            return argv
        return ["unshare", "--user", "--map-user=1000", "--map-group=1000", *argv]

    def start(self) -> "PgCluster":
        shutil.rmtree(self.data, ignore_errors=True)
        subprocess.run(
            self._cmd(["initdb", "-D", self.data, "-U", PG_USER, "--auth=trust",
                       "--no-sync"]),
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        opts = {
            **PG_SETTINGS,
            "port": str(self.port),
            "listen_addresses": "127.0.0.1",
            "unix_socket_directories": "",
        }
        argv = ["postgres", "-D", self.data]
        for k, v in opts.items():
            argv += ["-c", f"{k}={v}"]
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(
                self._cmd(argv), stdout=log, stderr=subprocess.STDOUT
            )
        from go_pq_cdc_kafka_spark.sources import wire

        deadline = time.monotonic() + 30
        while True:
            try:
                wire.ReplicationConnection(**wire.parse_dsn(self.dsn)).connect().close()
                return self
            except (OSError, wire.WireError):
                if self.proc.poll() is not None or time.monotonic() > deadline:
                    raise RuntimeError("PostgreSQL did not start; see pg.log")
                time.sleep(0.05)

    def connect(self):
        from go_pq_cdc_kafka_spark.sources import wire

        return wire.ReplicationConnection(**wire.parse_dsn(self.dsn)).connect()

    def close(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            self.proc.terminate()  # SIGTERM: smart shutdown after clients go
            _wait(self.proc, 20)
        shutil.rmtree(self.data, ignore_errors=True)


class Broker:
    """MiniBroker in its own process with a fixed partition count."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "go_pq_cdc_kafka_spark.streaming.minibroker",
             "--partitions", str(BROKER_PARTITIONS)],
            stdout=subprocess.PIPE, text=True,
        )
        ready = self.proc.stdout.readline().split()
        if ready[:1] != ["READY"]:
            self.close()
            raise RuntimeError(f"broker did not start: {ready}")
        self.bootstrap = ready[1]

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            _wait(self.proc, 10)
        self.proc.stdout.close()


class TreeSampler:
    """Samples /proc every ``period`` seconds: summed RSS of the engine's
    process tree (peak kept), and on ``mark`` the CPU of the engine tree by
    part plus the PostgreSQL and broker trees."""

    def __init__(self, engine_pid: int, pg_pid: int, broker_pid: int,
                 period: float = 0.25) -> None:
        self.roots = {"engine": engine_pid, "pg": pg_pid, "broker": broker_pid}
        self.period = period
        self.peak_rss = 0
        self.peak_jvm_rss = 0
        self.peak_py_rss = 0
        self.samples = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _snapshot(self) -> dict[int, stats.ProcSample]:
        out = {}
        for pid in stats.list_pids():
            s = stats.read_proc(pid)
            if s is not None:
                out[pid] = s
        return out

    def _parts(self, tree: list[stats.ProcSample]) -> dict[str, list]:
        root = self.roots["engine"]
        parts: dict[str, list] = {"driver_py": [], "jvm": [], "py_worker": []}
        for p in tree:
            if p.pid == root:
                parts["driver_py"].append(p)
            elif p.comm == "java":
                parts["jvm"].append(p)
            else:
                parts["py_worker"].append(p)
        return parts

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            tree = stats.tree_of(self.roots["engine"], self._snapshot())
            parts = self._parts(tree)
            with self._lock:
                self.samples += 1
                self.peak_rss = max(self.peak_rss, stats.tree_rss_bytes(tree))
                self.peak_jvm_rss = max(
                    self.peak_jvm_rss, stats.tree_rss_bytes(parts["jvm"]))
                self.peak_py_rss = max(
                    self.peak_py_rss,
                    stats.tree_rss_bytes(parts["py_worker"] + parts["driver_py"]))

    def mark(self) -> dict:
        """CPU seconds so far: engine tree (total and by part), the
        PostgreSQL and broker trees, and every engine-tree pid."""
        snap = self._snapshot()
        tree = stats.tree_of(self.roots["engine"], snap)
        out = {"engine": stats.tree_cpu_s(tree), "t": time.time()}
        for part, procs in self._parts(tree).items():
            out[part] = stats.tree_cpu_s(procs)
        for name in ("pg", "broker"):
            out[name] = stats.tree_cpu_s(stats.tree_of(self.roots[name], snap))
        out["pids"] = {p.pid: p.self_cpu_s + p.reaped_cpu_s for p in tree}
        # machine-wide: time the hypervisor gave our vCPUs to someone else
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        out["box_s"] = sum(ticks[:8]) / stats._TICK
        out["steal_s"] = ticks[7] / stats._TICK
        return out

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in a if k not in ("pids", "counters")}


class Observer:
    """A consumer outside the engine: polls every partition of ``topic``
    every ``period`` seconds (≤ 50 ms) and stamps each record with the
    wall time the fetch that returned it completed."""

    def __init__(self, bootstrap: str, topic: str, read_committed: bool,
                 period: float = 0.05) -> None:
        from go_pq_cdc_kafka_spark.streaming.kafka_wire import KafkaWireConsumer

        self.topic = topic
        self.iso = 1 if read_committed else 0
        self.period = period
        self.consumer = KafkaWireConsumer(bootstrap)
        self.consumer.await_topics([topic])
        self.next = {p: 0 for p in range(BROKER_PARTITIONS)}
        self.stamps: list[float] = []
        self.values: list[bytes] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self.error: Exception | None = None
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _poll_once(self) -> None:
        for p in self.next:
            while True:
                recs, hwm = self.consumer.fetch(
                    self.topic, p, offset=self.next[p], max_bytes=8 << 20,
                    max_wait_ms=0, isolation_level=self.iso,
                )
                stamp = time.time()
                nxt = self.consumer._fetch_next_offset
                if recs:
                    with self._lock:
                        self.stamps.extend([stamp] * len(recs))
                        self.values.extend(r.value for r in recs)
                if nxt is None or nxt <= self.next[p]:
                    break
                self.next[p] = nxt
                if nxt >= hwm:
                    break

    def _loop(self) -> None:
        try:
            while not self._stop.is_set():
                t0 = time.monotonic()
                self._poll_once()
                self._stop.wait(max(0.0, self.period - (time.monotonic() - t0)))
        except Exception as e:  # surfaced by wait_for / close
            self.error = e

    @property
    def count(self) -> int:
        with self._lock:
            return len(self.values)

    def wait_for(self, n: int, timeout: float, alive=lambda: True) -> bool:
        deadline = time.monotonic() + timeout
        while self.count < n:
            if self.error is not None:
                raise self.error
            if time.monotonic() > deadline or not alive():
                return False
            time.sleep(0.01)
        return True

    def settle(self, quiet: float = 0.5) -> None:
        """Wait until no new record arrived for ``quiet`` seconds (so
        duplicates from a replay are counted)."""
        last, t_last = self.count, time.monotonic()
        while time.monotonic() - t_last < quiet:
            time.sleep(self.period)
            if self.count != last:
                last, t_last = self.count, time.monotonic()

    def snapshot(self, start: int = 0) -> tuple[list[float], list[bytes]]:
        with self._lock:
            return self.stamps[start:], self.values[start:]

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.consumer.close()


def git_commit(root: str) -> str:
    """git HEAD, or in a checkout without git a hash of the engine's
    sources (``src-<sha256 prefix>``)."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=5,
        )
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(root, "go_pq_cdc_kafka_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return "src-" + h.hexdigest()[:12]


def stamp(root: str, seed: int) -> dict:
    """Environment stamp every result carries."""
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        from boxscore import box_score

        box = box_score(seconds_budget=0.5)
    finally:
        sys.path.pop(0)
    return {
        **box,
        "nproc": os.cpu_count(),
        "load_1m": round(os.getloadavg()[0], 2),
        "commit": git_commit(root),
        "seed": seed,
        "pg_settings": PG_SETTINGS,
        "broker_partitions": BROKER_PARTITIONS,
    }
