"""The benchmark's own math: percentiles, lag, process-tree accounting and
the delivery audit. Nothing here imports Spark or the engine, so
``selftest.py`` checks it in a second."""

from __future__ import annotations

import json
import math
import os
from collections import Counter
from dataclasses import dataclass, field
from decimal import Decimal, InvalidOperation


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Pct:
    """A percentile with its sample support: ``beyond`` is how many samples
    lie strictly above ``value``; a percentile backed by fewer than ten
    such samples is set by a handful of outliers."""

    value: float
    n: int
    beyond: int


def percentile(samples: list[float], q: float) -> Pct:
    """Nearest-rank percentile (``q`` in [0, 1]) of ``samples``: the smallest
    sample with at least ``q`` of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    s = sorted(samples)
    rank = max(1, math.ceil(q * len(s)))
    v = s[rank - 1]
    beyond = len(s) - _upper_bound(s, v)
    return Pct(value=v, n=len(s), beyond=beyond)


def _upper_bound(s: list[float], v: float) -> int:
    lo, hi = 0, len(s)
    while lo < hi:
        mid = (lo + hi) // 2
        if s[mid] <= v:
            lo = mid + 1
        else:
            hi = mid
    return lo


def median(samples: list[float]) -> float:
    s = sorted(samples)
    if not s:
        raise ValueError("median of an empty sample")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


# ---------------------------------------------------------------------------
# lag
# ---------------------------------------------------------------------------


def lags_s(due_us: list[int], visible_s: list[float]) -> list[float]:
    """Per-row lag: the time a row became visible to a consumer minus the
    time it was due (open-loop schedule, or the start of a drain). A
    generator stall therefore counts against every row behind it."""
    if len(due_us) != len(visible_s):
        raise ValueError("due and visible stamps must pair up")
    return [v - d / 1e6 for d, v in zip(due_us, visible_s)]


# ---------------------------------------------------------------------------
# process-tree CPU and RSS (Linux /proc)
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


@dataclass(frozen=True)
class ProcSample:
    pid: int
    ppid: int
    comm: str
    #: user+sys of the process itself, seconds
    self_cpu_s: float
    #: user+sys of its waited-for (reaped) children, seconds
    reaped_cpu_s: float
    rss_bytes: int


def read_proc(pid: int, proc_root: str = "/proc") -> ProcSample | None:
    try:
        with open(f"{proc_root}/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may contain spaces and parentheses: split at the LAST ')'
    r = raw.rfind(")")
    comm = raw[raw.find("(") + 1 : r]
    fields = raw[r + 2 :].split()
    # fields[0] is state (stat field 3); stat field k is fields[k - 3]
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss_pages = int(fields[21])
    return ProcSample(
        pid=pid,
        ppid=ppid,
        comm=comm,
        self_cpu_s=(utime + stime) / _TICK,
        reaped_cpu_s=(cutime + cstime) / _TICK,
        rss_bytes=rss_pages * _PAGE,
    )


def list_pids(proc_root: str = "/proc") -> list[int]:
    return [int(d) for d in os.listdir(proc_root) if d.isdigit()]


def tree_of(root: int, samples: dict[int, ProcSample]) -> list[ProcSample]:
    """The live processes descended from ``root`` (root included)."""
    kids: dict[int, list[int]] = {}
    for s in samples.values():
        kids.setdefault(s.ppid, []).append(s.pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        s = samples.get(pid)
        if s is None:
            continue
        out.append(s)
        stack.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(tree: list[ProcSample]) -> float:
    """CPU of a process tree: each live member's own time plus the time of
    the children it has reaped. A child that exits and is waited for
    moves its total into its parent's reaped time, so the sum never drops
    when a worker ends; only children nobody waits for are lost."""
    return sum(p.self_cpu_s + p.reaped_cpu_s for p in tree)


def tree_rss_bytes(tree: list[ProcSample]) -> int:
    return sum(p.rss_bytes for p in tree)


# ---------------------------------------------------------------------------
# delivery audit
# ---------------------------------------------------------------------------


@dataclass
class Audit:
    """Outcome of matching the records a consumer saw against the changes
    the generator made. ``failed`` counts expected changes that were lost
    or arrived with the wrong content, plus duplicates where the delivery
    contract forbids them."""

    attempted: int
    lost: int = 0
    mismatched: int = 0
    duplicates: int = 0
    unexpected: int = 0
    exactly_once: bool = False
    notes: list[str] = field(default_factory=list)

    def add(self, other: "Audit") -> None:
        """Fold another part's audit into this one."""
        self.attempted += other.attempted
        self.lost += other.lost
        self.mismatched += other.mismatched
        self.duplicates += other.duplicates
        self.unexpected += other.unexpected
        self.notes += other.notes

    @property
    def failed(self) -> int:
        bad = self.lost + self.mismatched + self.unexpected
        if self.exactly_once:
            bad += self.duplicates
        return min(bad, self.attempted)

    @property
    def error_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def _norm(v) -> str | None:
    """Compare column values as PostgreSQL prints them, with numerics
    normalised (``10.50`` == ``10.5``)."""
    if v is None:
        return None
    s = str(v)
    try:
        return str(Decimal(s).normalize())
    except InvalidOperation:
        return s


def change_key(image: dict, op: str) -> tuple:
    """(pk, op, version) of one change event; DELETE images carry only the
    primary key under the default replica identity, so they have no
    version."""
    pk = int(image["id"])
    if op == "DELETE":
        return (pk, op, None)
    return (pk, op, int(image["ver"]))


def audit_changes(
    expected: dict[tuple, dict],
    observed_values: list[bytes],
    exactly_once: bool,
    check_cols: tuple[str, ...] = ("name", "email", "balance"),
) -> Audit:
    """Match consumer-visible record values (the engine's JSON image plus
    its ``operation`` field) against ``expected``: change key → image.

    Every expected change must be seen; a seen change must carry the
    expected column values; a change seen twice is a duplicate (counted
    as failed only under ``exactly_once``); a record matching no expected
    change is unexpected."""
    a = Audit(attempted=len(expected), exactly_once=exactly_once)
    seen: Counter = Counter()
    for raw in observed_values:
        try:
            doc = json.loads(raw)
            op = doc.get("operation")
            key = change_key(doc, op)
        except (ValueError, KeyError, TypeError):
            a.unexpected += 1
            continue
        want = expected.get(key)
        if want is None:
            a.unexpected += 1
            continue
        seen[key] += 1
        if seen[key] > 1:
            continue  # content was judged on the first copy
        if op != "DELETE" and any(
            _norm(doc.get(c)) != _norm(want.get(c)) for c in check_cols
        ):
            a.mismatched += 1
            if len(a.notes) < 3:
                a.notes.append(f"mismatch {key}: got {doc} want {want}")
    a.lost = sum(1 for k in expected if seen[k] == 0)
    a.duplicates = sum(c - 1 for c in seen.values() if c > 1)
    return a


def final_state_mismatches(
    last_events: dict[int, tuple[str, dict]], table_rows: dict[int, dict],
    check_cols: tuple[str, ...] = ("ver", "name", "email", "balance"),
) -> int:
    """Keys whose last delivered event disagrees with the source table's
    final row: a deleted key must be absent, a live key's last image must
    equal the row."""
    bad = 0
    for pk in set(last_events) | set(table_rows):
        ev = last_events.get(pk)
        row = table_rows.get(pk)
        if row is None:
            bad += ev[0] != "DELETE"
        elif ev is None or ev[0] == "DELETE" or any(
            _norm(ev[1].get(c)) != _norm(row.get(c)) for c in check_cols
        ):
            bad += 1
    return bad
