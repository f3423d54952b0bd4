"""Seeded load generator. The plans are pure functions of the seed, so the
harness rebuilds the expected change set from the same call the generator
process executes; the engine only ever sees the rows in PostgreSQL.

As a process (``python3 loadgen.py <mode> <dsn> <json-args>``) it writes a
plan into the benchmark's table and prints one JSON line of its own
timing: ``catchup`` and ``snapshot`` load as fast as PostgreSQL takes them;
``live`` commits each transaction at its scheduled time (open loop) and
reports how late it ran."""

from __future__ import annotations

import json
import os
import random
import sys
import time
from dataclasses import dataclass, field

TABLE = "bench_users"
#: warm-up rows live above this id so the audit can tell them apart
WARM_BASE = 1_000_000_000

DDL = [
    f"CREATE TABLE {TABLE} (id bigint PRIMARY KEY, name text NOT NULL, "
    "email text, ver int NOT NULL, balance numeric(12,2), due_us bigint, "
    "created_on timestamptz NOT NULL DEFAULT now())",
]


@dataclass
class Txn:
    #: seconds after the schedule start (live plans); 0 for bulk plans
    due_s: float = 0.0
    inserts: list[tuple[int, str, str, str]] = field(default_factory=list)
    updates: list[tuple[int, str]] = field(default_factory=list)
    deletes: list[int] = field(default_factory=list)

    @property
    def rows(self) -> int:
        return len(self.inserts) + len(self.updates) + len(self.deletes)


@dataclass
class Plan:
    txns: list[Txn]
    #: change key (pk, op, ver) → the image's checked columns
    expected: dict[tuple, dict]
    #: pk → final row (ver, name, email, balance) after the plan
    final: dict[int, dict]


def _row(rng: random.Random, pk: int) -> tuple[int, str, str, str]:
    return (pk, f"User-{pk}-{rng.randrange(10**6)}", f"user{pk}@example.com",
            f"{rng.randrange(1, 10**7) / 100:.2f}")


class _Live:
    """Keys alive in the table, with O(1) random pick and removal."""

    def __init__(self) -> None:
        self.keys: list[int] = []
        self.pos: dict[int, int] = {}

    def add(self, pk: int) -> None:
        self.pos[pk] = len(self.keys)
        self.keys.append(pk)

    def remove(self, pk: int) -> None:
        i = self.pos.pop(pk)
        last = self.keys.pop()
        if last != pk:
            self.keys[i] = last
            self.pos[last] = i

    def pick(self, rng: random.Random, k: int, exclude: set) -> list[int]:
        out: list[int] = []
        tries = 0
        while len(out) < k and self.keys and tries < 4 * k + 8:
            tries += 1
            pk = self.keys[rng.randrange(len(self.keys))]
            if pk not in exclude:
                exclude.add(pk)
                out.append(pk)
        return out


def _mixed_plan(seed: int, n_events: int, txn_rows: int, p_update: float,
                p_delete: float, rate: float | None, first_id: int = 1) -> Plan:
    rng = random.Random(seed)
    live = _Live()
    state: dict[int, dict] = {}
    expected: dict[tuple, dict] = {}
    txns: list[Txn] = []
    next_id = first_id
    made = 0
    while made < n_events:
        t = Txn(due_s=(made / rate) if rate else 0.0)
        n = min(txn_rows, n_events - made)
        n_upd = sum(rng.random() < p_update for _ in range(n))
        n_del = sum(rng.random() < p_delete for _ in range(n - n_upd))
        touched: set = set()
        upd = live.pick(rng, n_upd, touched)
        dels = live.pick(rng, n_del, touched)
        for _ in range(n - len(upd) - len(dels)):
            pk, name, email, bal = _row(rng, next_id)
            next_id += 1
            t.inserts.append((pk, name, email, bal))
            state[pk] = {"ver": 1, "name": name, "email": email, "balance": bal}
            expected[(pk, "INSERT", 1)] = dict(state[pk])
            live.add(pk)
        for pk in upd:
            bal = f"{rng.randrange(1, 10**7) / 100:.2f}"
            t.updates.append((pk, bal))
            st = state[pk]
            st["ver"] += 1
            st["balance"] = bal
            expected[(pk, "UPDATE", st["ver"])] = dict(st)
        for pk in dels:
            t.deletes.append(pk)
            live.remove(pk)
            del state[pk]
            expected[(pk, "DELETE", None)] = {}
        made += t.rows
        txns.append(t)
    return Plan(txns=txns, expected=expected, final=state)


def catchup_plan(seed: int, events: int, first_id: int = 1) -> Plan:
    """~80 % INSERT, 15 % UPDATE, 5 % DELETE in ~100-row transactions,
    over keys from ``first_id`` on."""
    return _mixed_plan(seed, events, txn_rows=100, p_update=0.15,
                       p_delete=0.0588, rate=None, first_id=first_id)


def live_plan(seed: int, rate: float, seconds: float, first_id: int,
              txn_rows: int = 20) -> Plan:
    """Open-loop inserts (ids from ``first_id``) plus ~15 % updates of
    them at ``rate`` rows/s."""
    return _mixed_plan(seed, int(rate * seconds), txn_rows=txn_rows,
                       p_update=0.15, p_delete=0.0, rate=rate, first_id=first_id)


def snapshot_rows(seed: int, n: int, base: int = 0) -> list[tuple[int, str, str, str]]:
    rng = random.Random(seed)
    return [_row(rng, base + i) for i in range(1, n + 1)]


def snapshot_expected(rows) -> dict[tuple, dict]:
    return {(pk, "SNAPSHOT", 1): {"name": n, "email": e, "balance": b}
            for pk, n, e, b in rows}


# ---------------------------------------------------------------------------
# writing plans
# ---------------------------------------------------------------------------


def txn_sql(t: Txn, due_us: int | None, table: str = TABLE) -> str:
    due = "NULL" if due_us is None else str(due_us)
    parts = ["BEGIN"]
    if t.inserts:
        vals = ",".join(f"({pk},'{n}','{e}',1,{b},{due})" for pk, n, e, b in t.inserts)
        parts.append(
            f"INSERT INTO {table} (id,name,email,ver,balance,due_us) VALUES {vals}")
    if t.updates:
        vals = ",".join(f"({pk},{b})" for pk, b in t.updates)
        parts.append(
            f"UPDATE {table} t SET ver = t.ver + 1, balance = v.b::numeric, "
            f"due_us = {due} FROM (VALUES {vals}) AS v(id, b) WHERE t.id = v.id")
    if t.deletes:
        parts.append(
            f"DELETE FROM {table} WHERE id IN ({','.join(map(str, t.deletes))})")
    parts.append("COMMIT")
    return "; ".join(parts)


def copy_rows(conn, table: str, rows, chunk: int = 20_000) -> int:
    def chunks():
        for i in range(0, len(rows), chunk):
            yield "".join(
                f"{pk}\t{n}\t{e}\t1\t{b}\n" for pk, n, e, b in rows[i : i + chunk]
            ).encode()

    return conn.copy_in(
        f"COPY {table} (id,name,email,ver,balance) FROM STDIN", chunks())


def _connect(dsn: str):
    from go_pq_cdc_kafka_spark.sources import wire

    return wire.ReplicationConnection(**wire.parse_dsn(dsn)).connect()


def main() -> None:
    mode, dsn, args = sys.argv[1], sys.argv[2], json.loads(sys.argv[3])
    conn = _connect(dsn)
    t0 = time.monotonic()
    out: dict = {}
    try:
        if mode == "catchup":
            plan = catchup_plan(**args)
            for t in plan.txns:
                conn.simple_query(txn_sql(t, None))
            out["rows"] = sum(t.rows for t in plan.txns)
        elif mode == "snapshot":
            rows = snapshot_rows(args["seed"], args["rows"], args.get("base", 0))
            out["rows"] = copy_rows(conn, args.get("table", TABLE), rows)
        elif mode == "live":
            plan = live_plan(args["seed"], args["rate"], args["seconds"], args["first_id"])
            start_us = args["start_us"]
            late: list[float] = []
            for t in plan.txns:
                due = start_us / 1e6 + t.due_s
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                late.append(max(0.0, time.time() - due))
                conn.simple_query(txn_sql(t, start_us + int(t.due_s * 1e6)))
            late.sort()
            out["rows"] = sum(t.rows for t in plan.txns)
            out["late_p99_s"] = late[min(len(late) - 1, int(0.99 * len(late)))]
            out["late_max_s"] = late[-1]
        else:
            raise SystemExit(f"unknown mode {mode!r}")
    finally:
        conn.close()
    out["wall_s"] = time.monotonic() - t0
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
