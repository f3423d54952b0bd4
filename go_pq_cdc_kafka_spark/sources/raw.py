"""Raw-frame replication source + executor-side pgoutput decode.

The ``pgwire`` source decodes pgoutput ON THE DRIVER (inside the python
data-source runner): correct, but every event pays Python decode + row
build + Arrow conversion under one GIL — measured ceiling ~50k rows/s
E2E (tools/live_bench.py). This module is the scale tier. It runs on the
same reader as ``pgwire`` (:class:`~go_pq_cdc_kafka_spark.sources.cdc.
ReplicationStreamReader`: one pump, restart, ack and replay path) and
supplies only the format's two steps. Its item stream only READS FRAMES
off the socket (a tag peek per message — I/O bound); its release step
ships them as an Arrow binary column, and the pgoutput decode runs in
EXECUTOR python workers via ``mapInPandas`` — parallel across
transaction groups, off the driver's GIL.

Design contracts:

- **Commit-aligned offsets**: ``read()`` only releases frames up to the
  last Commit in the drained window (the remainder carries over), so an
  offset is always a transaction boundary — exactly the resume points
  the slot protocol supports (mid-transaction offsets are not safe).
- **Relation preamble**: pgoutput sends each Relation message once per
  connection, but executor workers are stateless per micro-batch, so the
  pump keeps a registry of raw Relation payloads and PREPENDS one copy
  per transaction group to every batch (lsn 0 ⇒ sorts first).
- **Transaction groups**: each committed transaction gets a group id
  (round-robin); ``decode_raw_frames`` repartitions by group and sorts
  by (lsn, seq) within partitions, so every decoder instance sees
  well-formed transactions in WAL order — decode parallelism without
  breaking the sequential-decode requirement. Downstream consumers
  already order by ``lsn`` (LWW / SCD2), same as with the serial tier.
- **Large-transaction split**: a bulk load arrives as ONE transaction
  per batch, which whole-transaction grouping would pin to a single
  core. Transactions with >= ``splitframes`` frames therefore fan their
  DML body round-robin across ALL groups, replicating the Begin and
  Commit frames into each group — every partition still decodes a
  well-formed Begin..DML..Commit slice, and since non-streamed DML
  decode is stateless given the relation registry + Begin's timestamp
  state, the decoded events are identical, only their worker placement
  changes.
- **Protocol v1 only**: the release walker closes a transaction on
  Commit ('C'); a protocol-v2 Stream Commit ('c') would never release, so
  ``streaming=true`` or ``protoversion`` != 1 fails at construction.

The decoded output is bit-identical to the ``pgwire`` source's envelope
(tests/live/test_live_pg.py asserts parity on a real server).

Known limitation: every transaction in a batch decodes against the
relation versions as of the batch END (the preamble carries the latest
registry). If a table's schema evolves MID-batch (a DDL commit between
two transactions of the same ~1s micro-batch), rows from before the
change decode with the new column list. The serial ``pgwire`` tier
preserves exact in-stream relation ordering — use it when intra-batch
DDL fidelity matters more than throughput.
"""

from __future__ import annotations

import sys
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.datasource import DataSource
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from go_pq_cdc_kafka_spark.sources.cdc import ReplicationStreamReader

RAW_FORMAT_NAME = "pgwire-raw"

_RAW_SCHEMA = StructType(
    [
        StructField("lsn", LongType(), True),
        StructField("seq", LongType(), True),
        StructField("txgrp", IntegerType(), True),
        StructField("msg", BinaryType(), True),
    ]
)


def raw_schema() -> StructType:
    return _RAW_SCHEMA


def _cols_to_arrow(
    relations: dict[int, bytes],
    lsns: list[int],
    grps: list[int],
    msgs: list[bytes],
    groups: int,
):
    """Columnar batch assembly: the relation preamble (lsn/seq 0, one copy
    per group) is prepended, data seq is a numpy arange — no per-frame
    tuple or Python seq counter on the driver hot path."""
    import numpy as np
    import pyarrow as pa

    rel_msgs = list(relations.values())
    pre_n = groups * len(rel_msgs)
    n = len(lsns)
    lsn_arr = np.empty(pre_n + n, dtype=np.int64)
    lsn_arr[:pre_n] = 0
    lsn_arr[pre_n:] = lsns
    seq_arr = np.empty(pre_n + n, dtype=np.int64)
    seq_arr[:pre_n] = 0
    seq_arr[pre_n:] = np.arange(1, n + 1)
    grp_arr = np.empty(pre_n + n, dtype=np.int32)
    grp_arr[:pre_n] = np.repeat(np.arange(groups, dtype=np.int32), len(rel_msgs))
    grp_arr[pre_n:] = grps
    all_msgs = [m for g in range(groups) for m in rel_msgs] + msgs
    return pa.RecordBatch.from_arrays(
        [
            pa.array(lsn_arr, type=pa.int64()),
            pa.array(seq_arr, type=pa.int64()),
            pa.array(grp_arr, type=pa.int32()),
            pa.array(all_msgs, type=pa.binary()),
        ],
        names=["lsn", "seq", "txgrp", "msg"],
    )


def _emit_transaction(
    open_tx: list,
    lsns: list,
    grps: list,
    msgs: list,
    groups: int,
    split_frames: int,
    txgrp: int,
) -> int:
    """Append (lsn, seq, grp, msg) rows for ONE committed transaction.

    Small transactions stay whole on one round-robin group (WAL-ordered
    sequential decode). A large NON-STREAMED transaction (>= split_frames
    frames) is the bulk-load shape — released alone it would pin executor
    decode to a single core, capping the raw tier at serial speed — so its
    DML body fans out round-robin across ALL groups with the Begin and
    Commit frames REPLICATED into every group: each partition then decodes
    a well-formed Begin..DML-slice..Commit transaction. Non-streamed DML
    decode is stateless given the relation registry plus Begin's
    commit-timestamp state, so slicing cannot change any decoded event —
    only which worker emits it. Protocol-v2 streamed transactions carry
    per-message xids and abort semantics; they always stay whole.

    ``open_tx`` holds RAW XLogData frames (round 11): wal_start is
    unpacked here in one pass, and the 25-byte header is NOT stripped —
    the msg column ships whole frames and the executor decoders strip
    (decode_raw_frames), so the per-frame bytes copy leaves the driver
    GIL entirely."""
    import struct

    unpack = struct.unpack_from
    first_tag = open_tx[0][25]
    n = len(open_tx)
    if (
        split_frames
        and groups > 1
        and n >= split_frames
        and first_tag == 0x42  # 'B' — non-streamed Begin
    ):
        (b_lsn,) = unpack(">q", open_tx[0], 1)
        (c_lsn,) = unpack(">q", open_tx[-1], 1)
        b_msg, c_msg = open_tx[0], open_tx[-1]
        body = open_tx[1:-1]
        # append order IS seq order (seq = arange at batch assembly):
        # Begins first, body, then Commits — each group's slice sorts to
        # Begin..DMLs..Commit under the in-partition (lsn, seq) sort
        lsns.extend([b_lsn] * groups)
        grps.extend(range(groups))
        msgs.extend([b_msg] * groups)
        lsns.extend([unpack(">q", f, 1)[0] for f in body])
        grps.extend(i % groups for i in range(len(body)))
        msgs.extend(body)
        lsns.extend([c_lsn] * groups)
        grps.extend(range(groups))
        msgs.extend([c_msg] * groups)
        return txgrp
    grp = txgrp % groups
    lsns.extend([unpack(">q", f, 1)[0] for f in open_tx])
    grps.extend([grp] * n)
    msgs.extend(open_tx)
    return txgrp + 1


def _data_frames(
    frames: Iterator[bytes], relations: dict[int, bytes]
) -> Iterator[bytes]:
    """The raw tier's item stream: XLogData frames, RAW (round 11).

    HOT LOOP on the pump thread — it must keep realtime pace with the
    replication socket, and every Python op here is paid per frame under
    the driver GIL. The round-11 stream profile attributed the ~96-106k
    rows/s ceiling to exactly this path, so the loop does the MINIMUM per
    frame: one byte test for keepalives, one byte test for Relation.
    wal_start unpack, the 25-byte header strip, and tuple packing all
    live elsewhere (unpack in the release walker, the strip all the way
    in the executor decoders — see decode_raw_frames).

    NO per-frame lsn filter here: the first records of a transaction
    share wal_start with the PREVIOUS commit (live-PG-verified), so
    frame-level ``<= offset`` filtering silently drops the head of the
    first fresh transaction after a resume. Replayed history is discarded
    per-TRANSACTION by the walker instead."""
    import struct

    for frame in frames:
        if frame[0] != 119:  # not XLogData ('w'): keepalive
            continue
        if frame[25] == 82:  # Relation: registry only — the batch
            # preamble replays it to every group, so the data path would
            # only duplicate it into one group
            (relid,) = struct.unpack_from(">i", frame, 26)
            relations[relid] = bytes(frame[25:])
            continue
        yield frame


class _TxWalker:
    """Commit-aligned release, the one per-transaction walker behind both
    ``read`` and ``readBetweenOffsets``: frames gather into the open
    transaction, and each Commit ('C') either discards it — its commit lsn
    is <= ``skip_upto``, history the slot replays below the resume offset
    — or releases it through :func:`_emit_transaction`. Frames after the
    last Commit stay open for the next walk."""

    def __init__(self, groups: int, split_frames: int, skip_upto: int) -> None:
        self.groups, self.split_frames = groups, split_frames
        self.skip_upto = skip_upto
        self.open_tx: list[bytes] = []
        self.txgrp = 0

    def walk(self, frames, relations: dict[int, bytes], stop_at: int | None = None):
        """(Arrow batch, last released commit lsn) — (None, None) when no
        transaction was released. ``stop_at`` ends the walk at the first
        released commit with lsn >= it (the replay window's end)."""
        import struct

        unpack = struct.unpack_from
        lsns: list[int] = []
        grps: list[int] = []
        msgs: list[bytes] = []
        end_lsn = None
        for frame in frames:
            self.open_tx.append(frame)
            if frame[25] != 67:  # not a Commit
                continue
            (wal_start,) = unpack(">q", frame, 1)
            if wal_start > self.skip_upto:
                self.txgrp = _emit_transaction(
                    self.open_tx, lsns, grps, msgs,
                    self.groups, self.split_frames, self.txgrp,
                )
                end_lsn = wal_start
            self.open_tx = []
            if stop_at is not None and wal_start >= stop_at:
                break
        if end_lsn is None:
            return None, None
        return _cols_to_arrow(relations, lsns, grps, msgs, self.groups), end_lsn


class PgRawStreamReader(ReplicationStreamReader):
    """``pgwire-raw``: the pump queues raw XLogData frames (no decode on the
    driver); offset = ``{"lsn": <last committed>}`` — always a Commit
    boundary."""

    FORMAT = RAW_FORMAT_NAME
    BATCH_OPTION = ("maxframesperbatch", 500_000)

    def __init__(self, schema: StructType, options: dict) -> None:
        super().__init__(schema, options)
        if self.streaming or self.proto_version != 1:
            # the walker releases on Commit ('C') only: a protocol-v2
            # Stream Commit ('c') would never release its transaction
            raise ValueError(
                f"{RAW_FORMAT_NAME} streams protocol v1 only (got "
                f"protoversion={self.proto_version}, streaming="
                f"{str(self.streaming).lower()}); use format pgwire for v2"
            )
        self.groups = int(options.get("groups", 8))
        #: transactions with >= this many frames fan out across ALL groups
        #: (bulk-load shape: one huge tx per batch must not pin decode to
        #: a single core); 0 disables splitting
        self.split_frames = int(options.get("splitframes", 4096))
        #: raw Relation payloads by relid (replayed to every batch)
        self._relations: dict[int, bytes] = {}
        self._walker = None

    def _items(self, frames: Iterator[bytes], after_lsn: int) -> Iterator[bytes]:
        # a (re)started pump resumes at the commit-aligned batch start:
        # partial open transactions are discarded — the slot replays them
        # whole
        self._walker = _TxWalker(self.groups, self.split_frames, after_lsn)
        return _data_frames(frames, self._relations)

    def _release(self, frames: list[bytes]):
        return self._walker.walk(frames, self._relations)

    def _replay(self, frames: Iterator[bytes], start_lsn: int, end_lsn: int):
        relations: dict[int, bytes] = {}
        walker = _TxWalker(self.groups, self.split_frames, start_lsn)
        return walker.walk(_data_frames(frames, relations), relations, end_lsn)[0]


class PgRawDataSource(DataSource):
    """``spark.readStream.format("pgwire-raw")`` — raw pgoutput frames as
    (lsn, seq, txgrp, msg); pair with :func:`decode_raw_frames`."""

    @classmethod
    def name(cls) -> str:
        return RAW_FORMAT_NAME

    def schema(self) -> StructType:
        return _RAW_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> PgRawStreamReader:
        return PgRawStreamReader(schema, self.options)


def decode_raw_frames(
    frames: DataFrame, groups: int = 8, partitions: int | None = None
) -> DataFrame:
    """Raw (lsn, seq, txgrp, msg) frames → the dynamic envelope, decoded
    in EXECUTOR python workers: repartition by transaction group, restore
    WAL order within each partition, run the pgoutput decoder per
    partition. Each group sees whole transactions plus the Relation
    preamble, so decode state never crosses partitions."""
    import pandas as pd

    from go_pq_cdc_kafka_spark import envelope as ENV
    from go_pq_cdc_kafka_spark.sources import pgoutput as PO

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # streaming plans forbid sortWithinPartitions, and a shuffle's
        # within-partition order is not contractual anyway — collect the
        # partition's chunks and restore WAL order here (bounded by
        # maxframesperbatch / groups rows)
        chunks = [p for p in batches if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["lsn", "seq"], kind="mergesort"
        )
        decoder = PO.PgOutputDecoder()
        events: list[dict] = []
        for lsn, msg in zip(pdf["lsn"], pdf["msg"]):
            m = bytes(msg)
            # data rows arrive as WHOLE XLogData frames ('w' + 24-byte
            # header) since round 11 — the strip happens here, in
            # executor parallel, not under the driver GIL. The byte test
            # is exact because of what the pump puts in the msg column,
            # NOT tag case (protocol v2's Stream Commit tag is a
            # lowercase 'c'): the only bare pgoutput rows emitted are
            # Relation preambles ('R'); every data row ships as a whole
            # 'w' frame, so first-byte 'w' ⇔ strip-needed.
            if m and m[0] == 119:
                m = m[25:]
            events.extend(decoder.decode(int(lsn), m))
        if not events:
            return
        yield pd.DataFrame(
            {
                "op": [e["op"] for e in events],
                "event_time": pd.to_datetime(
                    [e["event_time"] for e in events], utc=True
                ),
                "lsn": [e["lsn"] for e in events],
                "table_namespace": [
                    e.get("table_namespace", "public") for e in events
                ],
                "table_name": [e["table_name"] for e in events],
                "before": [e.get("before") for e in events],
                "after": [e.get("after") for e in events],
            }
        )

    # hash-partitioning G group ids into G partitions leaves ~1/e of the
    # partitions empty (collisions); running with groups > partitions >
    # cores keeps every core fed — each partition may receive several
    # groups, which the in-partition (lsn, seq) sort already handles
    return frames.repartition(partitions or groups, "txgrp").mapInPandas(
        decode, schema=ENV.dynamic_envelope_schema()
    )


def register(spark) -> None:
    """Register the ``pgwire-raw`` format (same pickling story as
    :func:`go_pq_cdc_kafka_spark.sources.cdc.register`)."""
    import cloudpickle

    from go_pq_cdc_kafka_spark import envelope
    from go_pq_cdc_kafka_spark.session import ship_package

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(envelope)
    ship_package(spark)
    spark.dataSource.register(PgRawDataSource)
