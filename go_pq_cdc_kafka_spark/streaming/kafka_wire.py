"""From-scratch Kafka wire-protocol client (producer + minimal consumer).

The reference produces through kafka-go (kafka/producer.go:1-88 via
segmentio/kafka-go); this module replaces that *upstream dependency* with a
pure-Python implementation of the public Apache Kafka protocol
(https://kafka.apache.org/protocol) — the same move sources/wire.py makes
for PostgreSQL's replication protocol instead of depending on go-pq-cdc.
Nothing here is derived from the reference repo: the byte layouts come from
the Kafka protocol guide and KIP-98 (record batch v2).

Why it exists: the sandbox has no spark-sql-kafka connector jar and no
broker, so the ``kafka.*``-option sink (streaming/kafka.py) can never
execute here. This client can — executor-side via ``mapInPandas`` (see
pipeline.CdcPipeline.to_kafka_wire), against any real Kafka >= 0.11 broker
or the protocol-conformance MiniBroker (streaming/minibroker.py) used by
the tests.

Protocol surface (deliberately non-flexible, pre-KIP-482 versions — fixed
layouts every broker since 0.11 supports):

- ApiVersions v0            — handshake sanity check
- Metadata v1               — partition counts + leader discovery
- Produce v3                — record batch v2 (magic=2) with CRC32C
- Fetch v4                  — read-back for verification / consumer tier

Scale posture: one producer instance per executor task, batches grouped by
(topic, partition) and produced in a single Produce request per leader —
the same connection/batch shape as the Java client. No driver-side loops.
"""

from __future__ import annotations

import gzip
import io
import socket
import struct
import threading
import time
import zlib
from dataclasses import dataclass, field
from typing import Iterator


# ---------------------------------------------------------------------------
# CRC32C (Castagnoli) — required by record batch v2. Table-driven,
# reflected polynomial 0x82F63B78 (public algorithm, RFC 3720 appendix).
# ---------------------------------------------------------------------------

def _make_crc32c_table() -> list[int]:
    table = []
    for i in range(256):
        crc = i
        for _ in range(8):
            crc = (crc >> 1) ^ 0x82F63B78 if crc & 1 else crc >> 1
        table.append(crc)
    return table


_CRC32C_TABLE = _make_crc32c_table()


def crc32c_py(data: bytes) -> int:
    """Portable table-driven CRC32C (the conformance reference; ~7 MiB/s)."""
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _load_native_crc32c():
    """Optional accelerator: ``ext2fs_crc32c_le`` from libext2fs (a stock
    hardware-accelerated Castagnoli on most Linux systems, ~1.4 GiB/s
    here). Pure-Python fallback keeps the module dependency-free; the test
    suite pins both against the public vectors."""
    import ctypes
    import ctypes.util

    name = ctypes.util.find_library("ext2fs")
    if not name:
        return None
    try:
        fn = ctypes.CDLL(name).ext2fs_crc32c_le
    except (OSError, AttributeError):
        return None
    fn.restype = ctypes.c_uint32
    fn.argtypes = [ctypes.c_uint32, ctypes.c_char_p, ctypes.c_size_t]

    def crc(data: bytes) -> int:
        return fn(0xFFFFFFFF, data, len(data)) ^ 0xFFFFFFFF

    # reject a library whose symbol exists but mismatches the algorithm
    return crc if crc(b"123456789") == 0xE3069283 else None


_native_crc32c = _load_native_crc32c()
crc32c = _native_crc32c or crc32c_py


# ---------------------------------------------------------------------------
# Murmur2 — the Java client's default-partitioner hash (public algorithm;
# matches org.apache.kafka.common.utils.Utils.murmur2). Keys land on the
# byte-identical partition a Java producer would pick (kafka.py Balancer
# MURMUR2 contract).
# ---------------------------------------------------------------------------

def murmur2(data: bytes) -> int:
    length = len(data)
    seed = 0x9747B28C
    m = 0x5BD1E995
    r = 24
    mask = 0xFFFFFFFF
    h = (seed ^ length) & mask
    n_blocks = length // 4
    for i in range(n_blocks):
        (k,) = struct.unpack_from("<i", data, i * 4)
        k = (k * m) & mask
        k ^= (k % 0x100000000) >> r
        k = (k * m) & mask
        h = (h * m) & mask
        h ^= k
    tail = data[n_blocks * 4:]
    if len(tail) >= 3:
        h ^= (tail[2] & 0xFF) << 16
    if len(tail) >= 2:
        h ^= (tail[1] & 0xFF) << 8
    if len(tail) >= 1:
        h ^= tail[0] & 0xFF
        h = (h * m) & mask
    h ^= h >> 13
    h = (h * m) & mask
    h ^= h >> 15
    return h


def partition_for_key(key: bytes | None, num_partitions: int, counter: int = 0) -> int:
    """Java default partitioner: murmur2(key) & 0x7fffffff % N; keyless
    records round-robin on ``counter`` (sticky-partitioner simplification)."""
    if key is None:
        return counter % num_partitions
    return (murmur2(key) & 0x7FFFFFFF) % num_partitions


def fnv1a32(data: bytes) -> int:
    """FNV-1a 32-bit — kafka-go's default balancer hash (public algorithm;
    Go stdlib hash/fnv New32a)."""
    h = 0x811C9DC5
    for b in data:
        h ^= b
        h = (h * 0x01000193) & 0xFFFFFFFF
    return h


class WireBalancer:
    """Partition-selection strategy for :class:`KafkaWireProducer` — the
    wire producer picks partitions itself, so ALL of the reference's
    balancer surface (config/config.go:40-57 GetBalancer → segmentio/
    kafka-go Balancer) is implementable here, including the three members
    the JVM sink rejects (LeastBytes / ReferenceHash / CRC32Balancer —
    kafka.py Balancer.partitioner_class). Each subclass reproduces the
    documented kafka-go algorithm over the topic's sorted partition-id
    list; instances carry per-producer state (round-robin cursors, byte
    counters) and are not shared across producers."""

    def partition(
        self, key: bytes | None, value: bytes | None, partitions: list[int]
    ) -> int:
        raise NotImplementedError

    def _random_index(self, n: int) -> int:
        # kafka-go's randomBalancer; seedable for deterministic tests
        import random as _random

        rng = getattr(self, "_rng", None)
        if rng is None:
            rng = _random.Random()
            self._rng = rng
        return rng.randrange(n)


class RoundRobinWireBalancer(WireBalancer):
    """kafka-go RoundRobin: cycle partitions regardless of key."""

    def __init__(self) -> None:
        self._cursor = 0

    def partition(self, key, value, partitions):
        pid = partitions[self._cursor % len(partitions)]
        self._cursor += 1
        return pid


class HashWireBalancer(WireBalancer):
    """kafka-go Hash (the reference default): FNV-1a over the key, then
    ``abs(int32(sum)) % len(partitions)`` (Go truncated modulus + negation
    of the signed 32-bit hash); nil keys fall back to round-robin."""

    def __init__(self) -> None:
        self._rr = RoundRobinWireBalancer()

    def partition(self, key, value, partitions):
        if key is None:
            return self._rr.partition(key, value, partitions)
        v = fnv1a32(key)
        s = v - 0x100000000 if v >= 0x80000000 else v
        return partitions[abs(s) % len(partitions)]


class ReferenceHashWireBalancer(WireBalancer):
    """kafka-go ReferenceHash: FNV-1a masked to 31 bits (the legacy Java
    producer's toPositive), ``% len(partitions)``; nil keys random."""

    def partition(self, key, value, partitions):
        if key is None:
            return partitions[self._random_index(len(partitions))]
        return partitions[(fnv1a32(key) & 0x7FFFFFFF) % len(partitions)]


class CRC32WireBalancer(WireBalancer):
    """kafka-go CRC32Balancer (librdkafka-default-compatible): CRC-32/IEEE
    of the key ``% len(partitions)``. Empty/nil keys go random unless
    ``consistent`` (librdkafka 'crc32' vs 'consistent_random_crc32')."""

    def __init__(self, consistent: bool = False) -> None:
        self.consistent = consistent

    def partition(self, key, value, partitions):
        if not key and not self.consistent:
            return partitions[self._random_index(len(partitions))]
        return partitions[zlib.crc32(key or b"") % len(partitions)]


class Murmur2WireBalancer(WireBalancer):
    """kafka-go Murmur2Balancer (librdkafka 'murmur2_random'-compatible,
    byte-identical placement to the Java default partitioner):
    ``(murmur2(key) & 0x7fffffff) % len(partitions)``; empty/nil keys go
    random unless ``consistent``."""

    def __init__(self, consistent: bool = False) -> None:
        self.consistent = consistent

    def partition(self, key, value, partitions):
        if not key and not self.consistent:
            return partitions[self._random_index(len(partitions))]
        return partitions[(murmur2(key or b"") & 0x7FFFFFFF) % len(partitions)]


class LeastBytesWireBalancer(WireBalancer):
    """kafka-go LeastBytes: route every record to the partition with the
    smallest cumulative key+value byte count so far. Counters reset when
    the partition set changes (kafka-go re-makes them on len mismatch)."""

    def __init__(self) -> None:
        self._counters: dict[int, int] = {}

    def partition(self, key, value, partitions):
        if set(self._counters) != set(partitions):
            self._counters = {p: 0 for p in partitions}
        pid = min(partitions, key=lambda p: (self._counters[p], p))
        self._counters[pid] += len(key or b"") + len(value or b"")
        return pid


#: reference GetBalancer names (config/config.go:40-57) → wire strategies;
#: "" = the reference's default (kafka-go Hash)
WIRE_BALANCERS: dict[str, type[WireBalancer]] = {
    "": HashWireBalancer,
    "Hash": HashWireBalancer,
    "LeastBytes": LeastBytesWireBalancer,
    "RoundRobin": RoundRobinWireBalancer,
    "ReferenceHash": ReferenceHashWireBalancer,
    "CRC32Balancer": CRC32WireBalancer,
    "Murmur2Balancer": Murmur2WireBalancer,
}


def wire_balancer(name: str) -> WireBalancer:
    """Balancer factory with the reference's loud-rejection contract
    (config.go:54-56 panics on unknown names)."""
    try:
        return WIRE_BALANCERS[name]()
    except KeyError:
        raise ValueError(
            f"invalid kafka balancer method, given: {name}"
        ) from None


# ---------------------------------------------------------------------------
# primitive codecs
# ---------------------------------------------------------------------------

def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_varint(out: bytearray, value: int) -> None:
    v = _zigzag_encode(value) & 0xFFFFFFFFFFFFFFFF
    if v < 0x80:  # single-byte fast path: lengths/deltas are usually tiny
        out.append(v)
        return
    while (v & ~0x7F) != 0:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return _zigzag_decode(result), pos


def _str(s: str | None) -> bytes:
    if s is None:
        return struct.pack(">h", -1)
    raw = s.encode("utf-8")
    return struct.pack(">h", len(raw)) + raw


def _bytes(b: bytes | None) -> bytes:
    if b is None:
        return struct.pack(">i", -1)
    return struct.pack(">i", len(b)) + b


class _Reader:
    """Cursor over a response body."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def i8(self) -> int:
        (v,) = struct.unpack_from(">b", self.buf, self.pos)
        self.pos += 1
        return v

    def i16(self) -> int:
        (v,) = struct.unpack_from(">h", self.buf, self.pos)
        self.pos += 2
        return v

    def i32(self) -> int:
        (v,) = struct.unpack_from(">i", self.buf, self.pos)
        self.pos += 4
        return v

    def i64(self) -> int:
        (v,) = struct.unpack_from(">q", self.buf, self.pos)
        self.pos += 8
        return v

    def string(self) -> str | None:
        n = self.i16()
        if n == -1:
            return None
        v = self.buf[self.pos:self.pos + n].decode("utf-8")
        self.pos += n
        return v

    def bytes_(self) -> bytes | None:
        n = self.i32()
        if n == -1:
            return None
        v = self.buf[self.pos:self.pos + n]
        self.pos += n
        return v


# ---------------------------------------------------------------------------
# record batch v2 (magic=2, KIP-98)
# ---------------------------------------------------------------------------

COMPRESSION_NONE = 0
COMPRESSION_GZIP = 1
COMPRESSION_SNAPPY = 2
COMPRESSION_LZ4 = 3
COMPRESSION_ZSTD = 4
_CODEC_BITS = 0x07
# record-batch attribute bits beyond the codec (KIP-98): bit 4 marks a
# transactional batch, bit 5 a control batch (commit/abort marker)
_TRANSACTIONAL_BIT = 0x10
_CONTROL_BIT = 0x20

# Kafka's snappy is xerial/snappy-java STREAM framing, not a bare block
# (kafka clients/common/compress since 0.8): 8-byte magic, two int32
# version fields, then repeated [int32 BE block length][raw snappy block].
# The raw block codec itself is the from-spec implementation shared with
# the Avro OCF path (sources/avro.py, google/snappy format_description.txt).
_XERIAL_MAGIC = b"\x82SNAPPY\x00"
_XERIAL_BLOCK = 32 * 1024  # snappy-java default block size


def _snappy_xerial_compress(data: bytes) -> bytes:
    from go_pq_cdc_kafka_spark.sources.avro import _snappy_compress

    out = bytearray(_XERIAL_MAGIC)
    out += struct.pack(">ii", 1, 1)  # version, compat-version
    for i in range(0, len(data), _XERIAL_BLOCK):
        block = _snappy_compress(data[i : i + _XERIAL_BLOCK])
        out += struct.pack(">i", len(block))
        out += block
    return bytes(out)


def _snappy_xerial_decompress(data: bytes) -> bytes:
    from go_pq_cdc_kafka_spark.sources.avro import _snappy_decompress

    if not data.startswith(_XERIAL_MAGIC):
        # some non-java clients ship a bare snappy block — accept it
        return _snappy_decompress(data)
    pos = len(_XERIAL_MAGIC) + 8
    out = bytearray()
    while pos < len(data):
        if pos + 4 > len(data):
            raise ValueError("snappy: truncated xerial block header")
        (blen,) = struct.unpack_from(">i", data, pos)
        pos += 4
        if blen < 0 or pos + blen > len(data):
            raise ValueError("snappy: truncated xerial block")
        out += _snappy_decompress(data[pos : pos + blen])
        pos += blen
    return bytes(out)


@dataclass(slots=True)  # no per-instance __dict__: Records are the
# producer hot path's dominant allocation
class Record:
    key: bytes | None
    value: bytes | None
    headers: list[tuple[str, bytes | None]] = field(default_factory=list)
    timestamp_ms: int | None = None
    offset: int = 0  # absolute offset, filled by the decoder


def _encode_record_into(
    payload: bytearray, body: bytearray, rec: Record,
    offset_delta: int, ts_delta: int,
) -> None:
    """Append one length-prefixed record to ``payload``, scratch-building
    the body in the caller's reused ``body`` buffer — no per-record
    allocations (the old build-bytes-then-copy shape cost two extra
    copies per record on the producer hot path)."""
    body.clear()
    body.append(0)  # record attributes (unused)
    write_varint(body, ts_delta)
    write_varint(body, offset_delta)
    if rec.key is None:
        write_varint(body, -1)
    else:
        write_varint(body, len(rec.key))
        body += rec.key
    if rec.value is None:
        write_varint(body, -1)
    else:
        write_varint(body, len(rec.value))
        body += rec.value
    write_varint(body, len(rec.headers))
    for hk, hv in rec.headers:
        hk_raw = hk.encode("utf-8")
        write_varint(body, len(hk_raw))
        body += hk_raw
        if hv is None:
            write_varint(body, -1)
        else:
            write_varint(body, len(hv))
            body += hv
    write_varint(payload, len(body))
    payload += body


def encode_record_batch(
    records: list[Record],
    base_timestamp_ms: int | None = None,
    compression: int = COMPRESSION_NONE,
    base_offset: int = 0,
    producer_id: int = -1,
    producer_epoch: int = -1,
    base_sequence: int = -1,
    transactional: bool = False,
    control: bool = False,
) -> bytes:
    """Encode one record batch (magic=2). CRC32C covers everything after the
    crc field, computed over the (possibly compressed) payload — the layout
    a real broker validates before accepting the batch. producer_id/epoch/
    base_sequence carry the idempotent-produce identity (KIP-98): brokers
    dedup replayed batches per (producerId, partition, sequence)."""
    if not records:
        raise ValueError("empty record batch")
    if base_timestamp_ms is None:
        base_timestamp_ms = next(
            (r.timestamp_ms for r in records if r.timestamp_ms is not None),
            int(time.time() * 1000),
        )
    max_ts = base_timestamp_ms
    payload = bytearray()
    scratch = bytearray()  # reused per record by _encode_record_into
    for i, rec in enumerate(records):
        ts = rec.timestamp_ms if rec.timestamp_ms is not None else base_timestamp_ms
        max_ts = max(max_ts, ts)
        _encode_record_into(payload, scratch, rec, i, ts - base_timestamp_ms)
    payload_bytes = bytes(payload)
    if compression == COMPRESSION_GZIP:
        payload_bytes = gzip.compress(payload_bytes, mtime=0)
    elif compression == COMPRESSION_SNAPPY:
        payload_bytes = _snappy_xerial_compress(payload_bytes)
    elif compression == COMPRESSION_LZ4:
        from go_pq_cdc_kafka_spark.streaming.lz4frame import (
            lz4_frame_compress,
        )

        payload_bytes = lz4_frame_compress(payload_bytes)
    elif compression == COMPRESSION_ZSTD:
        from go_pq_cdc_kafka_spark.streaming.zstdframe import zstd_compress

        payload_bytes = zstd_compress(payload_bytes)
    elif compression != COMPRESSION_NONE:
        raise ValueError(
            f"compression codec {compression} not implemented in pure Python "
            "(gzip/snappy/lz4/zstd only)"
        )

    attributes = compression & _CODEC_BITS
    if transactional:
        attributes |= _TRANSACTIONAL_BIT
    if control:
        attributes |= _CONTROL_BIT
    after_crc = (
        struct.pack(
            ">hiqqqhii",
            attributes,
            len(records) - 1,          # lastOffsetDelta
            base_timestamp_ms,
            max_ts,
            producer_id,
            producer_epoch,
            base_sequence,
            len(records),
        )
        + payload_bytes
    )
    crc = crc32c(after_crc)
    batch_tail = struct.pack(">ibI", -1, 2, crc) + after_crc  # leaderEpoch, magic, crc
    return struct.pack(">qi", base_offset, len(batch_tail)) + batch_tail


@dataclass
class BatchMeta:
    """Batch-level fields a transactional consumer filters on."""

    base_offset: int
    attributes: int
    producer_id: int
    record_count: int

    @property
    def is_control(self) -> bool:
        return bool(self.attributes & _CONTROL_BIT)

    @property
    def is_transactional(self) -> bool:
        return bool(self.attributes & _TRANSACTIONAL_BIT)


def iter_record_batches(
    buf: bytes, verify_crc: bool = True
) -> "Iterator[tuple[BatchMeta, list[Record]]]":
    """Decode a concatenation of record batches, one (meta, records) pair
    per batch, control batches included — the read_committed fetch path
    needs batch-level producerId/attributes to apply abort filtering.
    Raises on CRC mismatch (what a broker does: CORRUPT_MESSAGE)."""
    pos = 0
    while pos + 12 <= len(buf):
        base_offset, batch_len = struct.unpack_from(">qi", buf, pos)
        start = pos + 12
        end = start + batch_len
        if end > len(buf):
            break  # partial trailing batch (legal in Fetch responses)
        leader_epoch, magic, crc = struct.unpack_from(">ibI", buf, start)
        if magic != 2:
            raise ValueError(f"unsupported record batch magic {magic}")
        after_crc = buf[start + 9:end]
        if verify_crc and crc32c(after_crc) != crc:
            raise ValueError("record batch CRC32C mismatch (corrupt message)")
        r = _Reader(after_crc)
        attributes = r.i16()
        r.i32()  # lastOffsetDelta
        base_ts = r.i64()
        r.i64()  # maxTimestamp
        producer_id = r.i64()
        r.i16()  # producerEpoch
        r.i32()  # baseSequence
        count = r.i32()
        payload = after_crc[r.pos:]
        codec = attributes & _CODEC_BITS
        if codec == COMPRESSION_GZIP:
            payload = gzip.decompress(payload)
        elif codec == COMPRESSION_SNAPPY:
            payload = _snappy_xerial_decompress(payload)
        elif codec == COMPRESSION_LZ4:
            from go_pq_cdc_kafka_spark.streaming.lz4frame import (
                lz4_frame_decompress,
            )

            payload = lz4_frame_decompress(payload)
        elif codec == COMPRESSION_ZSTD:
            from go_pq_cdc_kafka_spark.streaming.zstdframe import (
                zstd_decompress,
            )

            payload = zstd_decompress(payload)
        elif codec != COMPRESSION_NONE:
            raise ValueError(f"compression codec {codec} not implemented")
        batch_records: list[Record] = []
        ppos = 0
        for _ in range(count):
            rec_len, ppos = read_varint(payload, ppos)
            rec_end = ppos + rec_len
            ppos += 1  # record attributes
            ts_delta, ppos = read_varint(payload, ppos)
            off_delta, ppos = read_varint(payload, ppos)
            klen, ppos = read_varint(payload, ppos)
            key = None if klen < 0 else payload[ppos:ppos + klen]
            ppos += max(klen, 0)
            vlen, ppos = read_varint(payload, ppos)
            value = None if vlen < 0 else payload[ppos:ppos + vlen]
            ppos += max(vlen, 0)
            hcount, ppos = read_varint(payload, ppos)
            headers = []
            for _ in range(hcount):
                hklen, ppos = read_varint(payload, ppos)
                hk = payload[ppos:ppos + hklen].decode("utf-8")
                ppos += hklen
                hvlen, ppos = read_varint(payload, ppos)
                hv = None if hvlen < 0 else payload[ppos:ppos + hvlen]
                ppos += max(hvlen, 0)
                headers.append((hk, hv))
            assert ppos == rec_end, "record length mismatch"
            batch_records.append(
                Record(
                    key=key,
                    value=value,
                    headers=headers,
                    timestamp_ms=base_ts + ts_delta,
                    offset=base_offset + off_delta,
                )
            )
        yield (
            BatchMeta(
                base_offset=base_offset,
                attributes=attributes,
                producer_id=producer_id,
                record_count=count,
            ),
            batch_records,
        )
        pos = end


def decode_record_batches(buf: bytes, verify_crc: bool = True) -> list[Record]:
    """Flatten record batches into absolute-offset records, skipping
    control batches (commit/abort markers are broker bookkeeping, never
    application data — real consumers drop them in every isolation
    level)."""
    out: list[Record] = []
    for meta, records in iter_record_batches(buf, verify_crc):
        if not meta.is_control:
            out.extend(records)
    return out


_CTRL_ABORT, _CTRL_COMMIT = 0, 1


def _filter_aborted(
    record_set: bytes, aborted: list[tuple[int, int]]
) -> list[Record]:
    """read_committed filtering (the Java client's algorithm): walk
    batches in offset order keeping a set of producers currently inside
    an aborted transaction — a producer enters it when the fetch
    response's aborted list says its transaction started at or before
    this batch, and leaves it at its ABORT control marker. Data batches
    of active aborted producers are dropped; control batches are never
    surfaced."""
    pending = sorted(aborted, key=lambda a: a[1])  # (pid, first_offset)
    active: set[int] = set()
    out: list[Record] = []
    for meta, records in iter_record_batches(record_set):
        while pending and pending[0][1] <= meta.base_offset:
            active.add(pending.pop(0)[0])
        if meta.is_control:
            for rec in records:
                if rec.key and len(rec.key) >= 4:
                    ctrl_type = struct.unpack_from(">h", rec.key, 2)[0]
                    if ctrl_type == _CTRL_ABORT:
                        active.discard(meta.producer_id)
            continue
        if meta.is_transactional and meta.producer_id in active:
            continue
        out.extend(records)
    return out


# ---------------------------------------------------------------------------
# SCRAM (RFC 5802) — SHA-256 and SHA-512 variants, the mechanisms Kafka's
# SASL/SCRAM supports (KIP-84). Independent of the PostgreSQL ScramClient in
# sources/wire.py: Kafka wraps the conversation in SaslAuthenticate frames
# and defaults to SHA-512 (the reference's default, config/config.go:90-92).
# ---------------------------------------------------------------------------

import base64
import hashlib
import hmac
import os as _os


def _scram_hash(mechanism: str) -> str:
    try:
        return {"SCRAM-SHA-256": "sha256", "SCRAM-SHA-512": "sha512"}[mechanism]
    except KeyError:
        raise ValueError(
            f"unsupported SASL mechanism {mechanism!r} "
            "(SCRAM-SHA-256 / SCRAM-SHA-512)"
        ) from None


def scram_salted_password(
    password: str, salt: bytes, iterations: int, hash_name: str
) -> bytes:
    return hashlib.pbkdf2_hmac(hash_name, password.encode("utf-8"), salt, iterations)


class ScramConversation:
    """Client side of SCRAM over SASL (gs2 = ``n,,``, no channel binding)."""

    def __init__(self, mechanism: str, username: str, password: str,
                 nonce: str | None = None):
        self.hash_name = _scram_hash(mechanism)
        self.username = username.replace("=", "=3D").replace(",", "=2C")
        self.password = password
        self.nonce = nonce or base64.b64encode(_os.urandom(18)).decode()
        self._client_first_bare = f"n={self.username},r={self.nonce}"
        self._auth_message: bytes | None = None
        self._salted: bytes | None = None

    def client_first(self) -> bytes:
        return ("n,," + self._client_first_bare).encode("utf-8")

    def client_final(self, server_first: bytes) -> bytes:
        text = server_first.decode("utf-8")
        attrs = dict(p.split("=", 1) for p in text.split(","))
        if not attrs["r"].startswith(self.nonce):
            raise ValueError("SCRAM server nonce does not extend client nonce")
        salt = base64.b64decode(attrs["s"])
        self._salted = scram_salted_password(
            self.password, salt, int(attrs["i"]), self.hash_name
        )
        channel = base64.b64encode(b"n,,").decode()
        final_bare = f"c={channel},r={attrs['r']}"
        self._auth_message = ",".join(
            [self._client_first_bare, text, final_bare]
        ).encode("utf-8")
        client_key = hmac.digest(self._salted, b"Client Key", self.hash_name)
        stored_key = hashlib.new(self.hash_name, client_key).digest()
        signature = hmac.digest(stored_key, self._auth_message, self.hash_name)
        proof = bytes(a ^ b for a, b in zip(client_key, signature))
        p = base64.b64encode(proof).decode()
        return f"{final_bare},p={p}".encode("utf-8")

    def verify_server_final(self, server_final: bytes) -> None:
        attrs = dict(
            p.split("=", 1) for p in server_final.decode("utf-8").split(",")
        )
        if "e" in attrs:
            raise ValueError(f"SCRAM server error: {attrs['e']}")
        server_key = hmac.digest(self._salted, b"Server Key", self.hash_name)
        expected = hmac.digest(server_key, self._auth_message, self.hash_name)
        if not hmac.compare_digest(base64.b64decode(attrs["v"]), expected):
            raise ValueError("SCRAM server signature mismatch")


# ---------------------------------------------------------------------------
# request/response framing
# ---------------------------------------------------------------------------

API_PRODUCE = 0
API_FETCH = 1
API_LIST_OFFSETS = 2
API_METADATA = 3
API_OFFSET_COMMIT = 8
API_OFFSET_FETCH = 9
API_FIND_COORDINATOR = 10
API_JOIN_GROUP = 11
API_HEARTBEAT = 12
API_LEAVE_GROUP = 13
API_SYNC_GROUP = 14
API_SASL_HANDSHAKE = 17
API_VERSIONS = 18
API_DELETE_RECORDS = 21
API_INIT_PRODUCER_ID = 22
API_ADD_PARTITIONS_TO_TXN = 24
API_ADD_OFFSETS_TO_TXN = 25
API_END_TXN = 26
API_TXN_OFFSET_COMMIT = 28
API_SASL_AUTHENTICATE = 36

#: ListOffsets sentinel timestamps (public protocol constants)
TS_LATEST = -1
TS_EARLIEST = -2

ERR_NONE = 0
ERR_OFFSET_OUT_OF_RANGE = 1
ERR_UNKNOWN_TOPIC_OR_PARTITION = 3
ERR_CORRUPT_MESSAGE = 2
ERR_NOT_LEADER = 6
ERR_COORDINATOR_NOT_AVAILABLE = 15
ERR_NOT_COORDINATOR = 16
ERR_ILLEGAL_GENERATION = 22
ERR_UNKNOWN_MEMBER_ID = 25
ERR_REBALANCE_IN_PROGRESS = 27
ERR_UNSUPPORTED_SASL_MECHANISM = 33
ERR_ILLEGAL_SASL_STATE = 34
ERR_OUT_OF_ORDER_SEQUENCE_NUMBER = 45
ERR_DUPLICATE_SEQUENCE_NUMBER = 46
ERR_INVALID_PRODUCER_EPOCH = 47
ERR_INVALID_TXN_STATE = 48
ERR_SASL_AUTHENTICATION_FAILED = 58

ERROR_NAMES = {
    0: "NONE",
    2: "CORRUPT_MESSAGE",
    3: "UNKNOWN_TOPIC_OR_PARTITION",
    5: "LEADER_NOT_AVAILABLE",
    6: "NOT_LEADER_FOR_PARTITION",
    7: "REQUEST_TIMED_OUT",
    15: "COORDINATOR_NOT_AVAILABLE",
    16: "NOT_COORDINATOR",
    33: "UNSUPPORTED_SASL_MECHANISM",
    34: "ILLEGAL_SASL_STATE",
    58: "SASL_AUTHENTICATION_FAILED",
}


class KafkaProtocolError(RuntimeError):
    def __init__(self, code: int, context: str):
        self.code = code
        super().__init__(
            f"{context}: error_code={code} ({ERROR_NAMES.get(code, 'UNKNOWN')})"
        )


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    chunks = []
    while n > 0:
        chunk = sock.recv(n)
        if not chunk:
            raise ConnectionError("broker closed connection mid-frame")
        chunks.append(chunk)
        n -= len(chunk)
    return b"".join(chunks)


def build_client_ssl_context(
    root_ca_path: str | None = None,
    root_ca_pem: str | None = None,
    inter_ca_pem: str | None = None,
):
    """TLS context for broker connections: system CAs by default, plus the
    reference's rootCA/interCA surface (file path or inline PEM,
    kafka/client.go:77-125). Certificate AND hostname verification stay ON
    — there is deliberately no insecure toggle here."""
    import ssl

    ctx = ssl.create_default_context(ssl.Purpose.SERVER_AUTH)
    if root_ca_path:
        ctx.load_verify_locations(cafile=root_ca_path)
    pem = "\n".join(p for p in (root_ca_pem, inter_ca_pem) if p)
    if pem:
        ctx.load_verify_locations(cadata=pem)
    return ctx


class BrokerConnection:
    """One TCP connection to one broker; correlation-id request/response.

    Optional transport security mirroring the reference's client surface
    (kafka/client.go:36-125): ``ssl_context`` wraps the socket in TLS
    before any Kafka bytes flow (server cert verified against the given
    CAs, hostname checked); ``sasl`` = (mechanism, username, password)
    runs SaslHandshake v1 + SaslAuthenticate v0 SCRAM before any other
    API — the broker rejects everything else until then."""

    def __init__(
        self,
        host: str,
        port: int,
        client_id: str,
        timeout_s: float = 30.0,
        ssl_context=None,
        sasl: tuple[str, str, str] | None = None,
    ):
        self.client_id = client_id
        self._corr = 0
        self._lock = threading.Lock()
        self.sock = socket.create_connection((host, port), timeout=timeout_s)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        if ssl_context is not None:
            self.sock = ssl_context.wrap_socket(self.sock, server_hostname=host)
        if sasl is not None:
            self._sasl_authenticate(*sasl)

    def _sasl_authenticate(self, mechanism: str, username: str, password: str) -> None:
        r = self.request(API_SASL_HANDSHAKE, 1, _str(mechanism))
        code = r.i16()
        if code != ERR_NONE:
            n = r.i32()
            offered = [r.string() for _ in range(max(n, 0))]
            raise KafkaProtocolError(
                code, f"SaslHandshake {mechanism} (broker offers {offered})"
            )
        conv = ScramConversation(mechanism, username, password)

        def authenticate(auth_bytes: bytes) -> bytes:
            rr = self.request(API_SASL_AUTHENTICATE, 0, _bytes(auth_bytes))
            c = rr.i16()
            msg = rr.string()
            out = rr.bytes_() or b""
            if c != ERR_NONE:
                raise KafkaProtocolError(c, f"SaslAuthenticate: {msg}")
            return out

        server_first = authenticate(conv.client_first())
        server_final = authenticate(conv.client_final(server_first))
        conv.verify_server_final(server_final)

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass

    def request(
        self,
        api_key: int,
        api_version: int,
        body: bytes,
        expect_response: bool = True,
    ) -> _Reader | None:
        with self._lock:
            self._corr += 1
            corr = self._corr
            header = (
                struct.pack(">hhi", api_key, api_version, corr)
                + _str(self.client_id)
            )
            msg = header + body
            self.sock.sendall(struct.pack(">i", len(msg)) + msg)
            if not expect_response:  # Produce acks=0: no response frame
                return None
            (size,) = struct.unpack(">i", _recv_exact(self.sock, 4))
            resp = _recv_exact(self.sock, size)
        (resp_corr,) = struct.unpack_from(">i", resp, 0)
        if resp_corr != corr:
            raise ConnectionError(
                f"correlation id mismatch: sent {corr}, got {resp_corr}"
            )
        return _Reader(resp[4:])


@dataclass
class PartitionMeta:
    partition: int
    leader: int


@dataclass
class ClusterMeta:
    brokers: dict[int, tuple[str, int]]
    topics: dict[str, list[PartitionMeta]]
    topic_errors: dict[str, int]
    internal: set[str] = field(default_factory=set)


class KafkaWireClient:
    """Bootstrap + metadata + per-leader connections (shared by producer
    and consumer)."""

    def __init__(
        self,
        bootstrap: list[str] | str,
        client_id: str = "go-pq-cdc-kafka-spark",
        timeout_s: float = 30.0,
        ssl_context=None,
        sasl: tuple[str, str, str] | None = None,
        tls: dict | None = None,
    ):
        # ``tls`` is the picklable (executor-shippable) spec — kwargs for
        # build_client_ssl_context; ``ssl_context`` wins if both are given.
        if ssl_context is None and tls is not None:
            ssl_context = build_client_ssl_context(**tls)
        if isinstance(bootstrap, str):
            bootstrap = [b.strip() for b in bootstrap.split(",") if b.strip()]
        if not bootstrap:
            raise ValueError("no bootstrap brokers given")
        self.bootstrap = [
            (h, int(p)) for h, _, p in (b.rpartition(":") for b in bootstrap)
        ]
        self.client_id = client_id
        self.timeout_s = timeout_s
        self.ssl_context = ssl_context
        self.sasl = sasl
        self._conns: dict[int, BrokerConnection] = {}
        self._boot: BrokerConnection | None = None

    def _dial(self, host: str, port: int) -> BrokerConnection:
        return BrokerConnection(
            host, port, self.client_id, self.timeout_s,
            ssl_context=self.ssl_context, sasl=self.sasl,
        )

    # -- connections ------------------------------------------------------
    def _bootstrap_conn(self) -> BrokerConnection:
        if self._boot is not None:
            return self._boot
        last_err: Exception | None = None
        for host, port in self.bootstrap:
            try:
                self._boot = self._dial(host, port)
                return self._boot
            except OSError as e:  # try next seed
                last_err = e
        raise ConnectionError(f"no bootstrap broker reachable: {last_err}")

    def conn_for(self, node_id: int, meta: ClusterMeta) -> BrokerConnection:
        conn = self._conns.get(node_id)
        if conn is None:
            host, port = meta.brokers[node_id]
            conn = self._dial(host, port)
            self._conns[node_id] = conn
        return conn

    def _drop_conn(self, node_id: int) -> None:
        conn = self._conns.pop(node_id, None)
        if conn is not None:
            conn.close()
        # metadata may be stale too (a bounced broker can move leaders)
        if self._boot is not None:
            self._boot.close()
            self._boot = None

    def close(self) -> None:
        for c in self._conns.values():
            c.close()
        self._conns.clear()
        if self._boot is not None:
            self._boot.close()
            self._boot = None

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    # -- APIs -------------------------------------------------------------
    def api_versions(self) -> dict[int, tuple[int, int]]:
        r = self._bootstrap_conn().request(API_VERSIONS, 0, b"")
        code = r.i16()
        if code != ERR_NONE:
            raise KafkaProtocolError(code, "ApiVersions")
        out = {}
        for _ in range(r.i32()):
            k, lo, hi = r.i16(), r.i16(), r.i16()
            out[k] = (lo, hi)
        return out

    def metadata(self, topics: list[str] | None) -> ClusterMeta:
        # topics=None -> Metadata v1 NULL array = "every topic in the
        # cluster" (an EMPTY array means no topics in v1+) — the listing
        # behind subscribepattern resolution
        body = bytearray(struct.pack(">i", -1 if topics is None else len(topics)))
        for t in topics or ():
            body += _str(t)
        try:
            r = self._bootstrap_conn().request(API_METADATA, 1, bytes(body))
        except (ConnectionError, OSError):
            # stale bootstrap connection (broker bounce): one fresh dial —
            # a still-unreachable cluster raises out of _bootstrap_conn
            if self._boot is not None:
                self._boot.close()
                self._boot = None
            r = self._bootstrap_conn().request(API_METADATA, 1, bytes(body))
        brokers: dict[int, tuple[str, int]] = {}
        for _ in range(r.i32()):
            node = r.i32()
            host = r.string()
            port = r.i32()
            r.string()  # rack
            brokers[node] = (host, port)
        r.i32()  # controller id
        tmeta: dict[str, list[PartitionMeta]] = {}
        terrs: dict[str, int] = {}
        internal: set[str] = set()
        for _ in range(r.i32()):
            terr = r.i16()
            name = r.string()
            if r.i8():  # is_internal (e.g. __consumer_offsets)
                internal.add(name)
            parts = []
            for _ in range(r.i32()):
                r.i16()  # partition error
                pid = r.i32()
                leader = r.i32()
                for _ in range(r.i32()):
                    r.i32()  # replicas
                for _ in range(r.i32()):
                    r.i32()  # isr
                parts.append(PartitionMeta(pid, leader))
            tmeta[name] = sorted(parts, key=lambda p: p.partition)
            terrs[name] = terr
        return ClusterMeta(
            brokers=brokers, topics=tmeta, topic_errors=terrs,
            internal=internal,
        )

    def all_topic_names(self, include_internal: bool = False) -> list[str]:
        """Every topic in the cluster (one null-array Metadata round trip)
        — the broker-side listing ``subscribepattern`` filters against."""
        meta = self.metadata(None)
        return sorted(
            t for t in meta.topics
            if include_internal or t not in meta.internal
        )

    def delete_records(
        self, topic: str, before: dict[int, int], timeout_ms: int = 30_000
    ) -> dict[int, int]:
        """DeleteRecords v0 (API 21): advance each partition's log-start
        offset to ``before[partition]``, deleting everything older — the
        admin-API form of retention, and the protocol-level way to create
        the data-loss condition ``failondataloss`` handles. Returns the
        new low watermark per partition; partition errors raise."""
        meta = self.await_topics([topic])
        by_leader: dict[int, list[int]] = {}
        for p in meta.topics[topic]:
            if p.partition in before:
                by_leader.setdefault(p.leader, []).append(p.partition)
        out: dict[int, int] = {}
        for leader, parts in by_leader.items():
            body = bytearray(struct.pack(">i", 1))
            body += _str(topic)
            body += struct.pack(">i", len(parts))
            for pid in parts:
                body += struct.pack(">iq", pid, int(before[pid]))
            body += struct.pack(">i", timeout_ms)
            r = self.conn_for(leader, meta).request(
                API_DELETE_RECORDS, 0, bytes(body)
            )
            r.i32()  # throttle_time_ms
            for _ in range(r.i32()):
                r.string()  # topic
                for _ in range(r.i32()):
                    pid = r.i32()
                    low = r.i64()
                    code = r.i16()
                    if code != ERR_NONE:
                        raise KafkaProtocolError(
                            code, f"DeleteRecords {topic}[{pid}]"
                        )
                    out[pid] = low
        return out

    def await_topics(self, topics: list[str], attempts: int = 40) -> ClusterMeta:
        """Metadata with retry while auto-creation settles
        (LEADER_NOT_AVAILABLE / missing partitions)."""
        meta = self.metadata(topics)
        for _ in range(attempts):
            pending = [
                t
                for t in topics
                if meta.topic_errors.get(t, ERR_UNKNOWN_TOPIC_OR_PARTITION)
                not in (ERR_NONE,)
                or not meta.topics.get(t)
            ]
            if not pending:
                return meta
            time.sleep(0.25)
            meta = self.metadata(topics)
        raise KafkaProtocolError(
            meta.topic_errors.get(pending[0], -1), f"metadata for {pending[0]}"
        )


class KafkaWireProducer(KafkaWireClient):
    """acks=all producer over the from-scratch protocol stack.

    ``send_records(topic_records)`` takes ``(topic, key, value, headers)``
    tuples, picks partitions with the Java-compatible murmur2 partitioner,
    encodes ONE record batch per (topic, partition), groups batches into one
    Produce request per leader broker, and raises on any partition error —
    so a foreachBatch caller fails the micro-batch and Spark's checkpoint
    redelivers (the reference's at-least-once ack contract,
    producer_batch.go:141-151).

    ``idempotent=True`` upgrades the connection-retry story (KIP-98):
    the producer acquires a (producerId, epoch) via InitProducerId and
    stamps every batch with a per-partition sequence number; a replay of
    an already-appended batch (connection dropped between append and ack)
    is deduplicated broker-side instead of duplicating records. Stronger
    than the reference's own contract — its replay path is plain
    at-least-once (producer_batch.go:141-151).

    ``transactional_id=...`` adds KIP-98 transactions on top of
    idempotence (which it implies): records produced between
    :meth:`begin_transaction` and :meth:`commit_transaction` become
    visible atomically to ``read_committed`` consumers; an
    :meth:`abort_transaction` (or producer death — a later InitProducerId
    with the same id fences the epoch) makes them invisible forever.
    Partitions are registered with the coordinator on first use inside
    the transaction (AddPartitionsToTxn), exactly like the Java client."""

    def __init__(
        self,
        bootstrap: list[str] | str,
        client_id: str = "go-pq-cdc-kafka-spark",
        acks: int = -1,
        timeout_ms: int = 30000,
        compression: int = COMPRESSION_NONE,
        timeout_s: float = 30.0,
        ssl_context=None,
        sasl: tuple[str, str, str] | None = None,
        tls: dict | None = None,
        idempotent: bool = False,
        transactional_id: str | None = None,
        balancer: "WireBalancer | str | None" = None,
    ):
        super().__init__(bootstrap, client_id, timeout_s,
                         ssl_context=ssl_context, sasl=sasl, tls=tls)
        self.acks = acks
        self.timeout_ms = timeout_ms
        self.compression = compression
        self._round_robin = 0
        #: None = the Java default partitioner (murmur2 + sticky keyless
        #: round-robin, partition_for_key) — byte-compatible with every
        #: producer built before balancers landed; a name or instance
        #: selects one of the reference's kafka-go strategies
        self.balancer: WireBalancer | None = (
            wire_balancer(balancer) if isinstance(balancer, str) else balancer
        )
        self.transactional_id = transactional_id
        self.idempotent = idempotent or transactional_id is not None
        if self.idempotent and acks == 0:
            raise ValueError("idempotent produce requires acks != 0")
        self._producer_id = -1
        self._producer_epoch = -1
        self._sequences: dict[tuple[str, int], int] = {}
        self._in_txn = False
        self._txn_partitions: set[tuple[str, int]] = set()
        self._txn_offsets_sent = False
        self._coord_conns: dict[tuple[int, str], BrokerConnection] = {}

    def _coordinator_conn_v1(self, key: str, key_type: int) -> BrokerConnection:
        """FindCoordinator v1 → cached connection to the coordinator for
        ``key``: key_type 0 = consumer group, 1 = transactional id. All
        transactional RPCs MUST go to the transaction coordinator (and
        TxnOffsetCommit to the GROUP coordinator) — only on a single-broker
        cluster does the bootstrap node happen to be both; a multi-broker
        cluster answers NOT_COORDINATOR otherwise."""
        cached = self._coord_conns.get((key_type, key))
        if cached is not None:
            return cached
        body = _str(key) + struct.pack(">b", key_type)
        r = self._bootstrap_conn().request(API_FIND_COORDINATOR, 1, body)
        r.i32()  # throttle_time_ms (v1+)
        code = r.i16()
        msg = r.string()  # error_message (nullable, v1+)
        if code != ERR_NONE:
            raise KafkaProtocolError(
                code, f"FindCoordinator type={key_type} {key}: {msg}"
            )
        r.i32()  # node_id
        host = r.string()
        port = r.i32()
        conn = self._dial(host, port)
        self._coord_conns[(key_type, key)] = conn
        return conn

    def _coord_request(
        self, key_type: int, key: str, api_key: int, version: int, body: bytes
    ):
        """Send a coordinator RPC (key_type 1 = txn coordinator, 0 = group
        coordinator); on connection failure drop the cached coordinator
        (it may have moved) and re-resolve once."""
        try:
            conn = self._coordinator_conn_v1(key, key_type)
            return conn.request(api_key, version, body)
        except (ConnectionError, OSError):
            stale = self._coord_conns.pop((key_type, key), None)
            if stale is not None:
                stale.close()
            conn = self._coordinator_conn_v1(key, key_type)
            return conn.request(api_key, version, body)

    def _txn_request(self, api_key: int, version: int, body: bytes):
        assert self.transactional_id is not None
        return self._coord_request(1, self.transactional_id, api_key, version, body)

    def _with_coord_retry(self, key_type: int, key: str, fn):
        """Run a coordinator RPC (request + response parse) via ``fn``;
        when the broker answers NOT_COORDINATOR / COORDINATOR_NOT_AVAILABLE
        — the coordinator MOVED, e.g. a multi-broker cluster after a node
        restart, or a client that cached the wrong node — drop the cached
        coordinator connection and retry once against a freshly resolved
        one. Connection-level failures are already retried one layer down
        (_coord_request); this layer handles the broker's explicit
        you-asked-the-wrong-node answer."""
        try:
            return fn()
        except KafkaProtocolError as e:
            if e.code not in (
                ERR_NOT_COORDINATOR, ERR_COORDINATOR_NOT_AVAILABLE
            ):
                raise
            stale = self._coord_conns.pop((key_type, key), None)
            if stale is not None:
                stale.close()
            return fn()

    def close(self) -> None:  # extend: also drop coordinator connections
        for c in self._coord_conns.values():
            c.close()
        self._coord_conns.clear()
        super().close()

    def _ensure_producer_id(self) -> None:
        """InitProducerId v0: acquire the (producerId, epoch) the broker
        will dedup sequences under. Null transactional_id = idempotence
        only; a non-null one registers with the transaction coordinator
        and BUMPS THE EPOCH, fencing any earlier producer instance still
        using the same transactional id."""
        if self._producer_id >= 0:
            return
        body = _str(self.transactional_id) + struct.pack(">i", self.timeout_ms)

        def _rpc() -> tuple[int, int]:
            if self.transactional_id is not None:
                # transactional registration lives on the txn coordinator;
                # idempotence-only InitProducerId is served by any broker
                r = self._txn_request(API_INIT_PRODUCER_ID, 0, body)
            else:
                r = self._bootstrap_conn().request(
                    API_INIT_PRODUCER_ID, 0, body
                )
            r.i32()  # throttle_time_ms
            code = r.i16()
            if code != ERR_NONE:
                raise KafkaProtocolError(code, "InitProducerId")
            return r.i64(), r.i16()

        if self.transactional_id is not None:
            self._producer_id, self._producer_epoch = self._with_coord_retry(
                1, self.transactional_id, _rpc
            )
        else:
            self._producer_id, self._producer_epoch = _rpc()

    # -- KIP-98 transactions ------------------------------------------

    def begin_transaction(self) -> None:
        if self.transactional_id is None:
            raise ValueError("begin_transaction requires transactional_id")
        if self._in_txn:
            raise ValueError("a transaction is already in progress")
        self._ensure_producer_id()
        self._in_txn = True
        self._txn_partitions.clear()
        self._txn_offsets_sent = False

    def _add_partitions_to_txn(self, parts: set[tuple[str, int]]) -> None:
        new = parts - self._txn_partitions
        if not new:
            return
        by_topic: dict[str, list[int]] = {}
        for topic, pid in sorted(new):
            by_topic.setdefault(topic, []).append(pid)
        body = bytearray(_str(self.transactional_id))
        body += struct.pack(">qh", self._producer_id, self._producer_epoch)
        body += struct.pack(">i", len(by_topic))
        for topic, pids in by_topic.items():
            body += _str(topic)
            body += struct.pack(">i", len(pids))
            for pid in pids:
                body += struct.pack(">i", pid)
        def _rpc() -> None:
            r = self._txn_request(API_ADD_PARTITIONS_TO_TXN, 0, bytes(body))
            r.i32()  # throttle_time_ms
            for _ in range(r.i32()):
                topic = r.string()
                for _ in range(r.i32()):
                    pid = r.i32()
                    code = r.i16()
                    if code != ERR_NONE:
                        raise KafkaProtocolError(
                            code, f"AddPartitionsToTxn {topic}[{pid}]"
                        )

        self._with_coord_retry(1, self.transactional_id, _rpc)
        self._txn_partitions |= new

    def send_offsets_to_transaction(
        self, group_id: str, topic: str, offsets: dict[int, int]
    ) -> None:
        """Stage consumer-group offsets inside the open transaction
        (KIP-98 consume-transform-produce): AddOffsetsToTxn v0 registers
        the group with the transaction coordinator, then TxnOffsetCommit
        v0 hands it the offsets, which become visible to OffsetFetch
        atomically with the produced records at commit — and are
        discarded on abort. ``offsets`` maps partition → NEXT offset to
        read (the same convention as :meth:`KafkaWireConsumer.
        commit_offsets`). This is the exactly-once upgrade over the
        reference's ack-after-publish loop (consumer.go:141-157 commits
        source positions only after the produce succeeds, which is
        at-least-once across a crash between the two)."""
        if not self._in_txn:
            raise ValueError(
                "send_offsets_to_transaction requires an open transaction"
            )
        add_body = _str(self.transactional_id)
        add_body += struct.pack(">qh", self._producer_id, self._producer_epoch)
        add_body += _str(group_id)

        def _add_rpc() -> None:
            r = self._txn_request(API_ADD_OFFSETS_TO_TXN, 0, bytes(add_body))
            r.i32()  # throttle_time_ms
            code = r.i16()
            if code != ERR_NONE:
                raise KafkaProtocolError(code, f"AddOffsetsToTxn {group_id}")

        self._with_coord_retry(1, self.transactional_id, _add_rpc)
        body = bytearray(_str(self.transactional_id))
        body += _str(group_id)
        body += struct.pack(">qh", self._producer_id, self._producer_epoch)
        body += struct.pack(">i", 1)
        body += _str(topic)
        body += struct.pack(">i", len(offsets))
        for pid, off in sorted(offsets.items()):
            body += struct.pack(">iq", pid, off)
            body += _str(None)  # metadata
        # TxnOffsetCommit goes to the GROUP coordinator (it lands in
        # __consumer_offsets), not the transaction coordinator — with the
        # same drop-stale-and-re-resolve retry as txn-coordinator RPCs,
        # both on connection failure and on a NOT_COORDINATOR answer
        def _commit_rpc() -> None:
            r = self._coord_request(
                0, group_id, API_TXN_OFFSET_COMMIT, 0, bytes(body)
            )
            r.i32()  # throttle_time_ms
            for _ in range(r.i32()):
                t = r.string()
                for _ in range(r.i32()):
                    pid = r.i32()
                    code = r.i16()
                    if code != ERR_NONE:
                        raise KafkaProtocolError(
                            code, f"TxnOffsetCommit {group_id}/{t}[{pid}]"
                        )

        self._with_coord_retry(0, group_id, _commit_rpc)
        self._txn_offsets_sent = True

    def _end_txn(self, committed: bool) -> None:
        if not self._in_txn:
            raise ValueError("no transaction in progress")
        if not self._txn_partitions and not self._txn_offsets_sent:
            # empty transaction: nothing was produced, so no partition was
            # registered with the coordinator and there is no marker to
            # write — complete locally (the Java client short-circuits the
            # same way)
            self._in_txn = False
            return
        body = _str(self.transactional_id) + struct.pack(
            ">qhb", self._producer_id, self._producer_epoch,
            1 if committed else 0,
        )

        def _rpc() -> None:
            r = self._txn_request(API_END_TXN, 0, body)
            r.i32()  # throttle_time_ms
            code = r.i16()
            if code != ERR_NONE:
                raise KafkaProtocolError(code, "EndTxn")

        self._with_coord_retry(1, self.transactional_id, _rpc)
        self._in_txn = False
        self._txn_partitions.clear()
        self._txn_offsets_sent = False

    def commit_transaction(self) -> None:
        self._end_txn(committed=True)

    def abort_transaction(self) -> None:
        self._end_txn(committed=False)

    def send_records(
        self,
        items: list[tuple[str, bytes | None, bytes | None, list[tuple[str, bytes]]]],
        timestamp_ms: int | None = None,
    ) -> dict[tuple[str, int], int]:
        """Produce all items; returns {(topic, partition): base_offset}."""
        if not items:
            return {}
        topics = sorted({t for t, *_ in items})
        meta = self.await_topics(topics)
        grouped: dict[tuple[str, int], list[Record]] = {}
        pids_by_topic = {
            t: sorted(p.partition for p in meta.topics[t]) for t in topics
        }
        for topic, key, value, headers in items:
            if self.balancer is not None:
                pid = self.balancer.partition(
                    key, value, pids_by_topic[topic]
                )
            else:
                pid = partition_for_key(
                    key, len(meta.topics[topic]), self._round_robin
                )
                if key is None:
                    self._round_robin += 1
            grouped.setdefault((topic, pid), []).append(
                Record(key=key, value=value, headers=list(headers or []),
                       timestamp_ms=timestamp_ms)
            )
        return self._produce_grouped(grouped, meta)

    def _produce_grouped(
        self,
        grouped: dict[tuple[str, int], list[Record]],
        meta: ClusterMeta,
        retries: int = 3,
    ) -> dict[tuple[str, int], int]:
        if self.idempotent:
            self._ensure_producer_id()
        if self._in_txn:
            self._add_partitions_to_txn(set(grouped))
        by_leader: dict[int, dict[str, dict[int, bytes]]] = {}
        for (topic, pid), recs in grouped.items():
            leader = next(
                p.leader for p in meta.topics[topic] if p.partition == pid
            )
            # sequences advance only on acked success (see below), so a
            # retried partition re-encodes with the SAME baseSequence —
            # exactly what lets the broker recognize the replay.
            batch = encode_record_batch(
                recs,
                compression=self.compression,
                producer_id=self._producer_id if self.idempotent else -1,
                producer_epoch=self._producer_epoch if self.idempotent else -1,
                base_sequence=(
                    self._sequences.get((topic, pid), 0)
                    if self.idempotent
                    else -1
                ),
                transactional=self._in_txn,
            )
            by_leader.setdefault(leader, {}).setdefault(topic, {})[pid] = batch

        offsets: dict[tuple[str, int], int] = {}
        retriable: dict[tuple[str, int], list[Record]] = {}
        for leader, topic_data in by_leader.items():
            body = bytearray()
            body += _str(self.transactional_id if self._in_txn else None)
            body += struct.pack(">hi", self.acks, self.timeout_ms)
            body += struct.pack(">i", len(topic_data))
            for topic, parts in topic_data.items():
                body += _str(topic)
                body += struct.pack(">i", len(parts))
                for pid, batch in parts.items():
                    body += struct.pack(">i", pid)
                    body += _bytes(batch)
            try:
                conn = self.conn_for(leader, meta)
                r = conn.request(
                    API_PRODUCE, 3, bytes(body), expect_response=self.acks != 0
                )
            except (ConnectionError, OSError):
                # TRANSIENT (reference B5, reponse_handler.go:13-48): a
                # dropped/reset connection gets a redial + replay of this
                # leader's batches; dedup is the consumer's job (the same
                # at-least-once the reference accepts). Fatal protocol
                # errors below still raise.
                self._drop_conn(leader)
                for topic, parts in topic_data.items():
                    for pid in parts:
                        retriable[(topic, pid)] = grouped[(topic, pid)]
                continue
            if r is None:
                continue  # acks=0 fire-and-forget: no response frame
            for _ in range(r.i32()):
                topic = r.string()
                for _ in range(r.i32()):
                    pid = r.i32()
                    code = r.i16()
                    base_offset = r.i64()
                    r.i64()  # log_append_time
                    if code in (ERR_NOT_LEADER, ERR_UNKNOWN_TOPIC_OR_PARTITION):
                        retriable[(topic, pid)] = grouped[(topic, pid)]
                    elif code == ERR_DUPLICATE_SEQUENCE_NUMBER:
                        # replay of a batch the broker already appended but
                        # whose ack we never saw: a SUCCESS for delivery
                        # purposes (KIP-98 semantics) — advance the
                        # sequence and report the broker's offset.
                        offsets[(topic, pid)] = base_offset
                        self._sequences[(topic, pid)] = (
                            self._sequences.get((topic, pid), 0)
                            + len(grouped[(topic, pid)])
                        )
                    elif code != ERR_NONE:
                        raise KafkaProtocolError(
                            code, f"Produce {topic}[{pid}]"
                        )
                    else:
                        offsets[(topic, pid)] = base_offset
                        if self.idempotent:
                            self._sequences[(topic, pid)] = (
                                self._sequences.get((topic, pid), 0)
                                + len(grouped[(topic, pid)])
                            )
            r.i32()  # throttle_time_ms

        if retriable:
            if retries <= 0:
                topic, pid = next(iter(retriable))
                raise KafkaProtocolError(
                    ERR_NOT_LEADER, f"Produce {topic}[{pid}] (retries exhausted)"
                )
            time.sleep(0.25)
            fresh = self.await_topics(sorted({t for t, _ in retriable}))
            offsets.update(
                self._produce_grouped(retriable, fresh, retries - 1)
            )
        return offsets


def _list_offsets(
    client: "KafkaWireClient", topic: str, timestamp: int,
    isolation_level: int = 0,
) -> dict[int, int]:
    """ListOffsets v2 for every partition of ``topic``: TS_LATEST → the
    high watermark (next offset to be assigned) — or the LAST STABLE
    OFFSET under ``isolation_level=1``, so read_committed planners never
    chase offsets an open transaction is still holding back —
    TS_EARLIEST → log start."""
    meta = client.await_topics([topic])
    by_leader: dict[int, list[int]] = {}
    for p in meta.topics[topic]:
        by_leader.setdefault(p.leader, []).append(p.partition)
    out: dict[int, int] = {}
    for leader, pids in by_leader.items():
        body = bytearray(struct.pack(">ib", -1, isolation_level))
        body += struct.pack(">i", 1)
        body += _str(topic)
        body += struct.pack(">i", len(pids))
        for pid in pids:
            body += struct.pack(">iq", pid, timestamp)
        r = client.conn_for(leader, meta).request(API_LIST_OFFSETS, 2, bytes(body))
        r.i32()  # throttle_time_ms (v2+ — absent in v0/v1)
        for _ in range(r.i32()):
            r.string()  # topic
            for _ in range(r.i32()):
                pid = r.i32()
                code = r.i16()
                r.i64()  # timestamp
                offset = r.i64()
                if code != ERR_NONE:
                    raise KafkaProtocolError(code, f"ListOffsets {topic}[{pid}]")
                out[pid] = offset
    return out


class KafkaWireConsumer(KafkaWireClient):
    """Fetch-based reader with broker-stored offset commits (OffsetCommit/
    OffsetFetch via FindCoordinator). No group MEMBERSHIP protocol —
    partitions are caller-assigned, like the jar source's manual-assignment
    mode; the broker only stores per-group positions."""

    #: end offset of the highest RAW batch in the last fetch response
    #: (set even when every batch filtered to nothing — see fetch())
    _fetch_next_offset: int | None = None

    def fetch(
        self,
        topic: str,
        partition: int,
        offset: int = 0,
        max_bytes: int = 1 << 20,
        max_wait_ms: int = 500,
        isolation_level: int = 0,
    ) -> tuple[list[Record], int]:
        """Returns (records from ``offset`` on, high_watermark).

        ``isolation_level=1`` (read_committed, KIP-98): the broker caps
        the response at the last stable offset and reports the aborted
        transactions overlapping the window; this client then drops
        every transactional data batch whose (producerId, offset range)
        falls inside an aborted transaction — commit/abort markers
        themselves are never surfaced in either level."""
        meta = self.await_topics([topic])
        leader = next(
            p.leader for p in meta.topics[topic] if p.partition == partition
        )
        body = bytearray()
        body += struct.pack(">iiii", -1, max_wait_ms, 0, max_bytes)
        body += struct.pack(">b", isolation_level)
        body += struct.pack(">i", 1)
        body += _str(topic)
        body += struct.pack(">i", 1)
        body += struct.pack(">iqi", partition, offset, max_bytes)
        conn = self.conn_for(leader, meta)
        r = conn.request(API_FETCH, 4, bytes(body))
        r.i32()  # throttle_time
        records: list[Record] = []
        hwm = 0
        for _ in range(r.i32()):
            r.string()  # topic
            for _ in range(r.i32()):
                r.i32()  # partition
                code = r.i16()
                hwm = r.i64()
                r.i64()  # last_stable_offset
                n_aborted = r.i32()
                aborted: list[tuple[int, int]] = []
                for _ in range(max(n_aborted, 0)):
                    a_pid = r.i64()
                    a_first = r.i64()
                    aborted.append((a_pid, a_first))
                record_set = r.bytes_() or b""
                if code != ERR_NONE:
                    raise KafkaProtocolError(code, f"Fetch {topic}[{partition}]")
                # position tracking the way real clients do it: advance
                # past EVERY raw batch in the response (control markers
                # and aborted batches included), so a window that decodes
                # to zero records still moves the cursor forward instead
                # of refetching the same filtered batches forever
                next_off = None
                for bmeta, _ in iter_record_batches(record_set):
                    end_off = bmeta.base_offset + bmeta.record_count
                    if next_off is None or end_off > next_off:
                        next_off = end_off
                self._fetch_next_offset = next_off
                if isolation_level == 1 and aborted:
                    records.extend(
                        _filter_aborted(record_set, aborted)
                    )
                else:
                    records.extend(decode_record_batches(record_set))
        return [rec for rec in records if rec.offset >= offset], hwm

    def earliest_offsets(self, topic: str) -> dict[int, int]:
        return _list_offsets(self, topic, TS_EARLIEST)

    def latest_offsets(
        self, topic: str, isolation_level: int = 0
    ) -> dict[int, int]:
        return _list_offsets(self, topic, TS_LATEST, isolation_level)

    def offsets_for_timestamp(self, topic: str, ts_ms: int) -> dict[int, int]:
        """Per partition: the first offset with record timestamp >= ts_ms —
        ListOffsets v1 with a concrete timestamp. Where no such record
        exists the broker answers -1 (real-Kafka semantics; MiniBroker
        conforms) — callers must normalize, e.g. to latest_offsets()."""
        return _list_offsets(self, topic, ts_ms)

    # --- broker-stored consumer-group offsets (no group membership /
    # rebalance protocol — Spark and the batch reader assign partitions
    # themselves, exactly like the jar source's "group.id with manual
    # assignment" mode; only OffsetCommit/OffsetFetch are needed) -------

    def _coordinator_conn(self, group: str) -> "BrokerConnection":
        """FindCoordinator v0 → a connection to the group's coordinator."""
        body = _str(group)
        r = self._bootstrap_conn().request(API_FIND_COORDINATOR, 0, body)
        code = r.i16()
        if code != ERR_NONE:
            raise KafkaProtocolError(code, f"FindCoordinator {group}")
        node_id = r.i32()
        host = r.string()
        port = r.i32()
        return self._dial(host, port)

    def commit_offsets(
        self, group: str, topic: str, offsets: dict[int, int]
    ) -> None:
        """OffsetCommit v2 (broker-stored, retention = broker default):
        ``offsets`` maps partition → NEXT offset to read (Kafka's commit
        convention, same as Spark's checkpoint positions)."""
        body = bytearray(_str(group))
        body += struct.pack(">i", -1)  # generation_id: manual assignment
        body += _str("")               # member_id
        body += struct.pack(">q", -1)  # retention_time_ms: broker default
        body += struct.pack(">i", 1)
        body += _str(topic)
        body += struct.pack(">i", len(offsets))
        for pid, off in sorted(offsets.items()):
            body += struct.pack(">iq", pid, off)
            body += _str(None)  # metadata
        conn = self._coordinator_conn(group)
        try:
            r = conn.request(API_OFFSET_COMMIT, 2, bytes(body))
            for _ in range(r.i32()):
                r.string()
                for _ in range(r.i32()):
                    pid = r.i32()
                    code = r.i16()
                    if code != ERR_NONE:
                        raise KafkaProtocolError(
                            code, f"OffsetCommit {group}/{topic}[{pid}]"
                        )
        finally:
            conn.close()

    def fetch_committed(
        self, group: str, topic: str, partitions: list[int]
    ) -> dict[int, int]:
        """OffsetFetch v1 (broker-stored): partition → committed offset,
        -1 where the group has no commit for that partition."""
        body = bytearray(_str(group))
        body += struct.pack(">i", 1)
        body += _str(topic)
        body += struct.pack(">i", len(partitions))
        for pid in partitions:
            body += struct.pack(">i", pid)
        conn = self._coordinator_conn(group)
        try:
            r = conn.request(API_OFFSET_FETCH, 1, bytes(body))
            out: dict[int, int] = {}
            for _ in range(r.i32()):
                r.string()
                for _ in range(r.i32()):
                    pid = r.i32()
                    off = r.i64()
                    r.string()  # metadata
                    code = r.i16()
                    if code != ERR_NONE:
                        raise KafkaProtocolError(
                            code, f"OffsetFetch {group}/{topic}[{pid}]"
                        )
                    out[pid] = off
            return out
        finally:
            conn.close()

    def group_lag(self, group: str, topic: str) -> dict[int, int]:
        """Per-partition consumer lag: high watermark minus the group's
        committed offset (committed -1 counts the whole partition — the
        number a lag exporter reports for a group that never consumed).
        The monitoring half of the group-offset tier: with the source's
        ``group.id`` option set, external dashboards see progress without
        reaching into Spark's checkpoint."""
        latest = self.latest_offsets(topic)
        committed = self.fetch_committed(group, topic, sorted(latest))
        return {
            p: latest[p] - max(committed.get(p, -1), 0) for p in sorted(latest)
        }

    def read_all(self, topic: str) -> list[Record]:
        """Drain every partition from offset 0 (test-tier convenience)."""
        meta = self.await_topics([topic])
        out: list[Record] = []
        for p in meta.topics[topic]:
            pos = 0
            while True:
                recs, hwm = self.fetch(topic, p.partition, pos)
                out.extend(recs)
                nxt = self._fetch_next_offset
                pos = max(
                    max((r.offset for r in recs), default=pos - 1) + 1,
                    nxt if nxt is not None else 0,
                )
                if pos >= hwm or (not recs and nxt is None):
                    break
        return out


# ---------------------------------------------------------------------------
# consumer-group MEMBERSHIP (classic protocol: JoinGroup/SyncGroup/
# Heartbeat/LeaveGroup v0, "consumer" protocol type, range assignor) —
# lets several cooperating readers split a topic's partitions and lets a
# survivor take over a dead peer's share, the dynamic half of the
# group-offset tier (commit_offsets/fetch_committed cover the static half)
# ---------------------------------------------------------------------------


def encode_consumer_subscription(topics: list[str]) -> bytes:
    """ConsumerProtocolSubscription v0: version, topics, user_data."""
    out = bytearray(struct.pack(">hi", 0, len(topics)))
    for t in topics:
        out += _str(t)
    out += _bytes(b"")
    return bytes(out)


def decode_consumer_subscription(buf: bytes) -> list[str]:
    r = _Reader(buf)
    r.i16()  # version
    return [r.string() for _ in range(r.i32())]


def encode_consumer_assignment(assignment: dict[str, list[int]]) -> bytes:
    """ConsumerProtocolAssignment v0: version, [topic, [partition]],
    user_data."""
    out = bytearray(struct.pack(">hi", 0, len(assignment)))
    for topic in sorted(assignment):
        out += _str(topic)
        parts = assignment[topic]
        out += struct.pack(">i", len(parts))
        for p in sorted(parts):
            out += struct.pack(">i", p)
    out += _bytes(b"")
    return bytes(out)


def decode_consumer_assignment(buf: bytes) -> dict[str, list[int]]:
    r = _Reader(buf)
    r.i16()  # version
    out: dict[str, list[int]] = {}
    for _ in range(r.i32()):
        topic = r.string()
        out[topic] = [r.i32() for _ in range(r.i32())]
    return out


def range_assign(
    subscriptions: dict[str, list[str]], partitions: dict[str, int]
) -> dict[str, dict[str, list[int]]]:
    """Kafka's RangeAssignor: per topic, subscribers sorted by member id
    split the partition range contiguously; the first
    ``n_parts % n_members`` members take one extra partition."""
    out: dict[str, dict[str, list[int]]] = {m: {} for m in subscriptions}
    by_topic: dict[str, list[str]] = {}
    for member, topics in subscriptions.items():
        for t in topics:
            by_topic.setdefault(t, []).append(member)
    for topic, members in by_topic.items():
        members.sort()
        nparts = partitions.get(topic, 0)
        base, extra = divmod(nparts, len(members))
        pos = 0
        for i, m in enumerate(members):
            n = base + (1 if i < extra else 0)
            if n:
                out[m][topic] = list(range(pos, pos + n))
            pos += n
    return out


class KafkaGroupMember:
    """One member of a classic consumer group. ``join()`` runs the
    JoinGroup→SyncGroup handshake (computing the range assignment when
    elected leader) and returns this member's {topic: [partition]};
    ``heartbeat()`` keeps the membership alive and reports when a
    rebalance requires re-joining; ``leave()`` exits cleanly so peers
    rebalance immediately instead of waiting out the session timeout.

    All coordinator traffic runs on ONE persistent connection per member,
    like real clients — the coordinator correlates liveness per member,
    not per connection."""

    def __init__(
        self,
        consumer: KafkaWireConsumer,
        group: str,
        topics: list[str],
        session_timeout_ms: int = 10000,
    ):
        self._consumer = consumer
        self.group = group
        self.topics = sorted(topics)
        self.session_timeout_ms = session_timeout_ms
        self.member_id = ""
        self.generation = -1
        self.is_leader = False
        self.assignment: dict[str, list[int]] = {}
        self._conn: BrokerConnection | None = None

    def _coordinator(self) -> BrokerConnection:
        if self._conn is None:
            self._conn = self._consumer._coordinator_conn(self.group)
        return self._conn

    def close(self) -> None:
        if self._conn is not None:
            self._conn.close()
            self._conn = None

    def join(self, max_attempts: int = 10) -> dict[str, list[int]]:
        last: KafkaProtocolError | None = None
        for _ in range(max_attempts):
            try:
                return self._join_once()
            except KafkaProtocolError as e:
                last = e
                if e.code in (
                    ERR_REBALANCE_IN_PROGRESS,
                    ERR_ILLEGAL_GENERATION,
                ):
                    time.sleep(0.05)
                    continue
                if e.code == ERR_UNKNOWN_MEMBER_ID:
                    self.member_id = ""  # coordinator forgot us: fresh id
                    continue
                if e.code in (
                    ERR_NOT_COORDINATOR, ERR_COORDINATOR_NOT_AVAILABLE
                ):
                    # wrong/moved node: drop the cached member connection
                    # so _coordinator() re-resolves via FindCoordinator
                    self.close()
                    continue
                raise
        raise last  # type: ignore[misc]

    def _join_once(self) -> dict[str, list[int]]:
        body = bytearray(_str(self.group))
        body += struct.pack(">i", self.session_timeout_ms)
        body += _str(self.member_id)
        body += _str("consumer")
        body += struct.pack(">i", 1)
        body += _str("range")
        body += _bytes(encode_consumer_subscription(self.topics))
        r = self._coordinator().request(API_JOIN_GROUP, 0, bytes(body))
        code = r.i16()
        if code != ERR_NONE:
            raise KafkaProtocolError(code, f"JoinGroup {self.group}")
        self.generation = r.i32()
        r.string()  # protocol ("range")
        leader_id = r.string()
        self.member_id = r.string()
        members: dict[str, list[str]] = {}
        for _ in range(r.i32()):
            mid = r.string()
            meta = r.bytes_() or b""
            members[mid] = decode_consumer_subscription(meta)
        self.is_leader = leader_id == self.member_id

        sync = bytearray(_str(self.group))
        sync += struct.pack(">i", self.generation)
        sync += _str(self.member_id)
        if self.is_leader:
            all_topics = sorted({t for ts in members.values() for t in ts})
            meta = self._consumer.await_topics(all_topics)
            counts = {t: len(meta.topics[t]) for t in all_topics}
            assignments = range_assign(members, counts)
            sync += struct.pack(">i", len(assignments))
            for mid in sorted(assignments):
                sync += _str(mid)
                sync += _bytes(encode_consumer_assignment(assignments[mid]))
        else:
            sync += struct.pack(">i", 0)
        r = self._coordinator().request(API_SYNC_GROUP, 0, bytes(sync))
        code = r.i16()
        if code != ERR_NONE:
            raise KafkaProtocolError(code, f"SyncGroup {self.group}")
        self.assignment = decode_consumer_assignment(r.bytes_() or b"")
        return self.assignment

    def heartbeat(self) -> bool:
        """True = membership stable; False = the group is rebalancing (or
        forgot us) — call join() again. Fatal codes raise."""
        body = bytearray(_str(self.group))
        body += struct.pack(">i", self.generation)
        body += _str(self.member_id)
        r = self._coordinator().request(API_HEARTBEAT, 0, bytes(body))
        code = r.i16()
        if code == ERR_NONE:
            return True
        if code in (
            ERR_REBALANCE_IN_PROGRESS,
            ERR_ILLEGAL_GENERATION,
        ):
            return False
        if code == ERR_UNKNOWN_MEMBER_ID:
            self.member_id = ""
            return False
        if code in (ERR_NOT_COORDINATOR, ERR_COORDINATOR_NOT_AVAILABLE):
            self.close()  # re-resolve on the join() the caller now runs
            return False
        raise KafkaProtocolError(code, f"Heartbeat {self.group}")

    def leave(self) -> None:
        if not self.member_id:
            return
        body = bytearray(_str(self.group))
        body += _str(self.member_id)
        r = self._coordinator().request(API_LEAVE_GROUP, 0, bytes(body))
        code = r.i16()
        if code not in (ERR_NONE, ERR_UNKNOWN_MEMBER_ID):
            raise KafkaProtocolError(code, f"LeaveGroup {self.group}")
        self.member_id = ""
        self.assignment = {}
        self.close()
