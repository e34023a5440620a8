"""Minimal pure-Python Kafka wire-protocol client (public protocol,
https://kafka.apache.org/protocol).

Why this exists: the Kafka-facing legs (A1 consume, A5 produce, A23
admin — fifo/consumer.go, fifo/producer.go, fifo/admin.go) otherwise
need Spark's JVM Kafka source, whose spark-sql-kafka jar is not on
every classpath, and the admin leg has no JVM path at all.  This module
speaks the broker's actual TCP protocol directly, so the admin/produce/
consume seams can run end-to-end against ANY broker — including the
in-process stub broker (kafka_stub.StubBroker) used by the tests, which
implements the same public wire format.

Supported API versions — non-"flexible" (pre-KIP-482) encodings, the
simplest stable wire shapes, NEGOTIATED per broker via ApiVersions:

  ApiVersions v0 (key 18)   handshake / capability probe
  Metadata    v1 (key  3)   brokers + topics + partitions
  CreateTopics v0 (key 19)  fifo/admin.go:12-31 parity
  ListOffsets v1 (key  2)   watermarks (fifo/consumer.go:184-196)
  Produce  v2 / v3 (key 0)  MessageSet v1 / RecordBatch v2 (magic 2)
  Fetch    v2 / v4 (key 1)  decodes BOTH record generations

Two on-wire record generations are implemented (kafka.apache.org/
protocol, KIP-98 for magic 2):

  * MessageSet v0/v1 (magic 0/1): plain CRC-32 (zlib.crc32) over
    [magic..value], fixed-width fields; Produce <= v2 / Fetch <= v3.
  * RecordBatch v2 (magic 2): CRC-32C (Castagnoli) over
    [attributes..end], zigzag-varint record fields, per-record
    headers; REQUIRED by Produce >= v3 / Fetch >= v4 and the only
    format Kafka 4.0 brokers accept (KIP-896 removed pre-v3 Produce).

Compression: all four Kafka codecs work in BOTH directions for both
record generations (compressed wrapper message for magic <= 1,
compressed records section for magic 2).  gzip is stdlib; snappy /
lz4 / zstd prefer the optional python-snappy / lz4 / zstandard
packages when installed and otherwise fall back to the pure-stdlib
implementations in zinger_spark.compress (full decoders — except
zstd entropy-coded blocks, which raise a clear error naming the
package — and valid literal/raw-block encoders with no size
reduction).

The client picks the highest mutually-supported Produce/Fetch version
from the handshake, so it speaks RecordBatch v2 to 3.x/4.x brokers and
falls back to MessageSet v1 against older ones.

Security (reference parity: cli/flags.go:64-117 dials TLS and SASL
PLAIN through franz-go): pass ``ssl_context`` to wrap the connection in
TLS and/or ``sasl_plain=(user, password)`` to authenticate via
SaslHandshake v0/v1 + SaslAuthenticate (keys 17/36) before any other
request; config.wire_security() maps a kafka.json onto these kwargs.

No required external dependencies: sockets + struct + zlib + gzip
(+ stdlib ssl when TLS is configured).
"""

from __future__ import annotations

import gzip
import socket
import struct
import threading
import zlib
from dataclasses import dataclass

API_PRODUCE = 0
API_FETCH = 1
API_LIST_OFFSETS = 2
API_METADATA = 3
API_SASL_HANDSHAKE = 17
API_API_VERSIONS = 18
API_CREATE_TOPICS = 19
API_SASL_AUTHENTICATE = 36

#: first flexible (KIP-482) version per API — flexible requests use
#: header v2 (tagged fields after client_id) and compact encodings;
#: None = the API never went flexible.  Public protocol tables.
FLEXIBLE_FROM = {
    API_PRODUCE: 9,
    API_FETCH: 12,
    API_LIST_OFFSETS: 6,
    API_METADATA: 9,
    API_SASL_HANDSHAKE: None,
    API_API_VERSIONS: 3,
    API_CREATE_TOPICS: 5,
    API_SASL_AUTHENTICATE: 2,
}


def is_flexible(api_key: int, api_version: int) -> bool:
    fv = FLEXIBLE_FROM.get(api_key)
    return fv is not None and api_version >= fv

# error codes (subset; kafka.apache.org/protocol#protocol_error_codes)
ERR_NONE = 0
ERR_OFFSET_OUT_OF_RANGE = 1
ERR_UNKNOWN_TOPIC_OR_PARTITION = 3
ERR_NOT_LEADER = 6
ERR_UNSUPPORTED_SASL_MECHANISM = 33
ERR_ILLEGAL_SASL_STATE = 34
ERR_TOPIC_ALREADY_EXISTS = 36
ERR_INVALID_REQUEST = 42
ERR_UNSUPPORTED_VERSION = 35
ERR_SASL_AUTHENTICATION_FAILED = 58

EARLIEST = -2
LATEST = -1


class KafkaWireError(Exception):
    """Protocol-level failure (connection, malformed frame, error code)."""

    def __init__(self, msg: str, code: int | None = None):
        super().__init__(msg)
        self.code = code


class UnsupportedVersion(KafkaWireError):
    pass


# ---------------------------------------------------------------------------
# primitive encoders/decoders (big-endian, per the protocol spec)


class _Writer:
    def __init__(self):
        self._parts: list[bytes] = []

    def raw(self, b: bytes) -> "_Writer":
        self._parts.append(b)
        return self

    def int8(self, v: int) -> "_Writer":
        return self.raw(struct.pack(">b", v))

    def int16(self, v: int) -> "_Writer":
        return self.raw(struct.pack(">h", v))

    def int32(self, v: int) -> "_Writer":
        return self.raw(struct.pack(">i", v))

    def int64(self, v: int) -> "_Writer":
        return self.raw(struct.pack(">q", v))

    def string(self, s: str | None) -> "_Writer":
        if s is None:
            return self.int16(-1)
        b = s.encode("utf-8")
        return self.int16(len(b)).raw(b)

    def bytes_(self, b: bytes | None) -> "_Writer":
        if b is None:
            return self.int32(-1)
        return self.int32(len(b)).raw(b)

    def array(self, items, enc) -> "_Writer":
        self.int32(len(items))
        for it in items:
            enc(self, it)
        return self

    # RecordBatch v2 (magic 2) primitives: unsigned LEB128 varints with
    # zigzag encoding for the signed record fields (protocol "varint")

    def uvarint(self, v: int) -> "_Writer":
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                return self.raw(bytes(out))

    def varint(self, v: int) -> "_Writer":
        return self.uvarint(((v << 1) ^ (v >> 63)) & 0xFFFFFFFFFFFFFFFF)

    def vbytes(self, b: bytes | None) -> "_Writer":
        if b is None:
            return self.varint(-1)
        return self.varint(len(b)).raw(b)

    # KIP-482 flexible-version ("compact") primitives: lengths are
    # uvarint(n + 1) with 0 = null, and every flexible struct ends
    # with a tagged-field section (this client sends none)

    def compact_string(self, s: str | None) -> "_Writer":
        if s is None:
            return self.uvarint(0)
        b = s.encode("utf-8")
        return self.uvarint(len(b) + 1).raw(b)

    def compact_bytes(self, b: bytes | None) -> "_Writer":
        if b is None:
            return self.uvarint(0)
        return self.uvarint(len(b) + 1).raw(b)

    def compact_array(self, items, enc) -> "_Writer":
        if items is None:
            return self.uvarint(0)
        self.uvarint(len(items) + 1)
        for it in items:
            enc(self, it)
        return self

    def tags(self) -> "_Writer":
        """Empty tagged-field section."""
        return self.uvarint(0)

    def done(self) -> bytes:
        return b"".join(self._parts)


class _Reader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def _take(self, n: int) -> bytes:
        if n < 0:
            # a malformed zigzag varint (negative header-name or record
            # length) must fail loudly like the CRC path, not slice
            # backward and yield garbage
            raise KafkaWireError(f"negative length {n} at {self.pos}")
        if self.pos + n > len(self.data):
            raise KafkaWireError(
                f"truncated frame: need {n} bytes at {self.pos}, "
                f"have {len(self.data)}"
            )
        b = self.data[self.pos : self.pos + n]
        self.pos += n
        return b

    def int8(self) -> int:
        return struct.unpack(">b", self._take(1))[0]

    def int16(self) -> int:
        return struct.unpack(">h", self._take(2))[0]

    def int32(self) -> int:
        return struct.unpack(">i", self._take(4))[0]

    def int64(self) -> int:
        return struct.unpack(">q", self._take(8))[0]

    def string(self) -> str | None:
        n = self.int16()
        if n < 0:
            return None
        return self._take(n).decode("utf-8")

    def bytes_(self) -> bytes | None:
        n = self.int32()
        if n < 0:
            return None
        return self._take(n)

    def array(self, dec) -> list:
        n = self.int32()
        if n < 0:
            return []
        return [dec(self) for _ in range(n)]

    def uvarint(self) -> int:
        shift, out = 0, 0
        while True:
            if shift > 63:
                raise KafkaWireError("varint overruns 64 bits")
            b = self._take(1)[0]
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7

    def varint(self) -> int:
        z = self.uvarint()
        return (z >> 1) ^ -(z & 1)

    # KIP-482 flexible-version ("compact") primitives

    def compact_string(self) -> str | None:
        n = self.uvarint()
        if n == 0:
            return None
        return self._take(n - 1).decode("utf-8")

    def compact_bytes(self) -> bytes | None:
        n = self.uvarint()
        if n == 0:
            return None
        return self._take(n - 1)

    def compact_array(self, dec) -> list:
        n = self.uvarint()
        if n == 0:
            return []
        return [dec(self) for _ in range(n - 1)]

    def tags(self) -> None:
        """Skip a tagged-field section (unknown tags are ignorable by
        design, KIP-482)."""
        for _ in range(self.uvarint()):
            self.uvarint()  # tag id
            self._take(self.uvarint())

    def vbytes(self) -> bytes | None:
        n = self.varint()
        if n < 0:
            return None
        return self._take(n)

    def remaining(self) -> int:
        return len(self.data) - self.pos


# ---------------------------------------------------------------------------
# CRC-32C (Castagnoli, reflected poly 0x82F63B78): the checksum
# RecordBatch v2 mandates over [attributes..end].  Pure-Python
# slicing-by-8 (the standard public table technique) — no C extension
# is guaranteed in this environment; throughput is bounded by produce
# batch sizes (a few KB per call), not corpus scans.

def _build_crc32c_tables() -> list[list[int]]:
    poly = 0x82F63B78
    t0 = []
    for i in range(256):
        crc = i
        for _ in range(8):
            crc = (crc >> 1) ^ poly if crc & 1 else crc >> 1
        t0.append(crc)
    tables = [t0]
    for _ in range(7):
        prev = tables[-1]
        tables.append([(prev[i] >> 8) ^ t0[prev[i] & 0xFF] for i in range(256)])
    return tables


_CRC32C = _build_crc32c_tables()


def crc32c(data: bytes, value: int = 0) -> int:
    """Slice-by-8, one whole-buffer qword unpack (r13: ~1.9x the former
    per-8-byte slicing loop — unpack_from is one C call, and the inner
    loop is pure int ops with no per-iteration allocation)."""
    t0, t1, t2, t3, t4, t5, t6, t7 = _CRC32C
    crc = value ^ 0xFFFFFFFF
    n = len(data)
    nq = n >> 3
    if nq:
        for q in struct.unpack_from(f"<{nq}Q", data):
            crc ^= q & 0xFFFFFFFF
            hi = q >> 32
            crc = (
                t7[crc & 0xFF]
                ^ t6[(crc >> 8) & 0xFF]
                ^ t5[(crc >> 16) & 0xFF]
                ^ t4[(crc >> 24) & 0xFF]
                ^ t3[hi & 0xFF]
                ^ t2[(hi >> 8) & 0xFF]
                ^ t1[(hi >> 16) & 0xFF]
                ^ t0[hi >> 24]
            )
    for b in data[nq << 3 :]:
        crc = (crc >> 8) ^ t0[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def crc32c_many(buffers: list[bytes]) -> list[int]:
    """CRC-32C of many buffers at once, computed in numpy LOCKSTEP —
    one vectorized slice-by-8 step advances every buffer 8 bytes, so
    the table lookups amortize across the whole list (~10x scalar at
    produce-batch widths).  CRC has a strict sequential dependency
    WITHIN a buffer, but none ACROSS buffers — exactly the shape of a
    pipelined produce (thousands of equal-sized RecordBatches).
    Bit-identical to :func:`crc32c` (same tables, same fold; ragged
    tails finish on the scalar loop).  Falls back to scalar crc32c
    without numpy or for fewer than 64 buffers: each lockstep step
    costs ~20 numpy calls whatever the width, so on 200-record batches
    (20-1000-byte records alike) the lockstep was 1.65x slower than
    scalar at 32 buffers, broke even at ~53 and took 0.86x the scalar
    time at 64 (4-core x86 VM)."""
    try:
        import numpy as np  # noqa: PLC0415
    except ImportError:  # pragma: no cover
        return [crc32c(b) for b in buffers]
    n_buf = len(buffers)
    if n_buf < 64:
        return [crc32c(b) for b in buffers]
    tn = _CRC32C_NP
    if tn is None:
        tn = globals()["_CRC32C_NP"] = [
            np.array(t, dtype=np.uint32) for t in _CRC32C
        ]
    order = sorted(range(n_buf), key=lambda i: -len(buffers[i]))
    lens = np.array([len(buffers[i]) for i in order], dtype=np.int64)
    mat = np.zeros((n_buf, int(lens[0]) if n_buf else 0), dtype=np.uint8)
    for r, i in enumerate(order):
        mat[r, : lens[r]] = np.frombuffer(buffers[i], dtype=np.uint8)
    crc = np.full(n_buf, 0xFFFFFFFF, dtype=np.uint32)
    neg = -lens  # ascending, for searchsorted
    p = 0
    u8 = np.uint32(8)
    u16 = np.uint32(16)
    u24 = np.uint32(24)
    while True:
        k = int(np.searchsorted(neg, -(p + 8), side="right"))
        if k == 0:
            break
        b = mat[:k, p : p + 8].astype(np.uint32)
        c = crc[:k] ^ (b[:, 0] | (b[:, 1] << u8) | (b[:, 2] << u16) | (b[:, 3] << u24))
        crc[:k] = (
            tn[7][c & 0xFF]
            ^ tn[6][(c >> u8) & 0xFF]
            ^ tn[5][(c >> u16) & 0xFF]
            ^ tn[4][(c >> u24) & 0xFF]
            ^ tn[3][b[:, 4]]
            ^ tn[2][b[:, 5]]
            ^ tn[1][b[:, 6]]
            ^ tn[0][b[:, 7]]
        )
        p += 8
    t0 = _CRC32C[0]
    out = [0] * n_buf
    for r, i in enumerate(order):
        ln = int(lens[r])
        c = int(crc[r])
        for byte in buffers[i][(ln >> 3) << 3 :]:
            c = (c >> 8) ^ t0[(c ^ byte) & 0xFF]
        out[i] = c ^ 0xFFFFFFFF
    return out


_CRC32C_NP = None  # lazily-built numpy copies of _CRC32C (crc32c_many)


# ---------------------------------------------------------------------------
# compression codecs (attributes bits 0-2, both record generations):
# 0 none | 1 gzip | 2 snappy | 3 lz4 | 4 zstd.  gzip is stdlib and
# fully supported; the others decode through optional packages when
# installed (import-gated) and raise a clear error otherwise.

COMPRESSION_CODECS = {"none": 0, "gzip": 1, "snappy": 2, "lz4": 3, "zstd": 4}
_CODEC_NAMES = {v: k for k, v in COMPRESSION_CODECS.items()}
_XERIAL_MAGIC = b"\x82SNAPPY\x00"


def _compress(codec: int, data: bytes) -> bytes:
    """Optional packages when installed (real compression ratios);
    pure-stdlib fallbacks otherwise (zinger_spark.compress — valid
    streams of literal/raw blocks, any decoder accepts them)."""
    if codec == 1:
        return gzip.compress(data, mtime=0)  # mtime=0: deterministic bytes
    if codec == 2:
        try:
            import snappy  # noqa: PLC0415

            return snappy.compress(data)
        except ImportError:
            from .compress import snappy_compress  # noqa: PLC0415

            return snappy_compress(data)
    if codec == 3:
        try:
            import lz4.frame  # noqa: PLC0415

            return lz4.frame.compress(data)
        except ImportError:
            from .compress import lz4_frame_compress  # noqa: PLC0415

            return lz4_frame_compress(data)
    if codec == 4:
        try:
            import zstandard  # noqa: PLC0415

            return zstandard.ZstdCompressor().compress(data)
        except ImportError:
            from .compress import zstd_frame_compress  # noqa: PLC0415

            return zstd_frame_compress(data)
    raise KafkaWireError(f"unknown compression codec {codec}")


def _snappy_unframe(data: bytes, one_shot) -> bytes:
    """Strip the xerial block framing (java snappy's message-set form:
    8-byte magic, two int32 version fields, then length-prefixed
    raw-snappy blocks) around ``one_shot`` raw-snappy decodes."""
    if data[:8] != _XERIAL_MAGIC:
        return one_shot(data)
    r = _Reader(data)
    r._take(8)
    r.int32()
    r.int32()
    out = []
    while r.remaining():
        out.append(one_shot(r._take(r.int32())))
    return b"".join(out)


def _decompress(codec: int, data: bytes) -> bytes:
    from .compress import CompressError  # noqa: PLC0415

    name = _CODEC_NAMES.get(codec, str(codec))
    try:
        if codec == 1:
            return gzip.decompress(data)
        if codec == 2:
            try:
                import snappy  # noqa: PLC0415

                return _snappy_unframe(data, snappy.decompress)
            except ImportError:
                from .compress import snappy_decompress  # noqa: PLC0415

                return _snappy_unframe(data, snappy_decompress)
        if codec == 3:
            try:
                import lz4.frame  # noqa: PLC0415

                return lz4.frame.decompress(data)
            except ImportError:
                from .compress import lz4_frame_decompress  # noqa: PLC0415

                return lz4_frame_decompress(data)
        if codec == 4:
            try:
                import zstandard  # noqa: PLC0415

                return zstandard.ZstdDecompressor().decompress(data)
            except ImportError:
                from .compress import zstd_frame_decompress  # noqa: PLC0415

                return zstd_frame_decompress(data)
    except CompressError as e:
        raise KafkaWireError(f"{name} decode failed: {e}") from e
    raise KafkaWireError(f"unknown compression codec {codec}")


# ---------------------------------------------------------------------------
# MessageSet v0/v1 (magic 0/1): the on-wire record encoding for Produce
# v0-v2 / Fetch v0-v3.  Per message:
#   offset int64 | size int32 | crc uint32 | magic int8 | attrs int8
#   | timestamp int64 (magic 1) | key bytes | value bytes
# crc = CRC-32 (IEEE, zlib.crc32) over everything after the crc field.
# A compressed set is ONE wrapper message whose value is the compressed
# inner set; magic-1 inner offsets are RELATIVE (0..n-1) with the
# wrapper carrying the absolute offset of the LAST inner message.


def _encode_one_message(
    offset: int,
    key: bytes | None,
    value: bytes | None,
    timestamp_ms: int,
    attrs: int = 0,
) -> bytes:
    body = (
        _Writer()
        .int8(1)  # magic
        .int8(attrs)
        .int64(timestamp_ms)
        .bytes_(key)
        .bytes_(value)
        .done()
    )
    crc = zlib.crc32(body) & 0xFFFFFFFF
    msg = struct.pack(">I", crc) + body
    return _Writer().int64(offset).int32(len(msg)).raw(msg).done()


def encode_message_set(
    messages: list[tuple],
    timestamp_ms: int = 0,
    compression: str = "none",
    timestamps: list[int] | None = None,
) -> bytes:
    """Magic-1 MessageSet.  Messages are (key, value) pairs — a third
    headers element, if present, is rejected (headers need magic 2).
    Producer-side offsets are placeholders (0..n-1); the broker assigns
    real ones and returns base_offset.  With compression, the inner set
    keeps those relative offsets and the single wrapper message carries
    the last one, per the magic-1 convention.  ``timestamps`` overrides
    the single ``timestamp_ms`` per message (broker re-encode path,
    where each stored message keeps its own CreateTime)."""
    parts = []
    for i, msg in enumerate(messages):
        if len(msg) > 2 and msg[2]:
            raise KafkaWireError(
                "record headers need RecordBatch v2 (Produce >= v3)"
            )
        ts = timestamps[i] if timestamps is not None else timestamp_ms
        parts.append(_encode_one_message(i, msg[0], msg[1], ts))
    raw = b"".join(parts)
    codec = COMPRESSION_CODECS[compression]
    if not codec:
        return raw
    wrapper_ts = timestamps[-1] if timestamps else timestamp_ms
    return _encode_one_message(
        len(messages) - 1, None, _compress(codec, raw), wrapper_ts, attrs=codec
    )


@dataclass
class FetchedMessage:
    offset: int
    timestamp_ms: int
    key: bytes | None
    value: bytes | None
    headers: tuple = ()  # ((name, bytes|None), ...) — magic 2 only


def _decode_one_message(r: _Reader, check_crc: bool) -> list[FetchedMessage] | None:
    """One MessageSet entry starting at ``r.pos`` (12-byte prefix
    already verified available); None = trailing partial entry."""
    offset = r.int64()
    size = r.int32()
    if size < 0 or r.remaining() < size:
        return None  # trailing partial message
    msg = _Reader(r._take(size))
    crc = msg.int32() & 0xFFFFFFFF
    body_start = msg.pos
    magic = msg.int8()
    if magic not in (0, 1):
        raise KafkaWireError(f"unsupported message magic {magic}")
    attrs = msg.int8()
    ts = msg.int64() if magic == 1 else -1
    key = msg.bytes_()
    value = msg.bytes_()
    if check_crc:
        actual = zlib.crc32(msg.data[body_start:]) & 0xFFFFFFFF
        if actual != crc:
            raise KafkaWireError(
                f"message at offset {offset}: CRC mismatch "
                f"(wire {crc:#x}, computed {actual:#x})"
            )
    codec = attrs & 0x07
    if not codec:
        return [FetchedMessage(offset, ts, key, value)]
    # compressed wrapper: value holds an inner MessageSet
    inner = decode_message_set(_decompress(codec, value or b""), check_crc)
    if magic == 1 and inner:
        # inner offsets are relative; wrapper offset = absolute offset
        # of the LAST inner message
        delta = offset - inner[-1].offset
        inner = [
            FetchedMessage(m.offset + delta, m.timestamp_ms, m.key, m.value)
            for m in inner
        ]
    return inner


def decode_message_set(data: bytes, check_crc: bool = True) -> list[FetchedMessage]:
    """Decode a magic 0/1 MessageSet (compressed wrappers included); a
    trailing partial message (the broker may cut at max_bytes
    mid-message) is dropped, per the protocol."""
    out: list[FetchedMessage] = []
    r = _Reader(data)
    while r.remaining() >= 12:
        msgs = _decode_one_message(r, check_crc)
        if msgs is None:
            break
        out.extend(msgs)
    return out


# ---------------------------------------------------------------------------
# RecordBatch v2 (magic 2, KIP-98): the record format Produce >= v3 /
# Fetch >= v4 require and 4.0 brokers mandate (KIP-896).  Layout:
#   baseOffset int64 | batchLength int32 | partitionLeaderEpoch int32
#   | magic int8=2 | crc uint32 (CRC-32C over attributes..end)
#   | attributes int16 | lastOffsetDelta int32 | baseTimestamp int64
#   | maxTimestamp int64 | producerId int64 | producerEpoch int16
#   | baseSequence int32 | recordCount int32 | records
# Each record is varint-length-prefixed with zigzag-varint fields and
# per-record headers; only the records section is compressed.


def _vz(v: int) -> bytes:
    """Zigzag LEB128 varint of a signed int — the RecordBatch v2
    record-field "varint", byte-identical to ``_Writer.varint``."""
    u = ((v << 1) ^ (v >> 63)) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# varint cache for small non-negative values (offset deltas, lengths):
# the encode hot loop runs per record of every produced batch, and the
# _Writer object machinery was ~70% of its profile (r13).
_VZ = [_vz(i) for i in range(16384)]
_VZ_NULL = _vz(-1)


def _vzc(v: int) -> bytes:
    return _VZ[v] if 0 <= v < 16384 else _vz(v)


def _record_batch_after_crc(
    messages: list[tuple],
    timestamp_ms: int,
    compression: str,
    producer_id: int,
    producer_epoch: int,
    base_sequence: int,
    timestamps: list[int] | None,
) -> bytes:
    """The attributes..records section a RecordBatch's CRC-32C covers.

    The per-record section is a tight bytes loop (r13): cached zigzag
    varints + one ``b"".join`` per record instead of ~24 _Writer method
    calls — byte-identical output (attributes int8(0) == varint(0) ==
    b"\\x00"), ~4x less encode CPU on the driver-side produce path."""
    base_ts = timestamps[0] if timestamps else timestamp_ms
    max_ts = max(timestamps) if timestamps else timestamp_ms
    recs: list[bytes] = []
    for i, msg in enumerate(messages):
        key, value = msg[0], msg[1]
        headers = msg[2] if len(msg) > 2 else ()
        rb = b"".join(
            (
                b"\x00",  # record attributes int8(0)
                _vzc(timestamps[i] - base_ts) if timestamps else b"\x00",
                _vzc(i),  # offsetDelta
                _VZ_NULL if key is None else _vzc(len(key)) + key,
                _VZ_NULL if value is None else _vzc(len(value)) + value,
                _vzc(len(headers)),
            )
        )
        for name, hval in headers:
            nb = name.encode("utf-8")
            rb += (
                _vzc(len(nb))
                + nb
                + (_VZ_NULL if hval is None else _vzc(len(hval)) + hval)
            )
        recs.append(_vzc(len(rb)))
        recs.append(rb)
    payload = b"".join(recs)
    codec = COMPRESSION_CODECS[compression]
    if codec:
        payload = _compress(codec, payload)
    return (
        _Writer()
        .int16(codec)  # attributes: CreateTime, not transactional/control
        .int32(len(messages) - 1)  # lastOffsetDelta
        .int64(base_ts)  # baseTimestamp
        .int64(max_ts)  # maxTimestamp
        .int64(producer_id)
        .int16(producer_epoch)
        .int32(base_sequence)
        .int32(len(messages))
        .raw(payload)
        .done()
    )


def _frame_record_batch(after_crc: bytes, crc: int, base_offset: int) -> bytes:
    return (
        _Writer()
        .int64(base_offset)
        .int32(9 + len(after_crc))  # partitionLeaderEpoch+magic+crc+rest
        .int32(-1)  # partitionLeaderEpoch (client produce)
        .int8(2)  # magic
        .raw(struct.pack(">I", crc))
        .raw(after_crc)
        .done()
    )


def encode_record_batch(
    messages: list[tuple],
    base_offset: int = 0,
    timestamp_ms: int = 0,
    compression: str = "none",
    producer_id: int = -1,
    producer_epoch: int = -1,
    base_sequence: int = -1,
    timestamps: list[int] | None = None,
) -> bytes:
    """One RecordBatch from (key, value) or (key, value, headers)
    tuples; headers are ((name, bytes|None), ...).  ``timestamps``
    gives per-record timestamps (encoded as deltas from the first);
    otherwise every record carries ``timestamp_ms``."""
    after_crc = _record_batch_after_crc(
        messages, timestamp_ms, compression,
        producer_id, producer_epoch, base_sequence, timestamps,
    )
    return _frame_record_batch(after_crc, crc32c(after_crc), base_offset)


def encode_record_batches(
    batches: list[list[tuple]],
    timestamp_ms: int = 0,
    compression: str = "none",
) -> list[bytes]:
    """Encode many RecordBatches at once — byte-identical to mapping
    :func:`encode_record_batch` over ``batches``, but the CRC-32C pass
    (the dominant encode cost once the record loop is tight) runs
    across ALL batches in one numpy lockstep (:func:`crc32c_many`)."""
    afters = [
        _record_batch_after_crc(m, timestamp_ms, compression, -1, -1, -1, None)
        for m in batches
    ]
    return [
        _frame_record_batch(a, c, 0)
        for a, c in zip(afters, crc32c_many(afters))
    ]


def _decode_record_batch(
    base_offset: int, batch: _Reader, check_crc: bool
) -> list[FetchedMessage]:
    batch.int32()  # partitionLeaderEpoch
    magic = batch.int8()
    if magic != 2:
        raise KafkaWireError(f"record batch with magic {magic} (want 2)")
    crc = batch.int32() & 0xFFFFFFFF
    rest = batch.data[batch.pos :]
    if check_crc:
        actual = crc32c(rest)
        if actual != crc:
            raise KafkaWireError(
                f"record batch at offset {base_offset}: CRC-32C mismatch "
                f"(wire {crc:#x}, computed {actual:#x})"
            )
    attrs = batch.int16()
    batch.int32()  # lastOffsetDelta
    base_ts = batch.int64()
    batch.int64()  # maxTimestamp
    batch.int64()  # producerId
    batch.int16()  # producerEpoch
    batch.int32()  # baseSequence
    count = batch.int32()
    payload = batch.data[batch.pos :]
    codec = attrs & 0x07
    if codec:
        payload = _decompress(codec, payload)
    if attrs & 0x20:
        return []  # control batch (txn markers): not user records
    # r13: inline buffer parsing — the per-record _Reader objects and
    # their method-call varint decoding dominated the broker-side
    # produce/fetch profile; this loop is semantics-identical (same
    # zigzag decode, same negative-length and truncation failures via
    # the explicit guards below).
    out: list[FetchedMessage] = []
    buf = payload
    end = len(buf)
    pos = 0

    def _vz_at(p: int, limit: int) -> tuple[int, int]:
        shift, u = 0, 0
        while True:
            if p >= limit:
                raise KafkaWireError(
                    f"truncated frame: need 1 bytes at {p}, have {limit}"
                )
            if shift > 63:
                raise KafkaWireError("varint overruns 64 bits")
            b = buf[p]
            p += 1
            u |= (b & 0x7F) << shift
            if not b & 0x80:
                return (u >> 1) ^ -(u & 1), p
            shift += 7

    def _slice(p: int, n: int, limit: int) -> tuple[bytes, int]:
        if n < 0:
            raise KafkaWireError(f"negative length {n} at {p}")
        if p + n > limit:
            raise KafkaWireError(
                f"truncated frame: need {n} bytes at {p}, have {limit}"
            )
        return buf[p : p + n], p + n

    for _ in range(count):
        rec_len, pos = _vz_at(pos, end)
        if rec_len < 0:
            raise KafkaWireError(f"negative length {rec_len} at {pos}")
        rec_end = pos + rec_len
        if rec_end > end:
            raise KafkaWireError(
                f"truncated frame: need {rec_len} bytes at {pos}, have {end}"
            )
        pos += 1  # record attributes int8 (unused)
        ts_delta, pos = _vz_at(pos, rec_end)
        off_delta, pos = _vz_at(pos, rec_end)
        klen, pos = _vz_at(pos, rec_end)
        key = None
        if klen >= 0:
            key, pos = _slice(pos, klen, rec_end)
        vlen, pos = _vz_at(pos, rec_end)
        value = None
        if vlen >= 0:
            value, pos = _slice(pos, vlen, rec_end)
        nh, pos = _vz_at(pos, rec_end)
        headers = []
        for _ in range(nh):
            nlen, pos = _vz_at(pos, rec_end)
            nb, pos = _slice(pos, nlen, rec_end)
            hlen, pos = _vz_at(pos, rec_end)
            hval = None
            if hlen >= 0:
                hval, pos = _slice(pos, hlen, rec_end)
            headers.append((nb.decode("utf-8"), hval))
        out.append(
            FetchedMessage(
                base_offset + off_delta,
                base_ts + ts_delta,
                key,
                value,
                tuple(headers),
            )
        )
        pos = rec_end
    return out


def decode_records(data: bytes, check_crc: bool = True) -> list[FetchedMessage]:
    """Decode a Fetch/Produce record section of EITHER generation —
    magic 0/1 MessageSet entries and magic-2 RecordBatches can be
    interleaved in one topic's log (a broker upgraded in place serves
    both).  Both framings put the magic byte at entry offset 16, which
    is how the dispatch peeks the generation.  A trailing partial entry
    (cut at max_bytes) is dropped."""
    out: list[FetchedMessage] = []
    r = _Reader(data)
    while r.remaining() >= 12:
        if r.remaining() >= 17 and r.data[r.pos + 16] == 2:
            base_offset = r.int64()
            length = r.int32()
            if length < 0 or r.remaining() < length:
                break  # trailing partial batch
            out.extend(
                _decode_record_batch(base_offset, _Reader(r._take(length)), check_crc)
            )
        else:
            msgs = _decode_one_message(r, check_crc)
            if msgs is None:
                break
            out.extend(msgs)
    return out


# ---------------------------------------------------------------------------
# client


@dataclass
class PartitionMeta:
    partition: int
    leader: int
    error: int


@dataclass
class TopicMeta:
    name: str
    error: int
    partitions: list[PartitionMeta]


class KafkaWireClient:
    """One broker connection, synchronous request/response.

    The stub broker (and any single-node broker) leads every partition,
    so no metadata-driven connection routing is needed; against a real
    cluster, connect this client to the partition leader (metadata()
    reports it).  Thread-safe: one in-flight request at a time.
    """

    #: client-implemented versions per negotiable API, best last —
    #: v9/v12/v9 are the flexible (KIP-482) generations
    _PRODUCE_VERSIONS = (2, 3, 9)
    _FETCH_VERSIONS = (2, 4, 12)
    _METADATA_VERSIONS = (1, 9)

    def __init__(
        self,
        bootstrap: str,
        client_id: str = "zinger-wire",
        timeout: float = 30.0,
        ssl_context=None,
        sasl_plain: tuple[str, str] | None = None,
    ):
        """``ssl_context``: an ``ssl.SSLContext`` to wrap the connection
        (kafka.json security_protocol SSL / SASL_SSL — the reference
        dials TLS via franz-go, cli/flags.go:92-99).  ``sasl_plain``:
        (username, password) for the SASL PLAIN handshake (RFC 4616;
        cli/flags.go:101-112) run immediately after connect, before any
        other request."""
        host, _, port = bootstrap.rpartition(":")
        self._addr = (host or "localhost", int(port))
        self._client_id = client_id
        self._timeout = timeout
        self._ssl_context = ssl_context
        self._sasl_plain = sasl_plain
        self._sock: socket.socket | None = None
        self._corr = 0
        self._lock = threading.Lock()
        self._broker_versions: dict[int, tuple[int, int]] | None = None

    # -- plumbing --

    def _connect(self) -> socket.socket:
        if self._sock is None:
            s = socket.create_connection(self._addr, timeout=self._timeout)
            s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            if self._ssl_context is not None:
                s = self._ssl_context.wrap_socket(
                    s, server_hostname=self._addr[0]
                )
            self._sock = s
            if self._sasl_plain is not None:
                try:
                    self._sasl_authenticate(s)
                except Exception:
                    try:
                        s.close()
                    finally:
                        self._sock = None
                    raise
        return self._sock

    def _raw_roundtrip(
        self, sock: socket.socket, api_key: int, api_version: int, body: bytes
    ) -> _Reader:
        """One request/response on an already-open socket — used by the
        pre-auth SASL exchange, which cannot go through _request (that
        would re-enter _connect)."""
        self._corr += 1
        corr = self._corr
        frame = self._header(api_key, api_version, corr) + body
        sock.sendall(struct.pack(">i", len(frame)) + frame)
        size = struct.unpack(">i", self._recv_exact(sock, 4))[0]
        r = _Reader(self._recv_exact(sock, size))
        got = r.int32()
        if got != corr:
            raise KafkaWireError(f"correlation id mismatch: sent {corr}, got {got}")
        self._response_tags(r, api_key, api_version)
        return r

    def _header(self, api_key: int, api_version: int, corr: int) -> bytes:
        """Request header: v2 (trailing tagged fields) for flexible
        versions, v1 otherwise — client_id stays a legacy string in
        both (KIP-482 kept it for bootstrap compatibility)."""
        w = (
            _Writer()
            .int16(api_key)
            .int16(api_version)
            .int32(corr)
            .string(self._client_id)
        )
        if is_flexible(api_key, api_version):
            w.tags()
        return w.done()

    @staticmethod
    def _response_tags(r: _Reader, api_key: int, api_version: int) -> None:
        """Flexible responses use header v1 (tagged fields after the
        correlation id) — EXCEPT ApiVersions, which pins header v0 at
        every version so old clients can parse the error (KIP-511)."""
        if api_key != API_API_VERSIONS and is_flexible(api_key, api_version):
            r.tags()

    def _sasl_authenticate(self, sock: socket.socket) -> None:
        """SASL PLAIN per the public protocol: ApiVersions (allowed
        pre-auth) -> SaslHandshake -> token exchange.  Handshake v1
        wraps the token in SaslAuthenticate requests (KIP-152); v0
        sends it as a bare length-prefixed frame with no header."""
        user, password = self._sasl_plain  # type: ignore[misc]
        # capability probe on the raw socket (fills the version cache
        # the post-auth negotiation reuses)
        r = self._raw_roundtrip(sock, API_API_VERSIONS, 0, b"")
        err = r.int16()
        versions: dict[int, tuple[int, int]] = {}
        if not err:
            for _ in range(r.int32()):
                key, mn, mx = r.int16(), r.int16(), r.int16()
                versions[key] = (mn, mx)
            self._broker_versions = versions
        hs_lo, hs_hi = versions.get(API_SASL_HANDSHAKE, (0, 0))
        hs_version = 1 if hs_lo <= 1 <= hs_hi else 0
        r = self._raw_roundtrip(
            sock, API_SASL_HANDSHAKE, hs_version, _Writer().string("PLAIN").done()
        )
        err = r.int16()
        if err:
            mechs = r.array(lambda rr: rr.string())
            raise KafkaWireError(
                f"SaslHandshake: error {err} (broker mechanisms: {mechs})", err
            )
        token = b"\x00" + user.encode() + b"\x00" + password.encode()
        if hs_version >= 1:
            # KIP-152: token rides in a SaslAuthenticate request so auth
            # failures come back as a proper error code + message
            r = self._raw_roundtrip(
                sock, API_SASL_AUTHENTICATE, 0, _Writer().bytes_(token).done()
            )
            err = r.int16()
            msg = r.string()
            if err:
                raise KafkaWireError(
                    f"SASL authentication failed: {msg or f'error {err}'}", err
                )
        else:
            # legacy v0: bare length-prefixed token, success = empty
            # response frame, failure = broker closes the connection
            sock.sendall(struct.pack(">i", len(token)) + token)
            size = struct.unpack(">i", self._recv_exact(sock, 4))[0]
            self._recv_exact(sock, size)

    def _close_locked(self) -> None:
        """Close the socket; caller must hold self._lock (the lock is
        non-reentrant — calling close() from inside _request would
        deadlock)."""
        if self._sock is not None:
            try:
                self._sock.close()
            finally:
                self._sock = None

    def close(self) -> None:
        with self._lock:
            self._close_locked()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def _recv_exact(self, sock: socket.socket, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = sock.recv(n - len(buf))
            if not chunk:
                raise KafkaWireError("connection closed by broker")
            buf.extend(chunk)
        return bytes(buf)

    def _request(
        self,
        api_key: int,
        api_version: int,
        body: bytes,
        expect_response: bool = True,
    ) -> _Reader | None:
        with self._lock:
            self._corr += 1
            corr = self._corr
            frame = self._header(api_key, api_version, corr) + body
            sock = self._connect()
            try:
                sock.sendall(struct.pack(">i", len(frame)) + frame)
                if not expect_response:
                    # Produce with acks=0: the broker sends NO response
                    # (kafka.apache.org/protocol) — reading would block
                    # until the socket timeout
                    return None
                size = struct.unpack(">i", self._recv_exact(sock, 4))[0]
                payload = self._recv_exact(sock, size)
            except (OSError, KafkaWireError):
                self._close_locked()
                raise
            r = _Reader(payload)
            got_corr = r.int32()
            if got_corr != corr:
                self._close_locked()
                raise KafkaWireError(
                    f"correlation id mismatch: sent {corr}, got {got_corr}"
                )
            self._response_tags(r, api_key, api_version)
            return r

    # -- APIs --

    def api_versions(self) -> dict[int, tuple[int, int]]:
        """{api_key: (min_version, max_version)} — the capability probe."""
        r = self._request(API_API_VERSIONS, 0, b"")
        err = r.int16()
        if err:
            raise KafkaWireError(f"ApiVersions error {err}", err)
        out = {}
        for _ in range(r.int32()):
            key, mn, mx = r.int16(), r.int16(), r.int16()
            out[key] = (mn, mx)
        self._broker_versions = out
        return out

    def _negotiate(self, api_key: int, ours: tuple[int, ...]) -> int:
        """Highest client-implemented version inside the broker's
        advertised range (one cached ApiVersions round trip)."""
        if self._broker_versions is None:
            self.api_versions()
        lo_hi = (self._broker_versions or {}).get(api_key)
        if lo_hi is None:
            return ours[0]  # broker didn't advertise: try the oldest
        picks = [v for v in ours if lo_hi[0] <= v <= lo_hi[1]]
        if not picks:
            raise UnsupportedVersion(
                f"broker supports api {api_key} versions "
                f"{lo_hi[0]}-{lo_hi[1]}; client implements {ours}",
                ERR_UNSUPPORTED_VERSION,
            )
        return picks[-1]

    def metadata(self, topics: list[str] | None = None) -> list[TopicMeta]:
        version = self._negotiate(API_METADATA, self._METADATA_VERSIONS)
        if version >= 9:
            return self._metadata_flexible(topics, version)
        body = _Writer()
        if topics is None:
            body.int32(-1)  # all topics
        else:
            body.array(topics, lambda w, t: w.string(t))
        r = self._request(API_METADATA, 1, body.done())
        # brokers
        for _ in range(r.int32()):
            r.int32()  # node_id
            r.string()  # host
            r.int32()  # port
            r.string()  # rack
        r.int32()  # controller_id
        out: list[TopicMeta] = []
        for _ in range(r.int32()):
            terr = r.int16()
            name = r.string() or ""
            r.int8()  # is_internal
            parts: list[PartitionMeta] = []
            for _ in range(r.int32()):
                perr = r.int16()
                pid = r.int32()
                leader = r.int32()
                r.array(lambda rr: rr.int32())  # replicas
                r.array(lambda rr: rr.int32())  # isr
                parts.append(PartitionMeta(pid, leader, perr))
            out.append(TopicMeta(name, terr, sorted(parts, key=lambda p: p.partition)))
        return out

    def _metadata_flexible(
        self, topics: list[str] | None, version: int
    ) -> list[TopicMeta]:
        """Metadata v9 (flexible): compact encodings + tagged fields."""
        body = _Writer()
        body.compact_array(
            topics if topics is None else list(topics),
            lambda w, t: w.compact_string(t).tags(),
        )
        body.int8(1)  # allow_auto_topic_creation (broker decides)
        body.int8(0).int8(0)  # cluster/topic authorized operations
        body.tags()
        r = self._request(API_METADATA, version, body.done())
        r.int32()  # throttle_time_ms
        for _ in range(max(r.uvarint() - 1, 0)):  # brokers
            r.int32()  # node_id
            r.compact_string()  # host
            r.int32()  # port
            r.compact_string()  # rack
            r.tags()
        r.compact_string()  # cluster_id
        r.int32()  # controller_id
        out: list[TopicMeta] = []
        for _ in range(max(r.uvarint() - 1, 0)):  # topics
            terr = r.int16()
            name = r.compact_string() or ""
            r.int8()  # is_internal
            parts: list[PartitionMeta] = []
            for _ in range(max(r.uvarint() - 1, 0)):
                perr = r.int16()
                pid = r.int32()
                leader = r.int32()
                r.int32()  # leader_epoch
                r.compact_array(lambda rr: rr.int32())  # replicas
                r.compact_array(lambda rr: rr.int32())  # isr
                r.compact_array(lambda rr: rr.int32())  # offline
                r.tags()
                parts.append(PartitionMeta(pid, leader, perr))
            r.int32()  # topic_authorized_operations
            r.tags()
            out.append(TopicMeta(name, terr, sorted(parts, key=lambda p: p.partition)))
        r.int32()  # cluster_authorized_operations
        r.tags()
        return out

    def create_topic(
        self,
        topic: str,
        partitions: int = 1,
        replication: int = 1,
        configs: dict[str, str] | None = None,
        timeout_ms: int = 30_000,
    ) -> None:
        body = _Writer()
        body.int32(1)  # one create_topic_request
        body.string(topic).int32(partitions).int16(replication)
        body.int32(0)  # no manual replica assignments
        body.array(
            sorted((configs or {}).items()),
            lambda w, kv: w.string(kv[0]).string(kv[1]),
        )
        body.int32(timeout_ms)
        r = self._request(API_CREATE_TOPICS, 0, body.done())
        for _ in range(r.int32()):
            name = r.string()
            err = r.int16()
            if name == topic and err:
                raise KafkaWireError(f"CreateTopics {topic!r}: error {err}", err)

    #: client-implemented ListOffsets versions (v6 = flexible)
    _LIST_OFFSETS_VERSIONS = (1, 6)

    def list_offset(self, topic: str, partition: int, timestamp: int) -> int:
        """ListOffsets: timestamp LATEST (-1) -> end offset,
        EARLIEST (-2) -> start offset.  v6 (flexible) when the broker
        offers it, v1 otherwise."""
        version = self._negotiate(
            API_LIST_OFFSETS, self._LIST_OFFSETS_VERSIONS
        )
        if version >= 6:
            body = _Writer().int32(-1).int8(0)  # replica_id, isolation
            body.compact_array(
                [topic],
                lambda w, t: w.compact_string(t)
                .compact_array(
                    [partition],
                    lambda pw, p: pw.int32(p)
                    .int32(-1)  # current_leader_epoch
                    .int64(timestamp)
                    .tags(),
                )
                .tags(),
            )
            body.tags()
            r = self._request(API_LIST_OFFSETS, version, body.done())
            r.int32()  # throttle_time_ms
            for _ in range(max(r.uvarint() - 1, 0)):
                r.compact_string()  # topic
                for _ in range(max(r.uvarint() - 1, 0)):
                    r.int32()  # partition
                    err = r.int16()
                    r.int64()  # timestamp
                    off = r.int64()
                    r.int32()  # leader_epoch
                    r.tags()
                    if err:
                        raise KafkaWireError(
                            f"ListOffsets {topic}[{partition}]: error {err}",
                            err,
                        )
                    return off
                r.tags()
            raise KafkaWireError(
                f"ListOffsets: no result for {topic}[{partition}]"
            )
        body = (
            _Writer()
            .int32(-1)  # replica_id: ordinary client
            .int32(1)
            .string(topic)
            .int32(1)
            .int32(partition)
            .int64(timestamp)
            .done()
        )
        r = self._request(API_LIST_OFFSETS, 1, body)
        for _ in range(r.int32()):
            r.string()
            for _ in range(r.int32()):
                r.int32()  # partition
                err = r.int16()
                r.int64()  # timestamp
                off = r.int64()
                if err:
                    raise KafkaWireError(
                        f"ListOffsets {topic}[{partition}]: error {err}", err
                    )
                return off
        raise KafkaWireError(f"ListOffsets: no result for {topic}[{partition}]")

    def watermarks(self, topic: str, partition: int = 0) -> tuple[int, int]:
        return (
            self.list_offset(topic, partition, EARLIEST),
            self.list_offset(topic, partition, LATEST),
        )

    def produce(
        self,
        topic: str,
        partition: int,
        messages: list[tuple],
        acks: int = -1,
        timeout_ms: int = 30_000,
        timestamp_ms: int = 0,
        compression: str = "none",
        api_version: int | None = None,
        premade_batch: bytes | None = None,
    ) -> int:
        """Append messages — (key, value) or (key, value, headers)
        tuples; returns the base offset the broker assigned (-1 with
        acks=0, which gets no response per the protocol).

        The wire generation follows the negotiated version: v3+ sends
        a RecordBatch v2 (what 3.x/4.x brokers require, KIP-896), v2
        a magic-1 MessageSet; v9+ is the flexible (KIP-482) encoding
        of the same RecordBatch payload.  ``compression`` (all four
        codecs; stdlib fallbacks) applies to either generation.

        ``premade_batch``: a record set already encoded for the
        negotiated version — RecordBatch v2 at v3+, a magic-1
        MessageSet below (wire_produce_df's bulk encode) — which makes
        ``messages``/``timestamp_ms``/``compression`` moot."""
        version = (
            self._negotiate(API_PRODUCE, self._PRODUCE_VERSIONS)
            if api_version is None
            else api_version
        )
        if premade_batch is not None:
            # magic byte: offset 16 in both a RecordBatch v2 and a
            # magic-1 MessageSet
            if premade_batch[16:17] != bytes([2 if version >= 3 else 1]):
                raise KafkaWireError(
                    f"premade_batch generation does not match Produce v{version}"
                )
            ms = premade_batch
        elif version >= 3:
            ms = encode_record_batch(
                messages, timestamp_ms=timestamp_ms, compression=compression
            )
        else:
            ms = encode_message_set(
                messages, timestamp_ms=timestamp_ms, compression=compression
            )
        body = _Writer()
        if version >= 9:
            body.compact_string(None)  # transactional_id
            body.int16(acks).int32(timeout_ms)
            body.compact_array(
                [topic],
                lambda w, t: w.compact_string(t)
                .compact_array(
                    [partition],
                    lambda pw, p: pw.int32(p).compact_bytes(ms).tags(),
                )
                .tags(),
            )
            body.tags()
        else:
            if version >= 3:
                body.string(None)  # transactional_id
            body.int16(acks).int32(timeout_ms)
            body.int32(1).string(topic).int32(1).int32(partition).bytes_(ms)
        r = self._request(
            API_PRODUCE, version, body.done(), expect_response=acks != 0
        )
        if r is None:
            return -1  # acks=0: fire-and-forget
        base = -1
        if version >= 9:
            for _ in range(max(r.uvarint() - 1, 0)):  # responses
                r.compact_string()  # topic
                for _ in range(max(r.uvarint() - 1, 0)):  # partitions
                    r.int32()  # index
                    err = r.int16()
                    base = r.int64()
                    r.int64()  # log_append_time
                    r.int64()  # log_start_offset
                    for _ in range(max(r.uvarint() - 1, 0)):  # record_errors
                        r.int32()  # batch_index
                        r.compact_string()  # batch_index_error_message
                        r.tags()
                    emsg = r.compact_string()  # error_message
                    r.tags()
                    if err:
                        raise KafkaWireError(
                            f"Produce {topic}[{partition}]: error {err}"
                            + (f" ({emsg})" if emsg else ""),
                            err,
                        )
                r.tags()
            r.int32()  # throttle_time_ms
            r.tags()
            return base
        for _ in range(r.int32()):
            r.string()
            for _ in range(r.int32()):
                r.int32()  # partition
                err = r.int16()
                base = r.int64()
                if version >= 2:
                    r.int64()  # log_append_time
                if err:
                    raise KafkaWireError(
                        f"Produce {topic}[{partition}]: error {err}", err
                    )
        if version >= 1:
            r.int32()  # throttle_time_ms
        return base

    def fetch(
        self,
        topic: str,
        partition: int,
        offset: int,
        max_bytes: int = 4 * 1024 * 1024,
        max_wait_ms: int = 100,
        min_bytes: int = 0,
        api_version: int | None = None,
    ) -> tuple[int, list[FetchedMessage]]:
        """One Fetch round trip: (high_watermark, messages from offset).
        Messages below the requested offset (the broker may return a
        whole stored batch) are filtered out, per client convention.
        v4 is used when the broker supports it (RecordBatch v2 decode,
        READ_UNCOMMITTED isolation); the decoder handles both record
        generations and every codec either way."""
        version = (
            self._negotiate(API_FETCH, self._FETCH_VERSIONS)
            if api_version is None
            else api_version
        )
        if version >= 12:
            return self._fetch_flexible(
                topic, partition, offset, max_bytes, max_wait_ms, min_bytes,
                version,
            )
        body = _Writer().int32(-1).int32(max_wait_ms).int32(min_bytes)
        if version >= 3:
            body.int32(max_bytes)  # top-level response cap
        if version >= 4:
            body.int8(0)  # isolation_level: READ_UNCOMMITTED
        body.int32(1).string(topic).int32(1)
        body.int32(partition).int64(offset).int32(max_bytes)
        r = self._request(API_FETCH, version, body.done())
        if version >= 1:
            r.int32()  # throttle_time_ms
        hw, msgs = -1, []
        for _ in range(r.int32()):
            r.string()
            for _ in range(r.int32()):
                r.int32()  # partition
                err = r.int16()
                hw = r.int64()
                if version >= 4:
                    r.int64()  # last_stable_offset
                    for _ in range(max(r.int32(), 0)):  # aborted_transactions
                        r.int64()  # producer_id
                        r.int64()  # first_offset
                data = r.bytes_() or b""
                if err:
                    raise KafkaWireError(
                        f"Fetch {topic}[{partition}]@{offset}: error {err}", err
                    )
                msgs = [m for m in decode_records(data) if m.offset >= offset]
        return hw, msgs

    def _fetch_flexible(
        self,
        topic: str,
        partition: int,
        offset: int,
        max_bytes: int,
        max_wait_ms: int,
        min_bytes: int,
        version: int,
    ) -> tuple[int, list[FetchedMessage]]:
        """Fetch v12 (flexible, KIP-482): sessionless (session_id=0,
        epoch=-1 — the stateless per-request mode brokers must support),
        no leader-epoch fencing (-1 sentinels)."""

        def _part(w: _Writer, p: int) -> None:
            w.int32(p).int32(-1)  # partition, current_leader_epoch
            w.int64(offset).int32(-1)  # fetch_offset, last_fetched_epoch
            w.int64(-1).int32(max_bytes)  # log_start_offset, part max
            w.tags()

        body = _Writer().int32(-1).int32(max_wait_ms).int32(min_bytes)
        body.int32(max_bytes).int8(0)  # top cap, READ_UNCOMMITTED
        body.int32(0).int32(-1)  # session_id, session_epoch
        body.compact_array(
            [topic],
            lambda w, t: w.compact_string(t)
            .compact_array([partition], _part)
            .tags(),
        )
        body.compact_array([], lambda w, _: None)  # forgotten_topics_data
        body.compact_string("")  # rack_id
        body.tags()
        r = self._request(API_FETCH, version, body.done())
        r.int32()  # throttle_time_ms
        top_err = r.int16()
        r.int32()  # session_id
        if top_err:
            raise KafkaWireError(f"Fetch: error {top_err}", top_err)
        hw, msgs = -1, []
        for _ in range(max(r.uvarint() - 1, 0)):  # responses
            r.compact_string()  # topic
            for _ in range(max(r.uvarint() - 1, 0)):  # partitions
                r.int32()  # partition_index
                err = r.int16()
                hw = r.int64()
                r.int64()  # last_stable_offset
                r.int64()  # log_start_offset
                for _ in range(max(r.uvarint() - 1, 0)):  # aborted txns
                    r.int64()  # producer_id
                    r.int64()  # first_offset
                    r.tags()
                r.int32()  # preferred_read_replica
                data = r.compact_bytes() or b""
                r.tags()
                if err:
                    raise KafkaWireError(
                        f"Fetch {topic}[{partition}]@{offset}: error {err}",
                        err,
                    )
                msgs = [m for m in decode_records(data) if m.offset >= offset]
            r.tags()
        r.tags()
        return hw, msgs

    def fetch_all(
        self, topic: str, partition: int, start: int, end: int | None = None
    ) -> list[FetchedMessage]:
        """Drain [start, end) with repeated Fetches (end=None -> current
        high watermark at call time)."""
        if end is None:
            end = self.list_offset(topic, partition, LATEST)
        out: list[FetchedMessage] = []
        offset = start
        while offset < end:
            _, msgs = self.fetch(topic, partition, offset)
            msgs = [m for m in msgs if m.offset < end]
            if not msgs:
                break  # no progress (compacted gap at the tail)
            out.extend(msgs)
            offset = msgs[-1].offset + 1
        return out


# ---------------------------------------------------------------------------
# Spark bridges: bounded batch read / produce through the wire client,
# shaped exactly like Spark's JVM Kafka source so envelope_stream and
# the to-kafka projections compose unchanged.  This is the no-JVM-jar
# fallback for BOUNDED syncs (the reference's to-kafka sync loop is
# bounded too, fifo/to.go:29-53); continuous streaming still wants the
# JVM source.


def wire_read_topic(
    spark,
    brokers: str,
    topic: str,
    starting_offset: int = EARLIEST,
    ending_offset: int | None = None,
    partitions: list[int] | None = None,
    starting_offsets: dict[int, int] | None = None,
    security: dict | None = None,
):
    """Bounded read -> DataFrame with the Spark Kafka source's columns
    (key/value binary, topic, partition, offset, timestamp ms).  The
    fetch itself is driver-side (the wire client is one connection);
    bounded use only — backfills at scale go through the JVM source.

    ``starting_offsets`` maps partition -> concrete start offset (the
    Spark source's startingOffsets-JSON shape) and overrides both
    ``starting_offset`` and ``partitions``; a single ``starting_offset``
    (EARLIEST/LATEST or concrete) applies to every covered partition."""
    from pyspark.sql import types as T  # noqa: PLC0415

    schema = T.StructType(
        [
            T.StructField("key", T.BinaryType()),
            T.StructField("value", T.BinaryType()),
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("timestamp_ms", T.LongType()),
        ]
    )
    if starting_offsets is not None:
        partitions = sorted(starting_offsets)
    with KafkaWireClient(brokers, **(security or {})) as c:
        if partitions is None:
            metas = c.metadata([topic])
            if not metas or metas[0].error:
                raise KafkaWireError(f"unknown topic {topic!r}")
            partitions = [p.partition for p in metas[0].partitions]
        rows = []
        for p in partitions:
            per_part = (
                starting_offsets[p] if starting_offsets is not None
                else starting_offset
            )
            start = (
                c.list_offset(topic, p, per_part) if per_part < 0 else per_part
            )
            for m in c.fetch_all(topic, p, start, ending_offset):
                rows.append((m.key, m.value, topic, p, m.offset, m.timestamp_ms))
    return spark.createDataFrame(rows, schema)


#: produce batches encoded per call in wire_produce_df.  crc32c_many's
#: numpy lockstep pays ~20 array ops per 8-byte step, so its gain grows
#: with the number of buffers: over 1000 batches of 200 ~150-byte
#: records, groups of 64 encoded no faster than the scalar loop and
#: groups of 1024 ~7x faster (4-core x86 VM).  The group also bounds
#: the Python rows alive at once (~200k at the default batch size).
_ENCODE_GROUP = 1024


def wire_produce_df(
    df,
    brokers: str,
    topic: str,
    partition: int = 0,
    batch_size: int = 200,
    compression: str = "none",
    security: dict | None = None,
    pipelined: bool = False,
) -> int:
    """Produce a (key binary/string, value binary/string) DataFrame —
    the kafka_sink_projection shape — through the wire client in
    batches of ``batch_size`` (the reference's to-kafka produce loop
    batches 200, fifo/to.go:63-81).  Returns the record count.

    One loop: the frame is collected once as an Arrow table (strings
    are UTF-8 encoded JVM-side, so rows arrive as columnar binary
    instead of pickled Row objects) and walked in slices of
    ``batch_size``.  Each group of up to ``_ENCODE_GROUP`` slices is
    encoded together — RecordBatch v2 via :func:`encode_record_batches`
    (one numpy CRC-32C pass across the group) when the broker
    negotiates Produce >= v3, one magic-1 MessageSet per slice below
    that — and sent batch by batch.  Python objects exist for one group
    at a time; the Arrow table holds the payload once.  An empty frame
    opens no connection and sends nothing.

    ``pipelined=True`` sends every batch with acks=0 (the protocol's
    fire-and-forget: the broker sends no response, so batches pipeline
    through the TCP window instead of paying a round trip each) and
    then BARRIERS: one ListOffsets probe verifies the partition's high
    watermark advanced by exactly the produced count, raising
    KafkaWireError otherwise.  Same failure semantics as the
    synchronous mode (acks=-1 per batch) — a mid-stream crash leaves
    earlier batches appended either way, and callers already handle
    that with produced-offset watermarks (continuous_sink's sidecar) —
    but ~an order of magnitude fewer round trips.  Assumes this
    producer is the partition's only writer during the call, which is
    the sync loop's ordering assumption anyway.

    Driver-side by design: the frame is collected whole, so its caller
    bounds it — ``to_kafka.sync_batches`` hands over one ordered read of
    at most ``to_kafka.CHUNK_ROWS`` records at a time.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    key_col = (
        F.col("key") if "key" in df.columns
        else F.lit(None).cast("binary").alias("key")
    )
    proj = df.select(key_col.alias("key"), F.col("value"))
    tbl = proj.select(
        *[
            F.encode(F.col(f.name), "UTF-8").alias(f.name)
            if f.dataType.simpleString() == "string"
            else F.col(f.name)
            for f in proj.schema.fields
        ]
    ).toArrow()
    if not tbl.num_rows:
        return 0
    acks = 0 if pipelined else -1
    group = batch_size * _ENCODE_GROUP
    n = 0
    with KafkaWireClient(brokers, **(security or {})) as c:
        start_hw = c.list_offset(topic, partition, LATEST) if pipelined else 0
        ver = c._negotiate(API_PRODUCE, c._PRODUCE_VERSIONS)
        for g in range(0, tbl.num_rows, group):
            part = tbl.slice(g, group)
            rows = list(
                zip(part.column("key").to_pylist(),
                    part.column("value").to_pylist())
            )
            batches = [
                rows[i : i + batch_size]
                for i in range(0, len(rows), batch_size)
            ]
            if ver >= 3:
                sets = encode_record_batches(batches, compression=compression)
            else:
                sets = [
                    encode_message_set(b, compression=compression)
                    for b in batches
                ]
            for ms, b in zip(sets, batches):
                c.produce(topic, partition, [], acks=acks, api_version=ver,
                          premade_batch=ms)
                n += len(b)
        if pipelined:
            end_hw = c.list_offset(topic, partition, LATEST)
            if end_hw - start_hw != n:
                raise KafkaWireError(
                    f"pipelined produce verification failed: "
                    f"{topic}[{partition}] high watermark advanced "
                    f"{end_hw - start_hw}, expected {n}"
                )
    return n
