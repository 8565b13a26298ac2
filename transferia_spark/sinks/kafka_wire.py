"""Pure-Python Kafka wire protocol: RecordBatch v2 + Produce/Metadata.

The Kafka protocol is public and versioned; this module implements the
subset a producer needs, with no client library or connector jar:

- **RecordBatch v2** (message format since 0.11): the on-wire unit —
  64-bit base offset, CRC-32C (Castagnoli) over attributes..records,
  per-record zigzag-varint deltas for timestamp/offset, nullable
  key/value, record headers.
- **Produce v3** request frames (record batches per topic-partition,
  acks / timeout) and **Metadata v1** requests, with the standard
  int16 api-key / api-version / correlation-id / nullable-client-id
  header and int32 length prefix.

A decoder for the same layouts ships alongside so tests round-trip
batches byte-for-byte and the CRC is verified against the published
CRC-32C test vector. Record compression is gzip (stdlib zlib) plus
snappy/lz4/zstd through pyarrow's bundled C codecs — pyarrow is the
one codec dependency. The varint primitives are shared with the
protobuf wire decoder (``parsers/protowire.py``) — same base-128
encoding, Kafka's are zigzag for record deltas.

≈ ``pkg/providers/kafka/writer/`` in transferia/transferia (which uses
franz-go to emit exactly these frames). The socket transport is the
injectable/gated part — no broker runs in this container — while the
byte layout is fully executable and tested.
"""

from __future__ import annotations

import gzip
import struct
import zlib

import pyarrow as pa

from transferia_spark.parsers.protowire import read_varint, read_zigzag, write_zigzag

# ------------------------------------------------------------- crc32c

_CRC32C_POLY = 0x82F63B78  # reflected 0x1EDC6F41


def _make_table() -> list[int]:
    table = []
    for i in range(256):
        crc = i
        for _ in range(8):
            crc = (crc >> 1) ^ _CRC32C_POLY if crc & 1 else crc >> 1
        table.append(crc)
    return table


_TABLE = _make_table()


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli), the checksum RecordBatch v2 mandates.
    Verified against the spec vector crc32c(b"123456789") == 0xE3069283."""
    crc = 0xFFFFFFFF
    for b in data:
        crc = _TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


# -------------------------------------------------- compression codecs
# RecordBatch v2 attributes bits 0-2; the compressed region is the
# records array AFTER the count field. gzip runs on the stdlib zlib;
# snappy, lz4 and zstd run on the C codecs pyarrow bundles (libsnappy,
# liblz4, libzstd) — pyarrow is the one codec dependency, already
# required by PySpark's Python data sources and the wire reader's Arrow
# path. One decode and one encode path per codec. Every decode error
# surfaces as ``ValueError("corrupt <codec>: …")``: callers treat
# OSError as a dropped connection, and a corrupt batch must be fatal,
# never retried. ≈ franz-go's codec support consumed by
# ``pkg/providers/kafka/source.go``.

_CODECS = {1: "gzip", 2: "snappy", 3: "lz4", 4: "zstd"}
_CODEC_BITS = {name: bits for bits, name in _CODECS.items()}
_XERIAL_MAGIC = b"\x82SNAPPY\x00"


def _snappy_block(block: bytes) -> bytes:
    """One raw snappy block: its leading varint is the exact
    uncompressed length libsnappy needs."""
    n, _pos = read_varint(block, 0)
    if n > 64 * len(block) + 64:  # snappy's own expansion bound
        raise ValueError(f"declared length {n} exceeds the block's bound")
    return pa.decompress(block, decompressed_size=n, codec="snappy",
                         asbytes=True)


def _snappy_decompress(data: bytes) -> bytes:
    if data[:len(_XERIAL_MAGIC)] != _XERIAL_MAGIC:
        return _snappy_block(data)
    # the Java client's xerial framing: 16-byte header (magic + two
    # int32 versions), then [int32 len][raw snappy block]... to the end
    if len(data) <= 16:
        raise ValueError(f"xerial frame of {len(data)} bytes holds no "
                         "chunk after its 16-byte header")
    out = bytearray()
    pos = 16
    while pos < len(data):
        if pos + 4 > len(data):
            raise ValueError(f"{len(data) - pos} trailing bytes after "
                             "the last xerial chunk")
        (ln,) = struct.unpack_from(">i", data, pos)
        pos += 4
        if ln < 0 or pos + ln > len(data):
            raise ValueError(f"xerial chunk length {ln} out of range "
                             f"({len(data) - pos} bytes left)")
        out += _snappy_block(data[pos:pos + ln])
        pos += ln
    return bytes(out)


def _gzip_decompress(data: bytes) -> bytes:
    """Every member of a gzip payload (producers may concatenate
    members); a truncated member, or trailing bytes that do not start
    one, is corrupt."""
    out = bytearray()
    while data:
        d = zlib.decompressobj(47)  # gzip-or-zlib header
        out += d.decompress(data)
        if not d.eof:
            raise ValueError("truncated member")
        data = d.unused_data
    return bytes(out)


def _stream_decompress(codec: str):
    """lz4 frames and zstd frames, with or without a content size,
    concatenated or not, through pyarrow's streaming decoder."""
    return lambda data: pa.CompressedInputStream(
        pa.BufferReader(data), codec
    ).read()


_DECODERS = {
    "gzip": _gzip_decompress,
    "snappy": _snappy_decompress,
    "lz4": _stream_decompress("lz4"),
    "zstd": _stream_decompress("zstd"),
}


def decompress_records(codec: int, data: bytes) -> bytes:
    name = _CODECS.get(codec)
    if name is None:
        raise ValueError(f"unknown compression codec {codec}")
    try:
        if not data:
            raise ValueError("empty payload")
        return _DECODERS[name](data)
    except (ValueError, OSError, zlib.error) as e:
        raise ValueError(f"corrupt {name}: {e}") from e


def compress_records(codec_name: str, data: bytes) -> tuple[int, bytes]:
    """name → (attributes codec bits, compressed records bytes)."""
    bits = _CODEC_BITS.get(codec_name)
    if bits is None:
        raise ValueError(
            f"unknown compression {codec_name!r} "
            "(gzip/snappy/lz4/zstd)"
        )
    if codec_name == "gzip":
        # mtime=0: byte-deterministic batches (tests round-trip exact)
        return bits, gzip.compress(data, mtime=0)
    return bits, pa.Codec(codec_name).compress(data, asbytes=True)


# -------------------------------------------------------- RecordBatch


def encode_record(
    offset_delta: int,
    timestamp_delta: int,
    key: bytes | None,
    value: bytes | None,
    headers: list[tuple[str, bytes]] = (),
) -> bytes:
    body = bytearray()
    body += b"\x00"  # record attributes (unused)
    body += write_zigzag(timestamp_delta)
    body += write_zigzag(offset_delta)
    for blob in (key, value):
        if blob is None:
            body += write_zigzag(-1)
        else:
            body += write_zigzag(len(blob))
            body += blob
    body += write_zigzag(len(headers))
    for hk, hv in headers:
        hkb = hk.encode("utf-8")
        body += write_zigzag(len(hkb))
        body += hkb
        if hv is None:
            body += write_zigzag(-1)
        else:
            body += write_zigzag(len(hv))
            body += hv
    return bytes(write_zigzag(len(body))) + bytes(body)


def encode_record_batch(
    records: list[tuple[bytes | None, bytes | None]],
    base_offset: int = 0,
    base_timestamp: int = 0,
    headers_per_record: list[list[tuple[str, bytes]]] | None = None,
    compression: str | None = None,
) -> bytes:
    """One RecordBatch v2 holding ``records`` = [(key, value), ...] at
    ``base_timestamp`` (ms). Non-transactional — the shape an
    idempotence-off producer emits; ``compression`` (gzip, snappy, lz4
    or zstd) compresses the records array per the v2 layout."""
    n = len(records)
    recs = b"".join(
        encode_record(
            i,
            0,
            k,
            v,
            (headers_per_record[i] if headers_per_record else []),
        )
        for i, (k, v) in enumerate(records)
    )
    attrs = 0
    if compression:
        attrs, recs = compress_records(compression, recs)
    # attributes..records — the CRC'd region
    tail = (
        struct.pack(">h", attrs)
        + struct.pack(">i", n - 1)  # lastOffsetDelta
        + struct.pack(">q", base_timestamp)
        + struct.pack(">q", base_timestamp)  # maxTimestamp
        + struct.pack(">q", -1)  # producerId
        + struct.pack(">h", -1)  # producerEpoch
        + struct.pack(">i", -1)  # baseSequence
        + struct.pack(">i", n)
        + recs
    )
    head = (
        struct.pack(">i", -1)  # partitionLeaderEpoch
        + b"\x02"  # magic v2
        + struct.pack(">I", crc32c(tail))
    )
    body = head + tail
    return struct.pack(">q", base_offset) + struct.pack(">i", len(body)) + body


def stamp_producer(
    batch: bytes, pid: int, epoch: int, base_sequence: int
) -> bytes:
    """Patch producerId/producerEpoch/baseSequence into an encoded
    RecordBatch v2 and recompute its CRC — the idempotent-produce
    stamp (KIP-98).  A RETRY must resend the SAME stamped bytes so the
    broker dedupes on (pid, sequence)."""
    tail = bytearray(batch[21:])
    struct.pack_into(">q", tail, 22, pid)
    struct.pack_into(">h", tail, 30, epoch)
    struct.pack_into(">i", tail, 32, base_sequence)
    return batch[:17] + struct.pack(">I", crc32c(bytes(tail))) + bytes(tail)


def batch_record_count(batch: bytes) -> int:
    """Record count of an encoded RecordBatch v2 (drives the producer's
    per-partition sequence advance)."""
    return struct.unpack_from(">i", batch, 57)[0]  # 21-byte head + 36


def encode_init_producer_id_request(
    correlation_id: int = 0,
    client_id: str = "transferia-spark",
    transactional_id: str | None = None,
    transaction_timeout_ms: int = 60_000,
) -> bytes:
    """InitProducerId v0 (API 22): allocates the (pid, epoch) an
    idempotent producer stamps into its batches — franz-go enables
    idempotent produce by default, so this is what the reference's
    writer actually sends."""
    body = bytearray()
    body += request_header(22, 0, correlation_id, client_id)
    body += _string(transactional_id)
    body += struct.pack(">i", transaction_timeout_ms)
    return struct.pack(">i", len(body)) + bytes(body)


def decode_init_producer_id_response(body: bytes) -> tuple[int, int]:
    _throttle, err, pid, epoch = struct.unpack_from(">ihqh", body, 0)
    if err:
        raise ValueError(f"InitProducerId error {err}")
    return pid, epoch


def encode_find_coordinator_request(
    group_id: str,
    correlation_id: int = 0,
    client_id: str = "transferia-spark",
) -> bytes:
    """FindCoordinator v0 (API 10): which broker coordinates
    ``group_id`` — the prelude to committing offsets."""
    body = bytearray()
    body += request_header(10, 0, correlation_id, client_id)
    body += _string(group_id)
    return struct.pack(">i", len(body)) + bytes(body)


def decode_find_coordinator_response(body: bytes) -> tuple[int, str, int]:
    """→ (node_id, host, port); the error code raises."""
    (err,) = struct.unpack_from(">h", body, 0)
    if err:
        raise ValueError(f"FindCoordinator error {err}")
    node, pos = struct.unpack_from(">i", body, 2)[0], 6
    host, pos = _read_string(body, pos)
    (port,) = struct.unpack_from(">i", body, pos)
    return node, host or "", port


def encode_offset_fetch_request(
    group_id: str,
    topic: str,
    partitions: list[int],
    correlation_id: int = 0,
    client_id: str = "transferia-spark",
) -> bytes:
    """OffsetFetch v1 (API 9, reads the broker's offset store): the
    resume half of the group mirror — ``starting_offsets: group``
    migrates a consumer off the reference's group-committed positions
    without replay or loss."""
    body = bytearray()
    body += request_header(9, 1, correlation_id, client_id)
    body += _string(group_id)
    body += struct.pack(">i", 1)  # one topic
    body += _string(topic)
    body += struct.pack(">i", len(partitions))
    for part in sorted(partitions):
        body += struct.pack(">i", part)
    return struct.pack(">i", len(body)) + bytes(body)


def decode_offset_fetch_response(body: bytes) -> dict[str, dict[int, int]]:
    """→ ``{topic: {partition: committed offset}}``; -1 = the group
    holds no commit for that partition (the caller picks a fallback);
    a per-partition error raises."""
    (n_topics,) = struct.unpack_from(">i", body, 0)
    pos = 4
    out: dict[str, dict[int, int]] = {}
    for _ in range(n_topics):
        topic, pos = _read_string(body, pos)
        (n_parts,) = struct.unpack_from(">i", body, pos)
        pos += 4
        parts: dict[int, int] = {}
        for _p in range(n_parts):
            part, off = struct.unpack_from(">iq", body, pos)
            pos += 12
            _meta, pos = _read_string(body, pos)
            (err,) = struct.unpack_from(">h", body, pos)
            pos += 2
            if err:
                raise ValueError(
                    f"OffsetFetch error {err} for {topic}[{part}]"
                )
            parts[part] = off
        out[topic or ""] = parts
    return out


def encode_offset_commit_request(
    group_id: str,
    topic: str,
    offsets: dict[int, int],
    correlation_id: int = 0,
    client_id: str = "transferia-spark",
) -> bytes:
    """OffsetCommit v2 as a STANDALONE consumer (generation -1, empty
    member id — the broker accepts commits outside group membership;
    retention -1 = broker default).  The committed positions make
    progress visible to standard Kafka lag tooling; the Spark
    checkpoint remains the source of truth, exactly the reference's
    ack-after-push posture (``kafka/source.go``)."""
    body = bytearray()
    body += request_header(8, 2, correlation_id, client_id)
    body += _string(group_id)
    body += struct.pack(">i", -1)  # generation id: standalone
    body += _string("")  # member id
    body += struct.pack(">q", -1)  # retention time: broker default
    body += struct.pack(">i", 1)  # one topic
    body += _string(topic)
    body += struct.pack(">i", len(offsets))
    for part in sorted(offsets):
        body += struct.pack(">iq", part, offsets[part])
        body += _string(None)  # metadata
    return struct.pack(">i", len(body)) + bytes(body)


def decode_offset_commit_response(body: bytes) -> None:
    """Per-partition error codes raise (the caller decides whether a
    failed ADVISORY commit is fatal — for the Spark reader it is not)."""
    (n_topics,) = struct.unpack_from(">i", body, 0)
    pos = 4
    for _ in range(n_topics):
        topic, pos = _read_string(body, pos)
        (n_parts,) = struct.unpack_from(">i", body, pos)
        pos += 4
        for _p in range(n_parts):
            part, err = struct.unpack_from(">ih", body, pos)
            pos += 6
            if err:
                raise ValueError(
                    f"OffsetCommit error {err} for {topic}[{part}]"
                )


def decode_record_batch(data: bytes) -> dict:
    """Inverse of ``encode_record_batch`` — validates length, magic and
    CRC, returns records with keys/values/headers."""
    base_offset = struct.unpack_from(">q", data, 0)[0]
    batch_len = struct.unpack_from(">i", data, 8)[0]
    if len(data) - 12 != batch_len:
        raise ValueError("batchLength mismatch")
    magic = data[16]
    if magic != 2:
        raise ValueError(f"unsupported magic {magic}")
    crc = struct.unpack_from(">I", data, 17)[0]
    tail = data[21:]
    if crc32c(tail) != crc:
        raise ValueError("CRC mismatch")
    attributes, last_delta = struct.unpack_from(">hi", tail, 0)
    codec = attributes & 0x07
    is_control = bool(attributes & 0x20)
    base_ts, max_ts = struct.unpack_from(">qq", tail, 6)
    producer_id = struct.unpack_from(">q", tail, 22)[0]
    producer_epoch = struct.unpack_from(">h", tail, 30)[0]
    base_sequence = struct.unpack_from(">i", tail, 32)[0]
    count = struct.unpack_from(">i", tail, 36)[0]
    if codec:
        # bits 0-2: compression over the records array (count stays
        # plain); a corrupt payload fails naming its codec — never
        # read_zigzag parsing compressed bytes into a baffling
        # 'record length mismatch' (code-review r10)
        tail = tail[:40] + decompress_records(codec, tail[40:])
    pos = 40
    records = []
    for _ in range(count):
        length, pos = read_zigzag(tail, pos)
        end = pos + length
        pos += 1  # record attributes
        ts_delta, pos = read_zigzag(tail, pos)
        off_delta, pos = read_zigzag(tail, pos)
        out = {}
        for name in ("key", "value"):
            ln, pos = read_zigzag(tail, pos)
            if ln < 0:
                out[name] = None
            else:
                out[name] = tail[pos : pos + ln]
                pos += ln
        hn, pos = read_zigzag(tail, pos)
        headers = []
        for _h in range(hn):
            ln, pos = read_zigzag(tail, pos)
            hk = tail[pos : pos + ln].decode("utf-8")
            pos += ln
            ln, pos = read_zigzag(tail, pos)
            if ln < 0:
                headers.append((hk, None))
            else:
                headers.append((hk, tail[pos : pos + ln]))
                pos += ln
        if pos != end:
            raise ValueError("record length mismatch")
        records.append(
            {
                "offset": base_offset + off_delta,
                "timestamp": base_ts + ts_delta,
                "headers": headers,
                **out,
            }
        )
    return {
        "base_offset": base_offset,
        "attributes": attributes,
        "control": is_control,
        "transactional": bool(attributes & 0x10),
        "producer_id": producer_id,
        "producer_epoch": producer_epoch,
        "base_sequence": base_sequence,
        "last_offset_delta": last_delta,
        "max_timestamp": max_ts,
        "records": records,
    }


# ------------------------------------------------------ request frames


def _string(s: str | None) -> bytes:
    if s is None:
        return struct.pack(">h", -1)
    b = s.encode("utf-8")
    return struct.pack(">h", len(b)) + b


def request_header(
    api_key: int, api_version: int, correlation_id: int, client_id: str | None
) -> bytes:
    return (
        struct.pack(">hhi", api_key, api_version, correlation_id)
        + _string(client_id)
    )


def encode_produce_request(
    topic: str,
    partition_batches: dict[int, bytes],
    acks: int = -1,
    timeout_ms: int = 30_000,
    correlation_id: int = 0,
    client_id: str = "transferia-spark",
) -> bytes:
    """Produce v3 (message-format-v2 capable) with one topic — the
    reference's per-table topic shape. Returns the full length-prefixed
    frame ready for the socket."""
    body = bytearray()
    body += request_header(0, 3, correlation_id, client_id)
    body += _string(None)  # transactional_id
    body += struct.pack(">hi", acks, timeout_ms)
    body += struct.pack(">i", 1)  # one topic
    body += _string(topic)
    body += struct.pack(">i", len(partition_batches))
    for part in sorted(partition_batches):
        batch = partition_batches[part]
        body += struct.pack(">i", part)
        body += struct.pack(">i", len(batch))
        body += batch
    return struct.pack(">i", len(body)) + bytes(body)


def encode_metadata_request(
    topics: list[str], correlation_id: int = 0, client_id: str = "transferia-spark"
) -> bytes:
    body = bytearray()
    body += request_header(3, 1, correlation_id, client_id)
    body += struct.pack(">i", len(topics))
    for t in topics:
        body += _string(t)
    return struct.pack(">i", len(body)) + bytes(body)


# ------------------------------------------- consumer-side request frames
# (the fetch plane of the pure-wire CONSUMER, ≈ kafka/source.go:105 —
# the reference consumes through franz-go emitting exactly these
# layouts; versions are pinned to the lowest message-format-v2-capable,
# non-flexible encodings: Fetch v4, ListOffsets v1, Metadata v1)


def encode_fetch_request(
    topic: str,
    partition_offsets: dict[int, int],
    max_wait_ms: int = 500,
    min_bytes: int = 1,
    max_bytes: int = 8 << 20,
    partition_max_bytes: int = 1 << 20,
    correlation_id: int = 0,
    client_id: str = "transferia-spark",
    isolation_level: int = 0,
) -> bytes:
    """Fetch v4: one topic, ``{partition: fetch_offset}`` — the
    consumer's read request. isolation_level 0 = READ_UNCOMMITTED (the
    reference source's default), 1 = READ_COMMITTED (the broker caps
    data at the last stable offset and lists aborted transactions)."""
    body = bytearray()
    body += request_header(1, 4, correlation_id, client_id)
    body += struct.pack(">iiii", -1, max_wait_ms, min_bytes, max_bytes)
    body += struct.pack(">b", isolation_level)
    body += struct.pack(">i", 1)  # one topic
    body += _string(topic)
    body += struct.pack(">i", len(partition_offsets))
    for part in sorted(partition_offsets):
        body += struct.pack(
            ">iqi", part, partition_offsets[part], partition_max_bytes
        )
    return struct.pack(">i", len(body)) + bytes(body)


def encode_list_offsets_request(
    topic: str,
    partition_timestamps: dict[int, int],
    correlation_id: int = 0,
    client_id: str = "transferia-spark",
) -> bytes:
    """ListOffsets v1: timestamp -1 = log-end (latest), -2 = log-start
    (earliest) — how the consumer resolves ``starting_offsets``."""
    body = bytearray()
    body += request_header(2, 1, correlation_id, client_id)
    body += struct.pack(">i", -1)  # replica_id
    body += struct.pack(">i", 1)  # one topic
    body += _string(topic)
    body += struct.pack(">i", len(partition_timestamps))
    for part in sorted(partition_timestamps):
        body += struct.pack(">iq", part, partition_timestamps[part])
    return struct.pack(">i", len(body)) + bytes(body)


# --------------------------------------------------------- SASL frames
# (SaslHandshake v1 / SaslAuthenticate v0 — the credentialed entry to
# every managed Kafka; ≈ ``pkg/providers/kafka/model_connection.go:8-25``
# in transferia/transferia, which enables SASL SCRAM-SHA-256/512 + TLS
# through franz-go. With handshake v1 the SASL tokens travel inside
# SaslAuthenticate frames, not as raw bytes on the socket.)


def _bytes_field(b: bytes | None) -> bytes:
    if b is None:
        return struct.pack(">i", -1)
    return struct.pack(">i", len(b)) + b


def encode_sasl_handshake_request(
    mechanism: str,
    correlation_id: int = 0,
    client_id: str = "transferia-spark",
) -> bytes:
    body = request_header(17, 1, correlation_id, client_id) + _string(
        mechanism
    )
    return struct.pack(">i", len(body)) + body


def decode_sasl_handshake_response(body: bytes) -> tuple[int, list[str]]:
    """→ ``(error_code, enabled_mechanisms)``; the caller raises with
    the broker's mechanism list so a mismatch names the fix."""
    (err,) = struct.unpack_from(">h", body, 0)
    pos = 2
    (n,) = struct.unpack_from(">i", body, pos)
    pos += 4
    mechs: list[str] = []
    for _ in range(max(0, n)):
        m, pos = _read_string(body, pos)
        mechs.append(m or "")
    return err, mechs


def encode_sasl_authenticate_request(
    auth_bytes: bytes,
    correlation_id: int = 0,
    client_id: str = "transferia-spark",
) -> bytes:
    body = request_header(36, 0, correlation_id, client_id) + _bytes_field(
        auth_bytes
    )
    return struct.pack(">i", len(body)) + body


def decode_sasl_authenticate_response(
    body: bytes,
) -> tuple[int, str | None, bytes]:
    """→ ``(error_code, error_message, auth_bytes)`` — error 58 is
    SASL_AUTHENTICATION_FAILED (wrong credentials)."""
    (err,) = struct.unpack_from(">h", body, 0)
    pos = 2
    msg, pos = _read_string(body, pos)
    (ln,) = struct.unpack_from(">i", body, pos)
    pos += 4
    auth = body[pos:pos + max(0, ln)]
    return err, msg, auth


def plain_sasl_token(username: str, password: str) -> bytes:
    """RFC 4616 PLAIN: NUL authzid NUL authcid NUL passwd (empty
    authzid — Kafka derives the principal from authcid)."""
    return b"\x00" + username.encode("utf-8") + b"\x00" + password.encode(
        "utf-8"
    )


def decode_produce_response(body: bytes) -> dict[str, dict[int, int]]:
    """Produce v3 response → ``{topic: {partition: base_offset}}``; a
    per-partition error code raises (a fire-and-forget producer that
    swallows NOT_LEADER/MESSAGE_TOO_LARGE silently drops data)."""
    pos = 0
    (n_topics,) = struct.unpack_from(">i", body, pos)
    pos += 4
    out: dict[str, dict[int, int]] = {}
    for _ in range(n_topics):
        topic, pos = _read_string(body, pos)
        (n_parts,) = struct.unpack_from(">i", body, pos)
        pos += 4
        parts: dict[int, int] = {}
        for _p in range(n_parts):
            part, err, base, _log_append = struct.unpack_from(
                ">ihqq", body, pos
            )
            pos += 22
            if err:
                raise ValueError(
                    f"produce error {err} for {topic}[{part}]"
                )
            parts[part] = base
        out[topic or ""] = parts
    return out


def _read_string(data: bytes, pos: int) -> tuple[str | None, int]:
    (ln,) = struct.unpack_from(">h", data, pos)
    pos += 2
    if ln < 0:
        return None, pos
    return data[pos:pos + ln].decode("utf-8"), pos + ln


def decode_record_set(data: bytes) -> list[dict]:
    """Concatenated RecordBatch v2 frames (a fetch response's record
    set) → flat record dicts. A TRUNCATED trailing batch is normal
    broker behavior when the partition's max-bytes lands mid-batch —
    dropped silently, exactly like stock clients; the next fetch re-asks
    from the last full offset."""
    return decode_record_set_with_end(data)[0]


def decode_record_set_with_end(
    data: bytes,
    aborted: list[tuple[int, int]] | None = None,
) -> tuple[list[dict], int | None]:
    """:func:`decode_record_set` plus the position AFTER the last full
    batch (``base_offset + last_offset_delta + 1``), or None when no
    full batch decoded. Consumers need it to advance past COMPACTED
    batches whose retained records all sit below the requested offset
    and past control batches — a records-only view would re-fetch the
    same batch forever (code-review r10 pass 2).

    ``aborted`` is the fetch response's aborted-transactions list
    ``[(producer_id, first_offset), …]`` under READ_COMMITTED: a
    transactional batch whose producer has an open aborted range is
    dropped, and the producer leaves the aborted set at its ABORT
    marker — the Java consumer's CompletedFetch walk (KIP-98)."""
    pending: dict[int, list[int]] = {}
    for pid, first in aborted or []:
        pending.setdefault(pid, []).append(first)
    for firsts in pending.values():
        firsts.sort()
    aborted_now: set[int] = set()
    out: list[dict] = []
    next_off: int | None = None
    pos = 0
    while pos + 12 <= len(data):
        (batch_len,) = struct.unpack_from(">i", data, pos + 8)
        end = pos + 12 + batch_len
        if end > len(data):
            break  # truncated trailing batch
        batch = decode_record_batch(data[pos:end])
        last = batch["base_offset"] + batch["last_offset_delta"]
        next_off = last + 1
        pid = batch["producer_id"]
        firsts = pending.get(pid)
        while firsts and firsts[0] <= last:
            aborted_now.add(pid)
            firsts.pop(0)
        if batch["control"]:
            # transaction commit/abort markers (attributes bit 0x20)
            # are protocol metadata, not data rows — a transactional
            # producer's marker must not surface in the mirror stream
            # (code-review r10); the offsets they occupy simply skip.
            # The marker KEY is int16 version + int16 type (0 = abort):
            # an abort marker closes its producer's aborted range.
            recs = batch["records"]
            if recs and recs[0]["key"] and len(recs[0]["key"]) >= 4:
                if struct.unpack_from(">h", recs[0]["key"], 2)[0] == 0:
                    aborted_now.discard(pid)
        elif batch["transactional"] and pid in aborted_now:
            pass  # READ_COMMITTED: aborted data never surfaces
        else:
            out.extend(batch["records"])
        pos = end
    return out, next_off


def decode_fetch_response(
    body: bytes, isolation_level: int = 0
) -> dict[str, dict[int, dict]]:
    """Fetch v4 response → ``{topic: {partition: {error,
    high_watermark, records}}}``. ``body`` excludes the length prefix
    and correlation id (the transport strips both).  Under
    READ_COMMITTED (isolation_level 1) the per-partition
    aborted-transactions list filters transactional batches out of
    ``records``."""
    pos = 4  # throttle_time_ms
    (n_topics,) = struct.unpack_from(">i", body, pos)
    pos += 4
    out: dict[str, dict[int, dict]] = {}
    for _ in range(n_topics):
        topic, pos = _read_string(body, pos)
        (n_parts,) = struct.unpack_from(">i", body, pos)
        pos += 4
        parts: dict[int, dict] = {}
        for _p in range(n_parts):
            part, err, hw, lso = struct.unpack_from(">ihqq", body, pos)
            pos += 22
            (n_aborted,) = struct.unpack_from(">i", body, pos)
            pos += 4
            aborted: list[tuple[int, int]] = []
            for _a in range(max(0, n_aborted)):
                aborted.append(struct.unpack_from(">qq", body, pos))
                pos += 16
            (set_len,) = struct.unpack_from(">i", body, pos)
            pos += 4
            raw = body[pos:pos + max(0, set_len)]
            pos += max(0, set_len)
            records, next_off = decode_record_set_with_end(
                raw, aborted if isolation_level == 1 else None
            )
            parts[part] = {
                "error": err,
                "high_watermark": hw,
                "last_stable_offset": lso,
                "aborted": aborted,
                "records": records,
                "next_offset": next_off,
            }
        out[topic or ""] = parts
    return out


def decode_list_offsets_response(body: bytes) -> dict[str, dict[int, int]]:
    """ListOffsets v1 response → ``{topic: {partition: offset}}``;
    a per-partition error code raises (an unknown topic must be loud,
    not an empty stream)."""
    pos = 0
    (n_topics,) = struct.unpack_from(">i", body, pos)
    pos += 4
    out: dict[str, dict[int, int]] = {}
    for _ in range(n_topics):
        topic, pos = _read_string(body, pos)
        (n_parts,) = struct.unpack_from(">i", body, pos)
        pos += 4
        parts: dict[int, int] = {}
        for _p in range(n_parts):
            part, err, _ts, off = struct.unpack_from(">ihqq", body, pos)
            pos += 22
            if err:
                raise ValueError(
                    f"ListOffsets error {err} for {topic}[{part}]"
                )
            parts[part] = off
        out[topic or ""] = parts
    return out


def decode_metadata_response(body: bytes) -> dict:
    """Metadata v1 response → ``{"brokers": {node_id: (host, port)},
    "topics": {name: {"partitions": {id: leader_node}}}}`` (errors per
    topic/partition raise — a misspelled topic is loud)."""
    pos = 0
    (n_brokers,) = struct.unpack_from(">i", body, pos)
    pos += 4
    brokers: dict[int, tuple[str, int]] = {}
    for _ in range(n_brokers):
        (node,) = struct.unpack_from(">i", body, pos)
        pos += 4
        host, pos = _read_string(body, pos)
        (port,) = struct.unpack_from(">i", body, pos)
        pos += 4
        _rack, pos = _read_string(body, pos)
        brokers[node] = (host or "", port)
    pos += 4  # controller_id
    (n_topics,) = struct.unpack_from(">i", body, pos)
    pos += 4
    topics: dict[str, dict] = {}
    for _ in range(n_topics):
        (terr,) = struct.unpack_from(">h", body, pos)
        pos += 2
        name, pos = _read_string(body, pos)
        pos += 1  # is_internal
        if terr:
            raise ValueError(f"metadata error {terr} for topic {name!r}")
        (n_parts,) = struct.unpack_from(">i", body, pos)
        pos += 4
        parts: dict[int, int] = {}
        for _p in range(n_parts):
            perr, part, leader = struct.unpack_from(">hii", body, pos)
            pos += 10
            if perr:
                raise ValueError(
                    f"metadata error {perr} for {name}[{part}]"
                )
            for _arr in range(2):  # replicas, isr
                (n,) = struct.unpack_from(">i", body, pos)
                pos += 4 + 4 * n
            parts[part] = leader
        topics[name or ""] = {"partitions": parts}
    return {"brokers": brokers, "topics": topics}


__all__ = [
    "crc32c",
    "decompress_records",
    "compress_records",
    "encode_record",
    "encode_record_batch",
    "decode_record_batch",
    "decode_record_set",
    "decode_record_set_with_end",
    "encode_produce_request",
    "decode_produce_response",
    "encode_metadata_request",
    "encode_sasl_handshake_request",
    "decode_sasl_handshake_response",
    "encode_sasl_authenticate_request",
    "decode_sasl_authenticate_response",
    "plain_sasl_token",
    "encode_fetch_request",
    "encode_list_offsets_request",
    "decode_fetch_response",
    "decode_list_offsets_response",
    "decode_metadata_response",
    "request_header",
]


def murmur2(data: bytes) -> int:
    """Kafka's default-partitioner hash (the Java client's murmur2,
    seed 0x9747b28c) — key → partition parity with stock producers:
    ``partition = (murmur2(key) & 0x7fffffff) % num_partitions``."""
    length = len(data)
    seed = 0x9747B28C
    m = 0x5BD1E995
    h = (seed ^ length) & 0xFFFFFFFF
    i = 0
    while length - i >= 4:
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * m) & 0xFFFFFFFF
        k ^= k >> 24
        k = (k * m) & 0xFFFFFFFF
        h = (h * m) & 0xFFFFFFFF
        h ^= k
        i += 4
    rest = length - i
    if rest >= 3:
        h ^= data[i + 2] << 16
    if rest >= 2:
        h ^= data[i + 1] << 8
    if rest >= 1:
        h ^= data[i]
        h = (h * m) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * m) & 0xFFFFFFFF
    h ^= h >> 15
    return h


def partition_for(key: bytes | None, num_partitions: int, fallback: int = 0) -> int:
    if key is None:
        return fallback % num_partitions
    return (murmur2(key) & 0x7FFFFFFF) % num_partitions
