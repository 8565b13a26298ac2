"""MySQL binlog wire protocol (pure Python).

≈ ``pkg/providers/mysql/canal.go`` + ``source.go:35`` (binlog
subscription → row events) and ``utils.go:204`` (position algebra) in
transferia/transferia, built against the PUBLIC binlog event format
(MySQL "Binary Log Events" / "Replication Protocol" docs):

- every event is a 19-byte v4 header (timestamp u32, type u8,
  server_id u32, event_size u32, log_pos u32, flags u16 — all LE)
  followed by a type-specific body, optionally CRC32-checksummed
  (FORMAT_DESCRIPTION announces the algorithm);
- ROTATE names the next binlog file (the file half of the LSN
  algebra), TABLE_MAP declares (table_id → schema/table/column types,
  with 8.0 optional metadata carrying column names), WRITE/UPDATE/
  DELETE_ROWS v2 carry the row images, QUERY carries statements
  (TRUNCATE/DDL → control events), GTID tags the transaction;
- row images: columns-present bitmap, then per row a NULL bitmap and
  the present non-NULL values in column order, with per-type binary
  layouts (LE signed ints, float/double, length-prefixed strings and
  blobs).

Transport is INJECTABLE (the pattern proven by
``streaming/pg_replication.py`` / ``sinks/kafka_wire.py``): codecs are
pure functions over event byte strings; :class:`BinlogTailer` drains
any iterator of events (a live socket's COM_BINLOG_DUMP stream or
recorded vectors) into the binlog-JSON directory
``cdc_sources.BinlogJsonStreamReader`` tails — so the DataSource
stream, offsets, collapse and merge paths are IDENTICAL with a live
socket or a recorded capture. Session establishment (HandshakeV10,
auth scrambles, optional mid-handshake TLS upgrade,
COM_BINLOG_DUMP_GTID) lives in :class:`MySqlWireSession` below.
"""

from __future__ import annotations

import json
import os
import struct
import zlib
from dataclasses import dataclass, field
from typing import Callable

from transferia_spark import durable
from transferia_spark.streaming.wal_source import (
    drain_new_captures,
    event_file,
    next_file_no,
    read_state,
)

# -- event type codes (public binlog_event.h values) --------------------
QUERY_EVENT = 0x02
ROTATE_EVENT = 0x04
FORMAT_DESCRIPTION_EVENT = 0x0F
XID_EVENT = 0x10
TABLE_MAP_EVENT = 0x13
WRITE_ROWS_EVENT_V2 = 0x1E
UPDATE_ROWS_EVENT_V2 = 0x1F
DELETE_ROWS_EVENT_V2 = 0x20
GTID_EVENT = 0x21

HEADER_LEN = 19

# -- column type codes (public enum_field_types subset) -----------------
TYPE_TINY = 1
TYPE_SHORT = 2
TYPE_LONG = 3
TYPE_FLOAT = 4
TYPE_DOUBLE = 5
TYPE_NULL = 6
TYPE_LONGLONG = 8
TYPE_INT24 = 9
TYPE_VARCHAR = 15
TYPE_BLOB = 252

#: optional TABLE_MAP metadata TLV types (8.0 binlog_row_metadata=FULL)
META_SIGNEDNESS = 1
META_COLUMN_NAME = 4

_INT_SIZES = {TYPE_TINY: 1, TYPE_SHORT: 2, TYPE_INT24: 3, TYPE_LONG: 4,
              TYPE_LONGLONG: 8}


# ------------------------------------------------------------ lenenc

def encode_lenenc(n: int) -> bytes:
    if n < 0xFB:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 1 << 24:
        return b"\xfd" + struct.pack("<I", n)[:3]
    return b"\xfe" + struct.pack("<Q", n)


def decode_lenenc(buf: bytes, pos: int) -> tuple[int, int]:
    b = buf[pos]
    if b < 0xFB:
        return b, pos + 1
    if b == 0xFC:
        return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    if b == 0xFD:
        return int.from_bytes(buf[pos + 1:pos + 4], "little"), pos + 4
    if b == 0xFE:
        return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9
    raise ValueError(f"bad length-encoded integer prefix {b:#x}")


# ----------------------------------------------------------- offsets

def parse_gtid_set(text: str) -> dict[str, list[list[int]]]:
    """``uuid:1-5:7,uuid2:3`` → {uuid: [[1,5],[7,7]]} (the executed-set
    algebra the reference keeps per server, ``mysql/utils.go``)."""
    out: dict[str, list[list[int]]] = {}
    for part in filter(None, (p.strip() for p in text.split(","))):
        sid, _, ivs = part.partition(":")
        if not ivs:
            raise ValueError(f"not a GTID set entry: {part!r}")
        ranges = []
        for iv in ivs.split(":"):
            lo, _, hi = iv.partition("-")
            ranges.append([int(lo), int(hi) if hi else int(lo)])
        out[sid] = _merge_intervals(out.get(sid, []) + ranges)
    return out


def _merge_intervals(ivs: list[list[int]]) -> list[list[int]]:
    out: list[list[int]] = []
    for lo, hi in sorted(ivs):
        if out and lo <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


def gtid_set_add(gset: dict[str, list[list[int]]], sid: str, gno: int) -> None:
    gset[sid] = _merge_intervals(gset.get(sid, []) + [[gno, gno]])


def format_gtid_set(gset: dict[str, list[list[int]]]) -> str:
    parts = []
    for sid in sorted(gset):
        ivs = ":".join(
            f"{lo}-{hi}" if hi > lo else f"{lo}" for lo, hi in gset[sid]
        )
        parts.append(f"{sid}:{ivs}")
    return ",".join(parts)


def gtid_set_contains(gset: dict, sid: str, gno: int) -> bool:
    return any(lo <= gno <= hi for lo, hi in gset.get(sid, []))


# ------------------------------------------------------------ frames

@dataclass
class EventHeader:
    timestamp: int
    type_code: int
    server_id: int
    event_size: int
    log_pos: int
    flags: int


def encode_header(
    type_code: int, body_len: int, log_pos: int,
    timestamp: int = 0, server_id: int = 1, flags: int = 0,
) -> bytes:
    return struct.pack(
        "<IBIIIH", timestamp, type_code, server_id,
        HEADER_LEN + body_len, log_pos, flags,
    )


def decode_header(ev: bytes) -> EventHeader:
    if len(ev) < HEADER_LEN:
        raise ValueError(f"binlog event shorter than its header: {len(ev)}B")
    ts, tc, sid, size, pos, flags = struct.unpack_from("<IBIIIH", ev, 0)
    if size != len(ev):
        raise ValueError(
            f"event_size {size} does not match frame length {len(ev)}"
        )
    return EventHeader(ts, tc, sid, size, pos, flags)


def finish_event(header_and_body: bytes, checksum: bool) -> bytes:
    """Append the CRC32 trailer the server appends when
    binlog_checksum=CRC32 (the encoder half of the codec; the tailer
    verifies and strips it)."""
    if not checksum:
        return header_and_body
    return header_and_body + struct.pack(
        "<I", zlib.crc32(header_and_body) & 0xFFFFFFFF
    )


def encode_format_description(checksum: bool = True) -> bytes:
    """Minimal v4 FORMAT_DESCRIPTION: binlog version 4, server version,
    create ts, header length, post-header length table (zeros suffice
    for the types this client consumes), checksum algorithm byte."""
    body = struct.pack("<H", 4)
    body += b"8.0.0-public".ljust(50, b"\x00")
    body += struct.pack("<I", 0)
    body += bytes([HEADER_LEN])
    body += bytes(39)  # post-header lengths, unused by this decoder
    body += bytes([1 if checksum else 0])  # checksum algorithm
    ev = encode_header(FORMAT_DESCRIPTION_EVENT, len(body) + (4 if checksum else 0), 0)
    return finish_event(ev + body, checksum)


def encode_rotate(next_file: str, next_pos: int = 4, checksum: bool = True) -> bytes:
    body = struct.pack("<Q", next_pos) + next_file.encode()
    ev = encode_header(ROTATE_EVENT, len(body) + (4 if checksum else 0), 0)
    return finish_event(ev + body, checksum)


def encode_gtid(sid_hex: str, gno: int, log_pos: int, checksum: bool = True) -> bytes:
    body = b"\x01" + bytes.fromhex(sid_hex.replace("-", "")) + struct.pack("<Q", gno)
    ev = encode_header(GTID_EVENT, len(body) + (4 if checksum else 0), log_pos)
    return finish_event(ev + body, checksum)


def encode_query(
    query: str, schema: str = "", log_pos: int = 0, checksum: bool = True
) -> bytes:
    sb = schema.encode()
    body = struct.pack("<IIBHH", 0, 0, len(sb), 0, 0) + sb + b"\x00" + query.encode()
    ev = encode_header(QUERY_EVENT, len(body) + (4 if checksum else 0), log_pos)
    return finish_event(ev + body, checksum)


def encode_xid(xid: int = 1, log_pos: int = 0, checksum: bool = True) -> bytes:
    """XID_EVENT — the transaction-commit marker that advances the
    executed GTID set."""
    body = struct.pack("<Q", xid)
    ev = encode_header(XID_EVENT, len(body) + (4 if checksum else 0), log_pos)
    return finish_event(ev + body, checksum)


def encode_table_map(
    table_id: int,
    schema: str,
    table: str,
    col_types: list[int],
    col_metas: list[int | None],
    col_names: list[str] | None = None,
    unsigned: list[bool] | None = None,
    log_pos: int = 0,
    checksum: bool = True,
) -> bytes:
    body = struct.pack("<Q", table_id)[:6] + struct.pack("<H", 0)
    sb, tb = schema.encode(), table.encode()
    body += bytes([len(sb)]) + sb + b"\x00"
    body += bytes([len(tb)]) + tb + b"\x00"
    body += encode_lenenc(len(col_types)) + bytes(col_types)
    meta = b""
    for t, m in zip(col_types, col_metas):
        if t == TYPE_VARCHAR:
            meta += struct.pack("<H", m)
        elif t in (TYPE_FLOAT, TYPE_DOUBLE, TYPE_BLOB):
            meta += bytes([m])
    body += encode_lenenc(len(meta)) + meta
    nullable = bytes((len(col_types) + 7) // 8)  # all non-nullable: unused here
    body += nullable
    # optional metadata TLVs (binlog_row_metadata=FULL): signedness of
    # numeric columns, then column names
    if unsigned is not None:
        numeric = [i for i, t in enumerate(col_types) if t in _INT_SIZES]
        bits = bytearray((len(numeric) + 7) // 8)
        for j, i in enumerate(numeric):
            if unsigned[i]:
                bits[j // 8] |= 0x80 >> (j % 8)
        body += bytes([META_SIGNEDNESS]) + encode_lenenc(len(bits)) + bytes(bits)
    if col_names is not None:
        blob = b"".join(
            encode_lenenc(len(n.encode())) + n.encode() for n in col_names
        )
        body += bytes([META_COLUMN_NAME]) + encode_lenenc(len(blob)) + blob
    ev = encode_header(TABLE_MAP_EVENT, len(body) + (4 if checksum else 0), log_pos)
    return finish_event(ev + body, checksum)


def _encode_value(v, t: int, m: int | None) -> bytes:
    if t in _INT_SIZES:
        return int(v).to_bytes(_INT_SIZES[t], "little", signed=True)
    if t == TYPE_FLOAT:
        return struct.pack("<f", v)
    if t == TYPE_DOUBLE:
        return struct.pack("<d", v)
    if t == TYPE_VARCHAR:
        b = v.encode()
        pre = struct.pack("<H", len(b)) if (m or 0) > 255 else bytes([len(b)])
        return pre + b
    if t == TYPE_BLOB:
        b = bytes(v)
        return len(b).to_bytes(m or 1, "little") + b
    raise ValueError(f"unsupported column type {t}")


def _encode_row_image(values: list, col_types: list[int],
                      col_metas: list[int | None]) -> bytes:
    n = len(col_types)
    nullmap = bytearray((n + 7) // 8)
    out = b""
    for i, v in enumerate(values):
        if v is None:
            nullmap[i // 8] |= 1 << (i % 8)
        else:
            out += _encode_value(v, col_types[i], col_metas[i])
    return bytes(nullmap) + out


def encode_rows_event(
    type_code: int,
    table_id: int,
    col_types: list[int],
    col_metas: list[int | None],
    rows: list,
    log_pos: int = 0,
    checksum: bool = True,
) -> bytes:
    """``rows``: list of value-lists (write/delete) or (before, after)
    pairs (update)."""
    n = len(col_types)
    body = struct.pack("<Q", table_id)[:6] + struct.pack("<H", 0)
    body += struct.pack("<H", 2)  # v2 extra-data length (just itself)
    body += encode_lenenc(n)
    present = bytes([0xFF] * ((n + 7) // 8))
    body += present
    if type_code == UPDATE_ROWS_EVENT_V2:
        body += present  # after-image columns bitmap
        for before, after in rows:
            body += _encode_row_image(before, col_types, col_metas)
            body += _encode_row_image(after, col_types, col_metas)
    else:
        for vals in rows:
            body += _encode_row_image(vals, col_types, col_metas)
    ev = encode_header(type_code, len(body) + (4 if checksum else 0), log_pos)
    return finish_event(ev + body, checksum)


# ------------------------------------------------------------- decode

@dataclass
class TableMap:
    schema: str
    table: str
    col_types: list[int]
    col_metas: list[int | None]
    col_names: list[str] | None = None
    unsigned: list[bool] | None = None


def decode_table_map(body: bytes) -> tuple[int, TableMap]:
    table_id = int.from_bytes(body[0:6], "little")
    pos = 8  # table_id(6) + flags(2)
    slen = body[pos]
    schema = body[pos + 1:pos + 1 + slen].decode()
    pos += 1 + slen + 1
    tlen = body[pos]
    table = body[pos + 1:pos + 1 + tlen].decode()
    pos += 1 + tlen + 1
    ncols, pos = decode_lenenc(body, pos)
    col_types = list(body[pos:pos + ncols])
    pos += ncols
    mlen, pos = decode_lenenc(body, pos)
    meta_blob = body[pos:pos + mlen]
    pos += mlen
    col_metas: list[int | None] = []
    mp = 0
    for t in col_types:
        if t == TYPE_VARCHAR:
            col_metas.append(struct.unpack_from("<H", meta_blob, mp)[0])
            mp += 2
        elif t in (TYPE_FLOAT, TYPE_DOUBLE, TYPE_BLOB):
            col_metas.append(meta_blob[mp])
            mp += 1
        else:
            col_metas.append(None)
    pos += (ncols + 7) // 8  # nullability bitmap (unused)
    names: list[str] | None = None
    unsigned: list[bool] | None = None
    while pos < len(body):
        tlv_type = body[pos]
        tlv_len, p2 = decode_lenenc(body, pos + 1)
        val = body[p2:p2 + tlv_len]
        pos = p2 + tlv_len
        if tlv_type == META_COLUMN_NAME:
            names, vp = [], 0
            while vp < len(val):
                ln, vp = decode_lenenc(val, vp)
                names.append(val[vp:vp + ln].decode())
                vp += ln
        elif tlv_type == META_SIGNEDNESS:
            numeric = [i for i, t in enumerate(col_types) if t in _INT_SIZES]
            unsigned = [False] * ncols
            for j, i in enumerate(numeric):
                if j // 8 < len(val) and val[j // 8] & (0x80 >> (j % 8)):
                    unsigned[i] = True
    return table_id, TableMap(schema, table, col_types, col_metas, names, unsigned)


def _decode_value(body: bytes, pos: int, t: int, m: int | None,
                  signed: bool = True) -> tuple[object, int]:
    if t in _INT_SIZES:
        w = _INT_SIZES[t]
        return int.from_bytes(body[pos:pos + w], "little", signed=signed), pos + w
    if t == TYPE_FLOAT:
        return struct.unpack_from("<f", body, pos)[0], pos + 4
    if t == TYPE_DOUBLE:
        return struct.unpack_from("<d", body, pos)[0], pos + 8
    if t == TYPE_VARCHAR:
        if (m or 0) > 255:
            ln = struct.unpack_from("<H", body, pos)[0]
            pos += 2
        else:
            ln = body[pos]
            pos += 1
        return body[pos:pos + ln].decode(), pos + ln
    if t == TYPE_BLOB:
        nb = m or 1
        ln = int.from_bytes(body[pos:pos + nb], "little")
        pos += nb
        return body[pos:pos + ln], pos + ln
    raise ValueError(f"unsupported column type {t}")


def _decode_row_image(body: bytes, pos: int, tm: TableMap,
                      present: list[int]) -> tuple[dict, int]:
    nullmap_len = (len(present) + 7) // 8
    nullmap = body[pos:pos + nullmap_len]
    pos += nullmap_len
    row: dict = {}
    for j, i in enumerate(present):
        name = (tm.col_names or [f"col_{k}" for k in range(len(tm.col_types))])[i]
        if nullmap[j // 8] & (1 << (j % 8)):
            row[name] = None
            continue
        signed = not (tm.unsigned[i] if tm.unsigned else False)
        v, pos = _decode_value(
            body, pos, tm.col_types[i], tm.col_metas[i], signed
        )
        row[name] = v
    return row, pos


def decode_rows_event(type_code: int, body: bytes, tm: TableMap) -> list[dict]:
    """→ list of {before?, after?} row dicts (column name → value)."""
    pos = 8  # table_id(6) + flags(2)
    extra_len = struct.unpack_from("<H", body, pos)[0]
    pos += extra_len  # includes its own 2 bytes (v2 contract)
    ncols, pos = decode_lenenc(body, pos)
    bm_len = (ncols + 7) // 8
    bm1 = body[pos:pos + bm_len]
    pos += bm_len
    present1 = [i for i in range(ncols) if bm1[i // 8] & (1 << (i % 8))]
    if type_code == UPDATE_ROWS_EVENT_V2:
        bm2 = body[pos:pos + bm_len]
        pos += bm_len
        present2 = [i for i in range(ncols) if bm2[i // 8] & (1 << (i % 8))]
    rows = []
    while pos < len(body):
        if type_code == UPDATE_ROWS_EVENT_V2:
            before, pos = _decode_row_image(body, pos, tm, present1)
            after, pos = _decode_row_image(body, pos, tm, present2)
            rows.append({"before": before, "after": after})
        elif type_code == WRITE_ROWS_EVENT_V2:
            after, pos = _decode_row_image(body, pos, tm, present1)
            rows.append({"after": after})
        else:
            before, pos = _decode_row_image(body, pos, tm, present1)
            rows.append({"before": before})
    return rows


def decode_query(body: bytes) -> tuple[str, str]:
    """→ (schema, query text)."""
    _tid, _exec, slen, _err, svlen = struct.unpack_from("<IIBHH", body, 0)
    pos = 13 + svlen
    schema = body[pos:pos + slen].decode()
    pos += slen + 1
    return schema, body[pos:].decode()


def decode_gtid(body: bytes) -> tuple[str, int]:
    sid = body[1:17].hex()
    sid = f"{sid[0:8]}-{sid[8:12]}-{sid[12:16]}-{sid[16:20]}-{sid[20:32]}"
    gno = struct.unpack_from("<Q", body, 17)[0]
    return sid, gno


# ---------------------------------------------------- packet framing

OK_HEADER = 0x00
ERR_HEADER = 0xFF
EOF_HEADER = 0xFE


class MySqlServerError(RuntimeError):
    """An ERR packet from the server (code + SQLSTATE + message — the
    public generic-response format)."""

    def __init__(self, code: int, sqlstate: str, message: str):
        self.code = code
        self.sqlstate = sqlstate
        super().__init__(f"ERROR {code} ({sqlstate}): {message}")


def decode_err_packet(payload: bytes) -> MySqlServerError:
    """``0xFF + code u16 LE + '#' + 5-char SQLSTATE + message``."""
    code = struct.unpack_from("<H", payload, 1)[0]
    pos = 3
    sqlstate = "HY000"
    if pos < len(payload) and payload[pos:pos + 1] == b"#":
        sqlstate = payload[pos + 1:pos + 6].decode(errors="replace")
        pos += 6
    return MySqlServerError(code, sqlstate, payload[pos:].decode(errors="replace"))


def encode_packet(payload: bytes, seq: int) -> bytes:
    """One wire packet: 3-byte LE length + sequence byte + payload
    (test-vector builder and recorded-capture format; >16 MB payloads
    would split — binlog events this client consumes never do)."""
    return len(payload).to_bytes(3, "little") + bytes([seq & 0xFF]) + payload


def packet_stream(
    read: Callable[[int], bytes],
    poll: Callable[[float], bool] | None = None,
    idle_timeout: float = 0.5,
):
    """Parse the COM_BINLOG_DUMP response packet stream into raw binlog
    EVENT byte strings — the glue between a socket and
    :class:`BinlogTailer` (``BinlogTailer(packet_stream(
    sock.recv_exact), out_dir).run()``).

    Each network packet is 3-byte LE length + sequence + payload; a
    binlog-stream packet's payload is an 0x00 OK byte followed by one
    event. ERR packets raise :class:`MySqlServerError`; an EOF packet
    (0xFE with short payload) or socket EOF ends the stream. Sequence
    numbers are checked modulo 256 — a gap means a desynced stream and
    must be loud, not silently decoded garbage.

    A live server never ends the dump stream — the same bounded-drain
    exits as the PG side (pg_replication.message_stream): ``poll``
    (from ``dial``) ends the parse when the socket stays idle past
    ``idle_timeout``, and a ``TimeoutError`` on the packet BOUNDARY is
    a clean end-of-catch-up (mid-packet timeouts still raise).
    """
    expect_seq: int | None = None
    while True:
        if poll is not None and not poll(idle_timeout):
            return  # caught up: nothing buffered within the idle window
        try:
            head = read(4)
        except TimeoutError:
            return  # idle server between packets: clean end-of-catch-up
        if not head:
            return
        if len(head) < 4:
            # desync must be loud: a 1-3 byte header is a truncated
            # stream, not a clean EOF (only a zero-byte read is)
            raise ValueError(
                f"truncated binlog packet header: got {len(head)} of 4 bytes"
            )
        ln = int.from_bytes(head[:3], "little")
        seq = head[3]
        if expect_seq is not None and seq != expect_seq:
            raise ValueError(
                f"binlog packet sequence gap: expected {expect_seq}, got {seq}"
            )
        expect_seq = (seq + 1) & 0xFF
        payload = read(ln) if ln else b""
        if ln and len(payload) < ln:
            raise ValueError(
                f"truncated binlog packet: header promised {ln} bytes, "
                f"got {len(payload)}"
            )
        if not payload:
            return
        marker = payload[0]
        if marker == ERR_HEADER:
            raise decode_err_packet(payload)
        if marker == EOF_HEADER and ln < 9:
            return
        if marker != OK_HEADER:
            raise ValueError(
                f"unexpected binlog packet marker {marker:#04x}"
            )
        yield payload[1:]


# ------------------------------------------------------------- tailer

_DDL_PREFIXES = ("ALTER ", "CREATE ", "DROP ", "RENAME ")


@dataclass
class BinlogTailer:
    """Drain a binlog event stream into the binlog-JSON directory that
    ``BinlogJsonStreamReader`` tails (one line per row image:
    ``{action, log_file, log_pos, row_idx, schema, table, before?,
    after?}`` — the canal-style shape the envelope adapter documents).

    State mirrors a real replica client: current log file (from
    ROTATE), checksum algorithm (from FORMAT_DESCRIPTION), the
    table-id → TableMap registry, and the executed GTID set. Column
    names come from 8.0 optional TABLE_MAP metadata when present, else
    from ``column_names`` ({"schema.table": [names]}) — the reference
    resolves them from the live schema the same way (``canal.go``).
    """

    recv: object  # iterable of raw event byte strings
    out_dir: str
    column_names: dict[str, list[str]] | None = None
    lines_per_file: int = 1000
    log_file: str = ""
    checksum: bool = False
    gtid_executed: dict = field(default_factory=dict)
    _tables: dict = field(default_factory=dict)
    _buf: list[str] = field(default_factory=list)
    #: numbering continues past the directory's event files
    _file_no: int = field(init=False, default=0)
    #: transaction announced by the last GTID_EVENT, not yet committed
    #: (XID / QUERY COMMIT / next GTID). Deliberately NOT folded into
    #: gtid_executed at close(): an un-terminated transaction may have
    #: undelivered row events, and the resume contract re-fetches it
    #: (at-least-once; the idempotent merge absorbs the replay).
    _pending_gtid: tuple[str, int] | None = None

    def _commit_pending_gtid(self) -> None:
        if self._pending_gtid is not None:
            sid, gno = self._pending_gtid
            gtid_set_add(self.gtid_executed, sid, gno)
            self._pending_gtid = None

    def __post_init__(self):
        os.makedirs(self.out_dir, exist_ok=True)
        self._file_no = next_file_no(self.out_dir)

    def _strip(self, ev: bytes) -> bytes:
        """Verify + strip the CRC32 trailer once FORMAT_DESCRIPTION
        announced it (a corrupt event must fail loudly, not decode)."""
        if not self.checksum:
            return ev
        payload, trailer = ev[:-4], ev[-4:]
        want = struct.unpack("<I", trailer)[0]
        got = zlib.crc32(payload) & 0xFFFFFFFF
        if want != got:
            raise ValueError(
                f"binlog CRC mismatch: header says {want:#x}, computed {got:#x}"
            )
        return payload

    def _emit(self, doc: dict) -> None:
        self._buf.append(json.dumps(doc))
        if len(self._buf) >= self.lines_per_file:
            self._flush()

    def _flush(self) -> None:
        if not self._buf:
            return
        with event_file(self.out_dir, f"{self._file_no:09d}.jsonl") as out:
            out.write("\n".join(self._buf) + "\n")
        self._file_no += 1
        self._buf.clear()

    def _names_for(self, tm: TableMap) -> TableMap:
        if tm.col_names is None and self.column_names:
            key = f"{tm.schema}.{tm.table}" if tm.schema else tm.table
            names = self.column_names.get(key) or self.column_names.get(tm.table)
            if names:
                tm.col_names = list(names)
        return tm

    def handle(self, ev: bytes) -> int:
        """Process one raw event; returns the number of JSON lines
        emitted for it."""
        hdr = decode_header(ev)
        # FORMAT_DESCRIPTION's own checksum presence is declared by its
        # final body byte — peek before stripping
        if hdr.type_code == FORMAT_DESCRIPTION_EVENT:
            # the alg byte's offset from the FRONT depends on the
            # server's post-header-length table size, so locate it from
            # the END — but ev[-5] alone is ambiguous (with checksum off
            # that byte is part of the table). Disambiguate by
            # VALIDATING: CRC32 is on iff ev[-5] says so AND the
            # trailer actually checks out against the rest of the event.
            trailer_ok = (
                len(ev) > HEADER_LEN + 5
                and ev[-5] == 1
                and struct.unpack("<I", ev[-4:])[0]
                == (zlib.crc32(ev[:-4]) & 0xFFFFFFFF)
            )
            self.checksum = trailer_ok
            return 0
        body = self._strip(ev)[HEADER_LEN:]
        tc = hdr.type_code
        if tc == ROTATE_EVENT:
            self.log_file = body[8:].decode()
            return 0
        if tc == GTID_EVENT:
            # the executed set must advance at COMMIT (XID / QUERY
            # COMMIT), never here: a reconnecting client presents the
            # set to COM_BINLOG_DUMP_GTID and the server resumes AFTER
            # every listed transaction — recording the GTID before its
            # row events arrive would silently skip them if the drain
            # ends mid-transaction (code-review r8 finding 1; the
            # reference advances position at commit time too). A new
            # GTID with one still pending is an implicit commit (every
            # event of the previous transaction has necessarily been
            # received).
            self._commit_pending_gtid()
            self._pending_gtid = decode_gtid(body)
            return 0
        if tc == XID_EVENT:
            self._commit_pending_gtid()
            return 0
        if tc == TABLE_MAP_EVENT:
            tid, tm = decode_table_map(body)
            self._tables[tid] = self._names_for(tm)
            return 0
        if tc == QUERY_EVENT:
            schema, query = decode_query(body)
            q = query.strip().upper()
            if q.startswith("TRUNCATE"):
                action = "truncate"
            elif q.startswith(_DDL_PREFIXES):
                action = "ddl"
            else:
                if q.startswith("COMMIT"):
                    # non-XA engines end transactions with a statement
                    self._commit_pending_gtid()
                return 0  # BEGIN / COMMIT / dml-as-statement: not controls
            doc = {
                "action": action,
                "log_file": self.log_file,
                "log_pos": hdr.log_pos,
                "query": query,
            }
            if schema:
                doc["schema"] = schema
            # TRUNCATE TABLE t / ALTER TABLE t ...: best-effort table
            def _ident_tail(token: str) -> str:
                # `db`.`t` → t: split the qualifier FIRST, then strip
                # quoting (strip-first leaves a stray backtick)
                return token.strip(";").split(".")[-1].strip("`\"")

            words = query.strip().split()
            for i, w in enumerate(words):
                if w.upper() == "TABLE" and i + 1 < len(words):
                    doc["table"] = _ident_tail(words[i + 1])
                    break
            else:
                # 'TRUNCATE t' without the TABLE keyword is valid MySQL
                # — the ONLY verb where TABLE is optional before a table
                # name. ALTER/DROP/RENAME without TABLE target some
                # other object class (DATABASE/INDEX/USER/...), so
                # falling back there would emit a mis-scoped control
                # ('ALTER DATABASE x' → table="DATABASE") in multi-table
                # pipelines (ADVICE r7); leave table unset instead.
                if len(words) >= 2 and words[0].upper() == "TRUNCATE":
                    doc["table"] = _ident_tail(words[1])
            self._emit(doc)
            if q.rstrip("; ").endswith("START TRANSACTION"):
                # atomic CREATE TABLE ... SELECT (8.0.21+) logs ONE
                # transaction: Query("CREATE TABLE ... START
                # TRANSACTION") → Table_map → Write_rows → Xid, all
                # under the SAME GTID — committing here would let a
                # drain ending right after this event persist a GTID
                # whose rows were never delivered (reconnect skips the
                # whole transaction). The Xid commits it.
                return 1
            # Other DDL/TRUNCATE statements are auto-committing
            # transactions (GTID_EVENT → QUERY, no XID): the statement
            # IS the transaction's whole payload and it is now
            # buffered, so its GTID becomes executed here — same
            # contract as XID. Lines flush before the state persists,
            # so a crash in between still replays, never skips.
            self._commit_pending_gtid()
            return 1
        if tc in (WRITE_ROWS_EVENT_V2, UPDATE_ROWS_EVENT_V2,
                  DELETE_ROWS_EVENT_V2):
            tid = int.from_bytes(body[0:6], "little")
            tm = self._tables.get(tid)
            if tm is None:
                raise ValueError(
                    f"rows event for unknown table id {tid} (no TABLE_MAP)"
                )
            action = {WRITE_ROWS_EVENT_V2: "insert",
                      UPDATE_ROWS_EVENT_V2: "update",
                      DELETE_ROWS_EVENT_V2: "delete"}[tc]
            n = 0
            for idx, row in enumerate(decode_rows_event(tc, body, tm)):
                doc = {
                    "action": action,
                    "log_file": self.log_file,
                    "log_pos": hdr.log_pos,
                    "row_idx": idx,
                    "schema": tm.schema,
                    "table": tm.table,
                }
                doc.update(row)
                self._emit(doc)
                n += 1
            return n
        return 0  # XID / ANONYMOUS_GTID / others: no row content

    def run(self, max_events: int | None = None) -> int:
        n, seen = 0, 0
        for ev in self.recv:
            n += self.handle(ev)
            seen += 1
            if max_events is not None and seen >= max_events:
                break
        self.close()
        return n

    def close(self) -> None:
        """Publish the buffered lines, then persist the executed GTID
        set — lines before state, so a crash in between replays a
        transaction rather than skipping it."""
        self._flush()
        durable.publish(
            os.path.join(self.out_dir, "_gtid.state"),
            format_gtid_set(self.gtid_executed),
        )


# ------------------------------------- session establishment (startup)
#
# The last layer between the event codecs above and a live server —
# the client half of the public "Connection Phase" docs: HandshakeV10
# decode, HandshakeResponse41 with a mysql_native_password /
# caching_sha2_password scramble, auth-switch / fast-auth
# continuations, then COM_BINLOG_DUMP_GTID presenting the persisted
# executed GTID set. ≈ ``mysql/canal.go`` (the reference's canal
# client performs the same dance before streaming events). Transport
# stays injectable: ``MySqlWireSession`` drives any (read, write) byte
# callables — a socket or a scripted test duplex.

AUTH_MORE_DATA = 0x01

CLIENT_LONG_PASSWORD = 0x00000001
CLIENT_CONNECT_WITH_DB = 0x00000008
CLIENT_PROTOCOL_41 = 0x00000200
CLIENT_SSL = 0x00000800
CLIENT_SECURE_CONNECTION = 0x00008000
CLIENT_PLUGIN_AUTH = 0x00080000
CLIENT_PLUGIN_AUTH_LENENC_CLIENT_DATA = 0x00200000

#: capabilities this client presents (utf8 charset 33); CLIENT_SSL is
#: OR'd in when the transport upgrades to TLS (which also unlocks the
#: caching_sha2 FULL-auth cleartext exchange)
CLIENT_CAPABILITIES = (
    CLIENT_LONG_PASSWORD
    | CLIENT_PROTOCOL_41
    | CLIENT_SECURE_CONNECTION
    | CLIENT_PLUGIN_AUTH
    | CLIENT_PLUGIN_AUTH_LENENC_CLIENT_DATA
)


@dataclass
class HandshakeV10:
    server_version: str
    thread_id: int
    scramble: bytes  # the 20-byte auth nonce (part1 + part2, NUL-trimmed)
    capabilities: int
    charset: int
    status: int
    auth_plugin: str


def decode_handshake_v10(payload: bytes) -> HandshakeV10:
    """Server greeting (protocol version 10), per the public
    "Protocol::HandshakeV10" layout."""
    if payload[0] != 10:
        raise ValueError(
            f"unsupported handshake protocol version {payload[0]}"
        )
    end = payload.index(b"\x00", 1)
    server_version = payload[1:end].decode()
    pos = end + 1
    (thread_id,) = struct.unpack_from("<I", payload, pos)
    pos += 4
    part1 = payload[pos:pos + 8]
    pos += 8 + 1  # + filler
    (cap_low,) = struct.unpack_from("<H", payload, pos)
    pos += 2
    charset = payload[pos]
    pos += 1
    (status,) = struct.unpack_from("<H", payload, pos)
    pos += 2
    (cap_high,) = struct.unpack_from("<H", payload, pos)
    pos += 2
    capabilities = cap_low | (cap_high << 16)
    auth_len = payload[pos]
    pos += 1 + 10  # + reserved
    part2 = b""
    if capabilities & CLIENT_SECURE_CONNECTION:
        n2 = max(13, auth_len - 8)
        part2 = payload[pos:pos + n2]
        pos += n2
    scramble = (part1 + part2).rstrip(b"\x00")
    auth_plugin = ""
    if capabilities & CLIENT_PLUGIN_AUTH:
        end = payload.index(b"\x00", pos)
        auth_plugin = payload[pos:end].decode()
    return HandshakeV10(
        server_version, thread_id, scramble, capabilities, charset,
        status, auth_plugin,
    )


def mysql_native_scramble(password: str, nonce: bytes) -> bytes:
    """``SHA1(pwd) XOR SHA1(nonce + SHA1(SHA1(pwd)))`` — the public
    mysql_native_password recipe (20 bytes)."""
    import hashlib

    if not password:
        return b""
    h1 = hashlib.sha1(password.encode()).digest()
    h2 = hashlib.sha1(h1).digest()
    mask = hashlib.sha1(nonce + h2).digest()
    return bytes(a ^ b for a, b in zip(h1, mask))


def caching_sha2_scramble(password: str, nonce: bytes) -> bytes:
    """``SHA256(pwd) XOR SHA256(SHA256(SHA256(pwd)) + nonce)`` — the
    public caching_sha2_password fast-auth recipe (32 bytes)."""
    import hashlib

    if not password:
        return b""
    h1 = hashlib.sha256(password.encode()).digest()
    h2 = hashlib.sha256(hashlib.sha256(h1).digest() + nonce).digest()
    return bytes(a ^ b for a, b in zip(h1, h2))


def scramble_for(plugin: str, password: str, nonce: bytes) -> bytes:
    if plugin in ("mysql_native_password", ""):
        return mysql_native_scramble(password, nonce)
    if plugin == "caching_sha2_password":
        return caching_sha2_scramble(password, nonce)
    raise ValueError(
        f"unsupported auth plugin {plugin!r}; this client implements "
        "mysql_native_password and caching_sha2_password (fast path)"
    )


def encode_ssl_request(
    database: str | None = None,
    charset: int = 33,
    max_packet: int = 1 << 24,
) -> bytes:
    """Protocol::SSLRequest payload — the 32-byte prefix of
    HandshakeResponse41 with CLIENT_SSL set. Sent at seq 1 after the
    greeting; the TLS handshake follows on the raw socket, then the
    full HandshakeResponse41 (same capabilities) flows encrypted. The
    capability bits here MUST match the later response's."""
    caps = CLIENT_CAPABILITIES | CLIENT_SSL
    if database:
        caps |= CLIENT_CONNECT_WITH_DB
    return struct.pack("<IIB", caps, max_packet, charset) + b"\x00" * 23


def encode_handshake_response(
    user: str,
    auth_response: bytes,
    plugin: str,
    database: str | None = None,
    charset: int = 33,
    max_packet: int = 1 << 24,
    ssl_active: bool = False,
) -> bytes:
    """Protocol::HandshakeResponse41 payload (packet framing applied by
    the caller — seq 1 follows the server's greeting at seq 0, or seq 2
    after an SSLRequest)."""
    caps = CLIENT_CAPABILITIES
    if database:
        caps |= CLIENT_CONNECT_WITH_DB
    if ssl_active:
        caps |= CLIENT_SSL
    out = struct.pack("<IIB", caps, max_packet, charset) + b"\x00" * 23
    out += user.encode() + b"\x00"
    out += encode_lenenc(len(auth_response)) + auth_response
    if database:
        out += database.encode() + b"\x00"
    out += plugin.encode() + b"\x00"
    return out


def encode_gtid_set_binary(gset: dict[str, list[list[int]]]) -> bytes:
    """The SID block of COM_BINLOG_DUMP_GTID: n_sids u64, then per SID
    the 16 uuid bytes + n_intervals u64 + (start u64, end u64) pairs
    with EXCLUSIVE ends — the wire form of the executed-set algebra
    ``parse_gtid_set`` keeps."""
    out = struct.pack("<Q", len(gset))
    for sid in sorted(gset):
        ivs = gset[sid]
        out += bytes.fromhex(sid.replace("-", ""))
        out += struct.pack("<Q", len(ivs))
        for lo, hi in ivs:
            out += struct.pack("<QQ", lo, hi + 1)
    return out


COM_QUERY = 0x03
COM_BINLOG_DUMP_GTID = 0x1E


def encode_com_binlog_dump_gtid(
    server_id: int,
    gtid_set: dict[str, list[list[int]]],
    filename: str = "",
    pos: int = 4,
    flags: int = 0,
) -> bytes:
    """COM_BINLOG_DUMP_GTID payload: the server resumes the event
    stream at the first transaction NOT in the presented executed set
    (≈ canal.go's StartBackupGTID)."""
    sid_block = encode_gtid_set_binary(gtid_set)
    return (
        bytes([COM_BINLOG_DUMP_GTID])
        + struct.pack("<HI", flags, server_id)
        + struct.pack("<I", len(filename))
        + filename.encode()
        + struct.pack("<Q", pos)
        + struct.pack("<I", len(sid_block))
        + sid_block
    )


#: MySQL's --ssl-mode spellings, normalized to the libpq-style ladder
#: the shared TLS context builder understands
_SSL_MODE_ALIASES = {
    "disabled": "disable",
    "preferred": "prefer",
    "required": "require",
    "verify_ca": "verify-ca",
    "verify_identity": "verify-full",
}


def _norm_ssl_mode(mode: str) -> str:
    m = mode.lower()
    return _SSL_MODE_ALIASES.get(m, m)


def mysql_dial(host: str, port: int, timeout: float = 30.0):
    """TCP transport factory for the MySQL client: returns
    ``(read, write, close, poll, starttls)``. Unlike the PG side —
    where TLS is negotiated before any protocol bytes — MySQL upgrades
    MID-handshake (greeting in cleartext, SSLRequest, then TLS), so the
    factory exposes ``starttls(sslmode, sslrootcert, server_hostname)``
    and every callable routes through the current (possibly wrapped)
    socket. The stash/poll machinery is ``pg_replication``'s
    ``socket_transport`` — one implementation for both wire clients."""
    import socket

    from transferia_spark.streaming.pg_replication import socket_transport

    cell = [socket.create_connection((host, port), timeout=timeout)]
    read, write, close, poll = socket_transport(cell)

    def starttls(
        sslmode: str, sslrootcert: str | None, server_hostname: str
    ) -> None:
        from transferia_spark.streaming.pg_replication import _tls_context

        cell[0] = _tls_context(sslmode, sslrootcert).wrap_socket(
            cell[0], server_hostname=server_hostname
        )

    return read, write, close, poll, starttls


def open_session(live: dict, dial=None):
    """``live:`` config → ``(session, close)``: one authenticated
    :class:`MySqlWireSession` (TLS ladder included) for snapshot
    SELECTs and coordinator queries. ``dial`` defaults to
    :func:`mysql_dial`, looked up per call so a patched module global
    takes effect; injected fakes may return 3-, 4- or 5-tuples (the
    fifth is ``starttls``). The transport is closed if the handshake
    fails."""
    parts = (dial or mysql_dial)(
        live["host"], int(live.get("port", 3306)),
        timeout=float(live.get("timeout", 30.0)),
    )
    read, write, close = parts[:3]
    starttls = parts[4] if len(parts) > 4 else None
    try:
        sess = MySqlWireSession(read, write, starttls=starttls)
        sess.connect(
            user=live["user"], password=live.get("password", ""),
            database=live.get("database"),
            ssl_mode=live.get("ssl_mode", "disable"),
            sslrootcert=live.get("sslrootcert"),
            server_hostname=live["host"],
        )
    except BaseException:
        close()
        raise
    return sess, close


class MySqlWireSession:
    """Connection establishment + OK-commands + the binlog-dump switch
    over injectable ``read(n)``/``write(bytes)`` callables.

    The full live path::

        sess = MySqlWireSession(sock.recv_exact, sock.sendall)
        sess.connect(user="repl", password=pw)
        sess.query_ok("SET @master_binlog_checksum='CRC32'")
        events = sess.start_binlog_dump_gtid(server_id=1234, gtid_set=s)
        BinlogTailer(events, out_dir).run()
    """

    def __init__(
        self,
        read: Callable[[int], bytes],
        write: Callable[[bytes], None],
        starttls: Callable[..., None] | None = None,
    ):
        self._read = read
        self._write = write
        self._starttls = starttls
        self._seq = 0
        self.handshake: HandshakeV10 | None = None
        self.tls_active = False
        self._password = ""

    def _recv_packet(self) -> bytes:
        head = self._read(4)
        if len(head) < 4:
            raise ValueError(
                f"truncated mysql packet header: got {len(head)} of 4 bytes"
            )
        ln = int.from_bytes(head[:3], "little")
        self._seq = (head[3] + 1) & 0xFF
        payload = self._read(ln) if ln else b""
        if ln and len(payload) < ln:
            raise ValueError(
                f"truncated mysql packet: header promised {ln} bytes, "
                f"got {len(payload)}"
            )
        if payload[:1] == bytes([ERR_HEADER]):
            raise decode_err_packet(payload)
        return payload

    def _send_packet(self, payload: bytes) -> None:
        self._write(encode_packet(payload, self._seq))
        self._seq = (self._seq + 1) & 0xFF

    def connect(
        self,
        user: str,
        password: str = "",
        database: str | None = None,
        ssl_mode: str = "disable",
        sslrootcert: str | None = None,
        server_hostname: str = "",
    ) -> None:
        """HandshakeV10 → [SSLRequest + TLS upgrade] →
        HandshakeResponse41 → auth continuations (auth-switch;
        caching_sha2 fast-auth, or FULL auth over TLS) → OK.

        ``ssl_mode`` accepts MySQL's --ssl-mode spellings (DISABLED /
        PREFERRED / REQUIRED / VERIFY_CA / VERIFY_IDENTITY) or the
        libpq-style ones; the upgrade happens mid-handshake per the
        public "Protocol::SSLRequest" chapter."""
        mode = _norm_ssl_mode(ssl_mode)
        if mode not in (
            "disable", "prefer", "require", "verify-ca", "verify-full"
        ):
            raise ValueError(f"unknown ssl_mode {ssl_mode!r}")
        if mode in ("verify-ca", "verify-full") and not sslrootcert:
            # config error, diagnosed BEFORE any protocol bytes — the
            # ssl module's late TypeError from load_verify_locations
            # (None) would otherwise fire mid-handshake on every
            # reconnect tick (same check as pg_replication.dial)
            raise ValueError(f"ssl_mode={ssl_mode} needs sslrootcert")
        hs = decode_handshake_v10(self._recv_packet())
        self.handshake = hs
        if mode != "disable":
            if not hs.capabilities & CLIENT_SSL:
                if mode != "prefer":
                    raise MySqlServerError(
                        3159, "HY000",
                        f"server does not support TLS and "
                        f"ssl_mode={ssl_mode} does not allow cleartext",
                    )
            elif self._starttls is None:
                # prefer degrades to cleartext when the CLIENT side
                # cannot do TLS too (mysql --ssl-mode=PREFERRED /
                # libpq sslmode=prefer semantics); only require-and-up
                # is loud about a TLS-less transport
                if mode != "prefer":
                    raise ValueError(
                        "ssl_mode set but the transport provides no "
                        "starttls (inject mysql_dial or a TLS-capable "
                        "fake)"
                    )
            else:
                self._send_packet(encode_ssl_request(database=database))
                self._starttls(mode, sslrootcert, server_hostname)
                self.tls_active = True
        plugin = hs.auth_plugin or "mysql_native_password"
        self._send_packet(
            encode_handshake_response(
                user, scramble_for(plugin, password, hs.scramble),
                plugin, database=database, ssl_active=self.tls_active,
            )
        )
        self._password = password
        while True:
            reply = self._recv_packet()
            marker = reply[0] if reply else OK_HEADER
            if marker == OK_HEADER:
                return
            if marker == EOF_HEADER:
                # AuthSwitchRequest: plugin cstring + new nonce
                end = reply.index(b"\x00", 1)
                plugin = reply[1:end].decode()
                nonce = reply[end + 1:].rstrip(b"\x00")
                self._send_packet(scramble_for(plugin, password, nonce))
            elif marker == AUTH_MORE_DATA:
                if reply[1:2] == b"\x03":
                    continue  # caching_sha2 fast-auth success → OK next
                if reply[1:2] == b"\x04" and self.tls_active:
                    # FULL auth (server cache miss): over TLS the
                    # protocol sends the password cleartext,
                    # NUL-terminated — the channel is the protection
                    self._send_packet(
                        self._password.encode() + b"\x00"
                    )
                    continue
                raise MySqlServerError(
                    1045, "28000",
                    "caching_sha2_password requires FULL authentication "
                    "(server cache miss); the cleartext exchange needs "
                    "TLS (set ssl_mode) — or prime the server cache / "
                    "use a mysql_native_password user",
                )
            else:
                raise ValueError(
                    f"unexpected auth continuation marker {marker:#04x}"
                )

    def query_ok(self, sql: str) -> None:
        """COM_QUERY for statements that answer with a bare OK
        (SET/FLUSH/...) — enough for session setup; result sets are out
        of scope for the replication client."""
        self._seq = 0  # each command restarts the sequence
        self._send_packet(bytes([COM_QUERY]) + sql.encode())
        reply = self._recv_packet()
        if reply[:1] != bytes([OK_HEADER]):
            raise ValueError(
                f"expected OK for {sql!r}, got marker {reply[0]:#04x} "
                "(result-set statements are not supported by the "
                "replication client)"
            )

    def query_rows(self, sql: str):
        """COM_QUERY returning a text-protocol result set:
        ``(column_names, row_iterator)`` where each row is one
        ``list[bytes | None]`` (lenenc strings; the 0xFB byte is SQL
        NULL). Values stay RAW BYTES — the wire carries column data in
        the column's own charset, and VARBINARY/BLOB payloads are not
        text at all; the caller decodes per its schema (a blanket
        utf-8 decode here would crash on binary columns). The binlog
        client only ever needed OK statements (``query_ok``); the
        wire-direct snapshot needs real result sets — ≈ the
        reference's snapshot SELECT path (``mysql/storage.go``).
        Column definitions parse eagerly so the names are available
        before iteration; rows stream lazily."""
        self._seq = 0
        self._send_packet(bytes([COM_QUERY]) + sql.encode())
        first = self._recv_packet()
        if first[:1] == bytes([OK_HEADER]):
            return [], iter(())  # DML/SET: no result set
        n_cols, _ = decode_lenenc(first, 0)
        names: list[str] = []
        for _ in range(n_cols):
            d = self._recv_packet()
            pos = 0
            strs = []
            # ColumnDefinition41 leads with 5 lenenc strings:
            # catalog, schema, table, org_table, name
            for _f in range(5):
                ln, pos = decode_lenenc(d, pos)
                strs.append(d[pos:pos + ln])
                pos += ln
            names.append(strs[4].decode())
        eof = self._recv_packet()
        if eof[:1] != bytes([EOF_HEADER]) or len(eof) >= 9:
            raise ValueError(
                "expected EOF after column definitions "
                f"(got marker {eof[0]:#04x}) — is CLIENT_DEPRECATE_EOF "
                "set? this client never offers it"
            )

        def rows():
            while True:
                p = self._recv_packet()
                # EOF terminates the rows (a VALUE may also start with
                # 0xFE — an 8-byte lenenc — but only in a packet ≥ 9
                # bytes, so the length disambiguates, per the docs)
                if p[:1] == bytes([EOF_HEADER]) and len(p) < 9:
                    return
                row: list[bytes | None] = []
                pos = 0
                for _ in range(n_cols):
                    if p[pos] == 0xFB:
                        row.append(None)
                        pos += 1
                    else:
                        ln, pos2 = decode_lenenc(p, pos)
                        row.append(bytes(p[pos2:pos2 + ln]))
                        pos = pos2 + ln
                yield row

        return names, rows()

    def start_binlog_dump_gtid(
        self,
        server_id: int,
        gtid_set: dict[str, list[list[int]]],
        poll: Callable[[float], bool] | None = None,
        idle_timeout: float = 0.5,
    ):
        """Send COM_BINLOG_DUMP_GTID; the connection becomes the event
        stream ``BinlogTailer`` drains (poll-bounded when the transport
        provides ``poll`` — same caught-up contract as the PG side)."""
        self._seq = 0
        self._send_packet(encode_com_binlog_dump_gtid(server_id, gtid_set))
        return packet_stream(
            self._read, poll=poll, idle_timeout=idle_timeout
        )


class MySqlLiveConnection:
    """ONE long-lived binlog session reused across heartbeat ticks
    (≈ the reference's canal holding a single slave connection,
    ``mysql/canal.go``): the ``mysqlwire`` live session of the
    wire-format table in ``tasks/replicate.py``, with the same
    ``drain()``/``close()`` contract as
    ``pg_replication.LiveReplicationConnection``.

    Each ``drain()`` pulls the buffered events (poll-bounded), flushes
    the binlog-JSON lines and persists the executed GTID set; on
    EOF/errors the next drain reconnects and presents the PERSISTED
    set to COM_BINLOG_DUMP_GTID, so the server resumes at the first
    un-replayed transaction."""

    def __init__(
        self,
        live: dict,
        out_dir: str,
        transport_factory: Callable[..., tuple] | None = None,
        column_names: dict[str, list[str]] | None = None,
    ):
        self.live = live
        self.out_dir = out_dir
        self._factory = transport_factory  # None → mysql_dial, resolved
        # at connect time so tests patching the module global take
        self._column_names = column_names
        self._close: Callable[[], None] | None = None
        self._read: Callable[[int], bytes] | None = None
        self._poll: Callable[[float], bool] | None = None
        self._tailer: BinlogTailer | None = None
        self._eof = False
        self.connects = 0

    @property
    def connected(self) -> bool:
        return self._close is not None and not self._eof

    def _connect(self) -> None:
        live = self.live
        parts = (self._factory or mysql_dial)(
            live["host"], int(live.get("port", 3306)),
            timeout=float(live.get("timeout", 30.0)),
        )
        # injected fakes may return the classic 4-tuple; mysql_dial
        # adds starttls for the mid-handshake TLS upgrade
        read, write, close, poll = parts[:4]
        starttls = parts[4] if len(parts) > 4 else None
        self._eof = False

        def tracked_read(n: int) -> bytes:
            b = read(n)
            if len(b) < n:
                self._eof = True
            return b

        try:
            sess = MySqlWireSession(tracked_read, write, starttls=starttls)
            sess.connect(
                user=live["user"], password=live.get("password", ""),
                database=live.get("database"),
                ssl_mode=live.get("ssl_mode", "disable"),
                sslrootcert=live.get("sslrootcert"),
                server_hostname=live["host"],
            )
            # announce checksum awareness (8.0 streams CRC32 by default;
            # FORMAT_DESCRIPTION still decides per-event)
            sess.query_ok("SET @master_binlog_checksum='CRC32'")
        except BaseException:
            close()
            raise
        self._tailer = BinlogTailer(
            iter(()), self.out_dir, column_names=self._column_names,
            # resume from the PERSISTED executed set — the reconnect
            # algebra
            gtid_executed=load_gtid_state(self.out_dir),
        )
        self._sess = sess
        self._read = tracked_read
        self._poll = poll
        self._close = close
        self.connects += 1
        self._stream_started = False

    def drain(self) -> int:
        if not self.connected:
            self.close()
            self._connect()
        try:
            if not self._stream_started:
                self._tailer.recv = self._sess.start_binlog_dump_gtid(
                    int(self.live.get("server_id", 43)),
                    self._tailer.gtid_executed,
                    poll=self._poll,
                    idle_timeout=float(self.live.get("idle_timeout", 0.5)),
                )
                self._stream_started = True
            else:
                # fresh poll-bounded parser over the SAME open stream:
                # the previous tick's generator returned at an idle
                # boundary; packet framing is durable, parsing resumes
                # where the last packet ended. Sequence continuity is
                # re-established from the next packet's own number.
                self._tailer.recv = packet_stream(
                    self._read, poll=self._poll,
                    idle_timeout=float(self.live.get("idle_timeout", 0.5)),
                )
            n = self._tailer.run()
        except BaseException:
            self.close()
            raise
        if self._eof:
            self.close()
        return n

    def close(self) -> None:
        if self._close is not None:
            try:
                self._close()
            except OSError:
                pass
            self._close = None
        self._tailer = None
        self._read = None
        self._poll = None


def mysql_live_drain_tcp(
    live: dict,
    out_dir: str,
    column_names: dict[str, list[str]] | None = None,
) -> int:
    """``replication.source.live`` config → one bounded catch-up drain
    over a real TCP connection (one-shot form; the heartbeat loop holds
    a :class:`MySqlLiveConnection` instead)."""
    conn = MySqlLiveConnection(live, out_dir, column_names=column_names)
    try:
        return conn.drain()
    finally:
        conn.close()


def load_gtid_state(out_dir: str) -> dict[str, list[list[int]]]:
    """The executed GTID set accumulated across drains (what a live
    client would hand to COM_BINLOG_DUMP_GTID on reconnect)."""
    return parse_gtid_set((read_state(out_dir, "_gtid.state") or "").strip())


def drain_recorded_binlog(
    frames_path: str,
    out_dir: str,
    column_names: dict[str, list[str]] | None = None,
) -> int:
    """Replay a RECORDED binlog session (JSON-lines files of
    ``{"frame": "<hex>"}`` — the same capture format the pgwire drain
    uses) through the tailer into the binlog-JSON directory the
    existing ``binlogjson`` DataSource tails; capture files an earlier
    pass drained are skipped (``wal_source.drain_new_captures``).
    Returns the number of JSON lines written this pass."""
    return drain_new_captures(
        frames_path, out_dir,
        lambda frames: BinlogTailer(
            frames, out_dir, column_names=column_names,
            # the executed GTID set accumulates across drains (a
            # reconnecting live client presents it to
            # COM_BINLOG_DUMP_GTID)
            gtid_executed=load_gtid_state(out_dir),
        ).run(),
    )


__all__ = [
    "BinlogTailer",
    "HandshakeV10",
    "MySqlLiveConnection",
    "MySqlWireSession",
    "caching_sha2_scramble",
    "decode_handshake_v10",
    "encode_com_binlog_dump_gtid",
    "encode_gtid_set_binary",
    "encode_handshake_response",
    "encode_ssl_request",
    "mysql_dial",
    "CLIENT_SSL",
    "mysql_live_drain_tcp",
    "mysql_native_scramble",
    "scramble_for",
    "DELETE_ROWS_EVENT_V2",
    "EventHeader",
    "FORMAT_DESCRIPTION_EVENT",
    "GTID_EVENT",
    "QUERY_EVENT",
    "ROTATE_EVENT",
    "TABLE_MAP_EVENT",
    "TableMap",
    "UPDATE_ROWS_EVENT_V2",
    "WRITE_ROWS_EVENT_V2",
    "decode_gtid",
    "decode_header",
    "decode_lenenc",
    "decode_query",
    "decode_rows_event",
    "decode_table_map",
    "drain_recorded_binlog",
    "encode_format_description",
    "encode_gtid",
    "encode_header",
    "encode_lenenc",
    "encode_query",
    "encode_rotate",
    "encode_rows_event",
    "encode_table_map",
    "encode_xid",
    "XID_EVENT",
    "format_gtid_set",
    "gtid_set_add",
    "gtid_set_contains",
    "load_gtid_state",
    "MySqlServerError",
    "decode_err_packet",
    "encode_packet",
    "packet_stream",
    "parse_gtid_set",
]
