"""Recorded-CDC stream formats: MySQL binlog and Mongo change streams.

Both are :class:`~transferia_spark.streaming.wal_source.RecordedCdcStreamReader`
subclasses — the base owns options, offsets, planning, the read loop,
dead-lettering and the ``commit`` ack — and supply only their format
hooks (event position, planner fast scan, offset dict ⇄ position,
initial position, meta tail, ``_table`` and the row mapper):

- MySQL ≈ ``pkg/providers/mysql/source.go:35`` (binlog subscription →
  row events; ``OnRow``: update events are (old,new) row pairs, deletes
  carry the old row) with the ``CalculateLSN`` offset algebra
  (``utils.go:204``: binlog file index × 10^12 + position) — the stream
  OFFSET is the LSN, so Spark's checkpoint IS the saved binlog position
  and ``commit()`` is the position ack the reference persists in its
  coordinator state.
- Mongo ≈ ``pkg/providers/mongo/change_stream_watcher.go:38`` +
  ``batcher.go:128`` — the offset is (clusterTime, order), the ordered
  pair a resume token encodes; ``commit()`` persists it like the
  reference stores resume tokens per collection.

Decode semantics are shared with the envelope adapters
(``cdc/envelopes.py``) so batch (Kafka/Debezium-fronted) and direct
paths emit identical ChangeItem frames.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource

from transferia_spark.cdc.envelopes import MYSQL_FILE_OFFSET
from transferia_spark.streaming.wal_source import (
    _STOP,
    RecordedCdcStreamReader,
    _scan_files,
    wal_output_schema,
)

_MYSQL_OPS = {"insert": "i", "update": "u", "delete": "d"}
_MONGO_OPS = {"insert": "i", "update": "u", "replace": "u", "delete": "d"}


# --------------------------------------------------------------- MySQL


def binlog_lsn(log_file: str, log_pos: int) -> int:
    """``CalculateLSN`` (mysql/utils.go:204): ``binlog.000007`` → the
    file index scaled by 10^12 plus the in-file position; a name without
    an index counts as file 1 (same algebra as ``envelopes.mysql_lsn``)."""
    parts = log_file.split(".")
    idx = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 1
    return idx * MYSQL_FILE_OFFSET + int(log_pos)


binlog_output_schema = wal_output_schema  # identical ChangeItem contract

# Composite-key planner fast scan (r14 optimization round; see
# positions_with_seek_index and wal_source._lsn_fast_scan). Each
# regex embeds its own key token, so with the exactly-once-per-token
# guard a match can only be THAT key: in valid JSON an unescaped
# ``"log_file"`` byte sequence is a complete string token (quotes inside
# strings are ``\"``, which breaks the byte pattern), and a string token
# followed by ``:`` can only be an object key (string VALUES are
# followed by ``,``/``}``/``]``). When both keys are top-level the fast
# values equal the json path's exactly: a no-escape string's raw bytes
# ARE its decoded text (multibyte UTF-8 never contains 0x22/0x5C), and
# the trailing guard rejects float/exponent log_pos the same way the
# scalar path does. If either matched key is nested-only, the top level
# lacks it, so ``extract_pos`` KeyErrors — the line is POISON under the
# json path and the fast phantom is benign (read() still dead-letters or
# fails loudly on the line itself; offsets are watermarks). Duplicate
# top-level keys, payload columns named ``log_file``/``log_pos``, and
# escaped occurrences inside string values all bump the token count past
# one and fall back to the full parse.
_BL_FILE_TOKEN = b'"log_file"'
_BL_POS_TOKEN = b'"log_pos"'
_BL_FILE_RX = re.compile(rb'"log_file"\s*:\s*"([^"\\]*)"')
_BL_POS_RX = re.compile(rb'"log_pos"\s*:\s*(-?\d+)(?![.eE\d])')


def _binlog_fast_scan(line: bytes):
    """``line -> lsn | None`` for the planner's position decode; None
    means "use the full json parse" (soundness argument above)."""
    if line.count(_BL_FILE_TOKEN) != 1 or line.count(_BL_POS_TOKEN) != 1:
        return None
    mf = _BL_FILE_RX.search(line)
    mp = _BL_POS_RX.search(line)
    if not mf or not mp:
        return None
    try:
        name = mf.group(1).decode()
    except UnicodeDecodeError:  # invalid UTF-8 → poison either way
        return None
    return binlog_lsn(name, int(mp.group(1)))


class BinlogJsonStreamReader(RecordedCdcStreamReader):
    """Offsets are binlog LSNs (``{"lsn": n}``). Event shape is the
    parsed-binlog JSON the envelope adapter documents
    (``envelopes.mysql_binlog_to_changeitems``): ``{action, log_file,
    log_pos, row_idx, schema?, table?, before?, after?}``."""

    _fast_scan = staticmethod(_binlog_fast_scan)

    @staticmethod
    def _position(ev: dict) -> int:
        # a non-string log_file fails inside binlog_lsn's str methods
        # (AttributeError): poison for planning and read() alike
        return binlog_lsn(ev["log_file"], ev["log_pos"])

    def _row_mapper(self, lo: int, hi: int, ordered: bool):
        fields = self.payload_fields

        def row(ev: dict):
            action = ev.get("action")
            op = _MYSQL_OPS.get(action)
            if op is None and not (
                self.emit_controls and action in ("truncate", "ddl", "query")
            ):
                # TRUNCATE / DDL statements are control kinds, not rows
                # — emitted as control ChangeItems only when the
                # pipeline opted in (ControlRouter)
                return None
            lsn = self._position(ev)
            if ordered and lsn > hi:
                return _STOP
            if not (lo < lsn <= hi):
                return None
            if op is None:
                return (None,) * len(fields) + (
                    "truncate" if action == "truncate" else "ddl",
                    lsn, 0, self._table(ev), None, None,
                )
            before_map = ev.get("before") or {}
            after_map = ev.get("after") or {}
            payload = before_map if op == "d" else after_map
            # updates/deletes attach the typed pre-image (OnRow's old
            # half of the (old,new) pair) so PK-changing updates
            # normalize delete+insert downstream
            before = (
                tuple(before_map.get(n) for n in fields)
                if op in ("u", "d") and before_map
                else None
            )
            return tuple(payload.get(n) for n in fields) + (
                op,
                lsn,
                int(ev.get("row_idx", 0)),
                self._table(ev),
                before,
                None,  # binlog row events always carry full rows
            )

        return row


class BinlogJsonDataSource(DataSource):
    """``spark.dataSource.register(BinlogJsonDataSource)`` then
    ``spark.readStream.format("binlogjson").schema(
    binlog_output_schema(ddl)).option("path", dir).load()``."""

    @classmethod
    def name(cls) -> str:
        return "binlogjson"

    def schema(self) -> str:
        raise NotImplementedError("binlogjson requires an explicit schema")

    def streamReader(self, schema: T.StructType) -> BinlogJsonStreamReader:
        return BinlogJsonStreamReader(schema, self.options)


def _extract_binlog(ev: dict):
    for side in ("before", "after"):
        vals = ev.get(side)
        if isinstance(vals, dict):
            yield from vals.items()


def probe_binlog_schema(path: str, base_ddl: str):
    """Relation-message analog for the recorded binlog (≈ the reference
    re-resolving the table schema on a DDL event,
    publisher_replication.go:202): scan row events for column names not
    in the base schema, infer types from their JSON values, and evolve
    widening-only (new columns append nullable — schema_drift.evolve's
    contract); a DECLARED column streaming an incompatible kind (a
    retyping DDL) raises loudly. The scan is incremental: capture files
    already probed are skipped (r7 verdict item 8). Returns the
    evolved StructType."""
    from transferia_spark.streaming.schema_drift import incremental_probe

    return incremental_probe(
        "binlog", path, _scan_files(path), base_ddl, _extract_binlog
    )


def _extract_change_stream(ev: dict):
    full = ev.get("fullDocument")
    if isinstance(full, dict):
        yield from full.items()
    upd = ev.get("updateDescription")
    if isinstance(upd, dict) and isinstance(upd.get("updatedFields"), dict):
        yield from upd["updatedFields"].items()


def probe_change_stream_schema(path: str, base_ddl: str) -> T.StructType:
    """Schema probe for the Mongo change-stream capture format: new
    document fields appear in ``fullDocument`` images and partial
    ``updateDescription.updatedFields`` — Mongo has no DDL, the
    documents themselves ARE the schema drift. Incremental + loud on
    retypes, like the binlog probe."""
    from transferia_spark.streaming.schema_drift import incremental_probe

    return incremental_probe(
        "mongostream", path, _scan_files(path), base_ddl,
        _extract_change_stream,
    )


def probe_stream_schema(fmt: str, path: str, base_ddl: str) -> T.StructType:
    """Format-routed relation-message analog (r5 verdict item 1): each
    replication wire format records its row payloads differently —
    binlog JSON as ``before``/``after`` dicts, wal2json as
    ``columns``/``identity`` arrays, change streams as documents — so
    the DDL-driven schema re-probe must parse the format the stream
    actually speaks, or a drift restart silently evolves nothing. A
    wire source probes the recorded format it drains into."""
    if fmt == "binlogjson":
        return probe_binlog_schema(path, base_ddl)
    if fmt == "waljson":
        from transferia_spark.streaming.wal_source import probe_wal_schema

        return probe_wal_schema(path, base_ddl)
    if fmt == "mongostream":
        return probe_change_stream_schema(path, base_ddl)
    raise ValueError(
        f"no schema probe for replication source format {fmt!r}"
    )


def schema_to_ddl(st: T.StructType) -> str:
    """StructType → Spark DDL, backtick-quoting any identifier that is
    not a plain word — discovered catalogs legally carry spaces/dashes
    (code-review r9 session 2: an unquoted `my col string` fails
    _parse_datatype_string after the snapshot already seeded)."""
    import re

    def q(name: str) -> str:
        if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            return name
        return "`" + name.replace("`", "``") + "`"

    return ", ".join(
        f"{q(f.name)} {f.dataType.simpleString()}" for f in st.fields
    )


# --------------------------------------------------------------- Mongo


def change_stream_output_schema(doc_ddl: str) -> T.StructType:
    """Document fields (``_id`` first) + ChangeItem meta. No ``_before``:
    Mongo document keys are immutable, so KEYS_CHANGED never arises
    (the watcher asserts the same)."""
    st = T._parse_datatype_string(doc_ddl)
    return T.StructType(
        list(st.fields)
        + [
            T.StructField("_op", T.StringType(), False),
            T.StructField("_lsn", T.LongType(), False),
            T.StructField("_counter", T.IntegerType(), False),
            T.StructField("_table", T.StringType(), True),
            T.StructField("_present", T.ArrayType(T.StringType()), True),
            # removedFields of a partial update ($unset): also listed in
            # _present (a removal is a carried NULL write for the fold);
            # document sinks turn them into true $unset ops
            T.StructField("_removed", T.ArrayType(T.StringType()), True),
        ]
    )


def parse_resume_token(data_hex: str) -> tuple[int, int]:
    """Mongo resume token ``_data`` hex → (clusterTime seconds,
    increment) — the ordered pair the whole offset algebra runs on.

    Public KeyString layout (mongo/db/storage/key_string, documented by
    the change-streams spec): the token begins with the 0x82 type tag
    of a 64-bit BSON Timestamp, followed by 4-byte big-endian seconds
    and 4-byte big-endian increment; the remainder (version byte,
    operation type, UUID, documentKey) refines ordering WITHIN one
    (ts, inc) and is opaque here — the reference also persists the
    token whole and orders on the timestamp head
    (``change_stream_watcher.go:38``)."""
    b = bytes.fromhex(data_hex)
    if not b or b[0] != 0x82:
        raise ValueError(
            f"not a resume token: expected leading 0x82 Timestamp tag, "
            f"got {b[:1].hex() or '<empty>'}"
        )
    if len(b) < 9:
        raise ValueError(f"resume token too short: {len(b)} bytes")
    return int.from_bytes(b[1:5], "big"), int.from_bytes(b[5:9], "big")


def format_resume_token(ts: int, inc: int, tail: bytes = b"") -> str:
    """Minimal token with the public Timestamp head — the test-vector
    builder and the capture-recording format."""
    return (
        b"\x82"
        + int(ts).to_bytes(4, "big")
        + int(inc).to_bytes(4, "big")
        + tail
    ).hex()


def _cs_pos(ev: dict) -> tuple[int, int]:
    """Event position: explicit (clusterTime, order) fields when the
    capture carries them, else derived from the REAL resume token in
    ``_id._data`` — both forms order identically, so mixed captures
    replay in one total order."""
    if "clusterTime" in ev or "order" in ev:
        return int(ev.get("clusterTime", 0)), int(ev.get("order", 0))
    tok = ev.get("_id")
    data = tok.get("_data") if isinstance(tok, dict) else None
    if data:
        return parse_resume_token(data)
    return 0, 0


class ChangeStreamJsonStreamReader(RecordedCdcStreamReader):
    """Offsets are (clusterTime, order) pairs — the total order a resume
    token encodes — as ``{"ts", "order"}``. Event shape is the
    change-stream document (``change_stream_watcher.go`` /
    ``batcher.go:128``): ``{operationType, clusterTime, order,
    documentKey: {_id}, fullDocument?, updateDescription?:
    {updatedFields, removedFields}, ns?: {db, coll}}``.

    Deliberately NO planner fast scan: the position falls back to the
    ``_id._data`` resume token when the explicit fields are absent, so
    a resume-token event whose user ``fullDocument`` happens to carry
    fields named ``clusterTime``/``order`` would fast-plan a phantom
    for a NON-poison line — unsound, unlike the lsn and binlog scans."""

    # no ``_before`` (document keys are immutable), plus ``_removed``
    _META_FIELDS = (
        "_op", "_lsn", "_counter", "_table", "_present", "_removed",
    )
    _position = staticmethod(_cs_pos)

    @staticmethod
    def _to_pos(offset: dict) -> tuple[int, int]:
        return int(offset["ts"]), int(offset["order"])

    @staticmethod
    def _to_offset(pos) -> dict:
        return {"ts": pos[0], "order": pos[1]}

    @staticmethod
    def _initial_pos(options: dict) -> tuple[int, int]:
        # either explicit, or as the REAL resume token the reference
        # persists per collection (`start_after`, the driver option of
        # the same name)
        if options.get("start_after"):
            return parse_resume_token(options["start_after"])
        return (
            int(options.get("start_ts", 0)),
            int(options.get("start_order", -1)),
        )

    @staticmethod
    def _table(ev: dict) -> str:
        ns = ev.get("ns") or {}
        return ".".join(x for x in (ns.get("db"), ns.get("coll")) if x)

    def _row_mapper(self, lo, hi, ordered: bool):
        fields = self.payload_fields
        declared = set(fields)

        def row(ev: dict):
            op = _MONGO_OPS.get(ev.get("operationType"))
            if op is None:
                # invalidate / drop / rename: control events — the
                # watcher restarts on them, not row changes. No
                # early-stop probe here: control shapes may lack
                # positions entirely
                return None
            pos = self._position(ev)
            if ordered and pos > hi:
                return _STOP
            if not (lo < pos <= hi):
                return None
            doc_key = (ev.get("documentKey") or {}).get("_id")
            full = ev.get("fullDocument")
            upd = ev.get("updateDescription") or {}
            updated = upd.get("updatedFields") or {}
            removed = upd.get("removedFields") or []
            if op == "d":
                vals = {}
                present = None
                removed_out = None
            elif full is not None:
                vals = dict(full)
                present = None  # full image: every column carried
                removed_out = None
            else:
                # partial update: updated names carry values, removed
                # names carry NULL and are ALSO named in _removed
                # (document sinks emit a true $unset; relational sinks
                # apply the carried NULL), everything else is ABSENT
                # (the _present contract collapse folds on).
                # A DOTTED path touching a DECLARED column is a nested
                # sub-document write we cannot patch into a column
                # fragment — silently dropping it would leave the column
                # stale, so it routes loudly (dead_letter if configured,
                # else raises; code-review r14). Dotted paths under
                # UNdeclared prefixes drop like any undeclared field
                # (the probed-schema contract). The change-stream
                # drain's fullDocument=updateLookup default avoids this;
                # oplog-mode $v:2 diffs are where dotted partials
                # actually occur.
                frag = {
                    k.split(".", 1)[0]
                    for k in (*updated, *removed)
                    if "." in k and k.split(".", 1)[0] in declared
                }
                if frag:
                    raise ValueError(
                        "dotted-path partial update touches "
                        f"declared column(s) {sorted(frag)} — "
                        "a nested sub-document write without a "
                        "full image cannot patch a column "
                        "fragment; use fullDocument=updateLookup "
                        "(the change-stream drain default) or "
                        "route via dead_letter"
                    )
                vals = dict(updated)
                present = ["_id", *updated.keys(), *removed]
                removed_out = list(removed) or None
            return tuple(
                doc_key if n == "_id" else vals.get(n) for n in fields
            ) + (op, pos[0], pos[1], self._table(ev), present, removed_out)

        return row


class ChangeStreamJsonDataSource(DataSource):
    """``spark.dataSource.register(ChangeStreamJsonDataSource)`` then
    ``spark.readStream.format("mongostream").schema(
    change_stream_output_schema(ddl)).option("path", dir).load()``."""

    @classmethod
    def name(cls) -> str:
        return "mongostream"

    def schema(self) -> str:
        raise NotImplementedError("mongostream requires an explicit schema")

    def streamReader(self, schema: T.StructType) -> ChangeStreamJsonStreamReader:
        return ChangeStreamJsonStreamReader(schema, self.options)


__all__ = [
    "BinlogJsonDataSource",
    "BinlogJsonStreamReader",
    "ChangeStreamJsonDataSource",
    "ChangeStreamJsonStreamReader",
    "binlog_lsn",
    "binlog_output_schema",
    "change_stream_output_schema",
    "format_resume_token",
    "parse_resume_token",
    "probe_binlog_schema",
    "probe_change_stream_schema",
    "probe_stream_schema",
    "schema_to_ddl",
]
