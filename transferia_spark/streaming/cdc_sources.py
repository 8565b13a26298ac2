"""Direct CDC stream readers: MySQL binlog and Mongo change streams.

The PG side reads its slot directly (``wal_source.WalJsonStreamReader``);
these are the analogous PySpark ``DataSourceStreamReader``s for the two
other CDC families, which previously stopped at envelope adapters
(``cdc/envelopes.py``) behind a fronting transport:

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

Wire format: a directory of JSON-line files (the binlog tailer's /
change-stream watcher's output piped to files — the transport this
container can test). The offset algebra, replay filtering, and row
mapping are transport-agnostic: a socket transport replaces only the
file-scan; decode semantics are shared with the envelope adapters so
batch (Kafka/Debezium-fronted) and direct paths emit identical
ChangeItem frames.

Emitted rows speak the full ChangeItem contract (payload columns, then
``_op``/``_lsn``/``_counter``/``_table``/``_before``/``_present``) and
plug straight into collapse → merge_batch / BucketedCdcApplySink.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from transferia_spark.cdc.envelopes import MYSQL_FILE_OFFSET
from transferia_spark.streaming.wal_source import wal_output_schema

# the meta tail the BINLOG recorded reader appends; the change-stream
# reader has its own tail (no ``_before``, plus ``_removed``) — each
# reader must exclude exactly what it emits, or a payload column with
# a reserved-looking name breaks the tuple arity (code-review r14)
_META_FIELDS = (
    "_op", "_lsn", "_counter", "_table", "_before", "_present",
)
_CS_META_FIELDS = (
    "_op", "_lsn", "_counter", "_table", "_present", "_removed",
)

_MYSQL_OPS = {"insert": "i", "update": "u", "delete": "d"}
_MONGO_OPS = {"insert": "i", "update": "u", "replace": "u", "delete": "d"}


def _scan_files(path: str) -> list[str]:
    try:
        names = sorted(os.listdir(path))
    except FileNotFoundError:
        return []
    return [os.path.join(path, n) for n in names if n.endswith((".json", ".jsonl"))]


def _ack(ack_file: str | None, end: dict) -> None:
    if ack_file:
        tmp = ack_file + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(end, fh)
        os.replace(tmp, ack_file)


class _FileSlice(InputPartition):
    def __init__(self, path: str, start: dict, end: dict,
                 start_byte: int = 0, ordered: bool = False):
        self.path = path
        self.start = start
        self.end = end
        # planner seek hints (r9, waljson-reader pattern): byte offset
        # of the last sparse checkpoint at-or-below the batch start and
        # whether the file is position-ordered (enables early stop) —
        # read() is then O(batch bytes) instead of re-decoding the
        # file head every micro-batch
        self.start_byte = start_byte
        self.ordered = ordered


def _positions_with_seek_index(
    f, extract_pos, seek_index, dead_letter, fast_scan=None
):
    from transferia_spark.streaming.wal_source import (
        positions_with_seek_index,
    )

    yield from positions_with_seek_index(
        f, extract_pos, seek_index, dead_letter, fast_scan=fast_scan
    )


def _attach_split_slices(
    files, lo, hi, seek_index, start, end, to_pos_dict, max_splits
):
    """Within-file parallel decode for the binlog/change-stream
    readers (same machinery as the waljson reader — see
    wal_source.attach_split_slices). Safe here a fortiori: these
    events CARRY their sub-position (binlog row_idx / resume-token
    order), nothing is scan-assigned, so any boundary placement keeps
    every emitted tuple identical."""
    from transferia_spark.streaming.wal_source import attach_split_slices

    return attach_split_slices(
        files, lo, hi, seek_index,
        lambda f, slo, shi, sb, o: _FileSlice(
            f,
            start if slo == lo else to_pos_dict(slo),
            end if shi == hi else to_pos_dict(shi),
            sb, o,
        ),
        max_splits,
    )


# --------------------------------------------------------------- MySQL


def binlog_lsn(log_file: str, log_pos: int) -> int:
    """``CalculateLSN`` (mysql/utils.go:204): ``binlog.000007`` → the
    file index scaled by 10^12 plus the in-file position; a name without
    an index counts as file 1 (same algebra as ``envelopes.mysql_lsn``)."""
    parts = log_file.split(".")
    idx = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 1
    return idx * MYSQL_FILE_OFFSET + int(log_pos)


binlog_output_schema = wal_output_schema  # identical ChangeItem contract

# Composite-key planner fast scan (r14 optimization round; extends the
# waljson ``fast_key`` regex path — see positions_with_seek_index). Each
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


class BinlogJsonStreamReader(DataSourceStreamReader):
    """Offsets are binlog LSNs; rows with lsn in (start, end] belong to
    the batch. Event shape is the parsed-binlog JSON the envelope
    adapter documents (``envelopes.mysql_binlog_to_changeitems``):
    ``{action, log_file, log_pos, row_idx, schema?, table?,
    before?, after?}``."""

    def __init__(self, schema: T.StructType, options: dict):
        from transferia_spark.streaming.wal_source import (
            _reject_reserved_payload,
            arrow_option_fields,
        )

        self.path = options["path"]
        self.schema = schema
        self.payload_fields = [
            f.name for f in schema.fields if f.name not in _META_FIELDS
        ]
        _reject_reserved_payload(self.payload_fields)
        # arrow RecordBatch fast path (wal_source.wrap_arrow_read)
        self.arrow_batches, self.arrow_chunk = arrow_option_fields(options)
        self.ack_file = options.get("ack_file")
        # snapshot→replication handoff: a fresh checkpoint starts AFTER
        # this binlog position (≈ the saved position RunActivate records)
        self.start_lsn = int(options.get("start_lsn", 0))
        # emit TRUNCATE/DDL statements as control ChangeItems (kind.go
        # parity) for pipelines routing them (streaming/controls.py);
        # default drops them — plain collapse/merge consumers expect
        # row kinds only
        self.emit_controls = str(
            options.get("emit_controls", "false")
        ).lower() in ("true", "1")
        # bounded catch-up batches (≈ the reference's bufferer caps,
        # middlewares/bufferer.go): latestOffset advances at most this
        # many binlog positions past the last planned batch, so a
        # replica resuming after downtime processes the backlog in
        # memory-bounded micro-batches instead of one giant batch
        mx = options.get("max_events_per_batch")
        self.max_events = int(mx) if mx is not None else None
        # within-file parallel decode (wal_source.attach_split_slices)
        self.decode_splits = max(
            1, int(options.get("decode_splits", 8))
        )
        # seed the latestOffset floor from the durable ack commit()
        # writes: a restarted reader must never plan an end below the
        # committed checkpoint (regressed offsets replay processed
        # ranges); partitions() adds Spark's own start offset as a
        # second floor
        self._base: int | None = None
        if self.ack_file:
            try:
                with open(self.ack_file) as fh:
                    self._base = int(json.load(fh)["lsn"])
            except (FileNotFoundError, ValueError, KeyError):
                pass
        # dead-letter route for poison events (≈ <table>_unparsed,
        # generic_parser.go): when set, malformed lines are recorded
        # and skipped instead of killing the transfer
        self.dead_letter = options.get("dead_letter_dir")
        # slot-trim analog: delete recorded files wholly below the
        # committed offset (keeps the tailed directory bounded)
        self.prune_committed = str(
            options.get("prune_committed", "false")
        ).lower() in ("true", "1")
        from transferia_spark.streaming.wal_source import OffsetScanCache

        self._scan_cache = OffsetScanCache()
        self._seek_index: dict[str, tuple[list, bool]] = {}

    def initialOffset(self) -> dict:
        return {"lsn": self.start_lsn}

    def _file_positions(self, f: str) -> Iterator[int]:
        """A file's parseable positions (one decode per immutable file;
        the poison filter mirrors read()'s dead-letter route —
        AttributeError included: a non-string log_file fails inside
        binlog_lsn's str methods, and planning must agree with read()
        or the poison kills latestOffset())."""
        yield from _positions_with_seek_index(
            f,
            lambda ev: binlog_lsn(ev["log_file"], ev["log_pos"]),
            self._seek_index,
            bool(self.dead_letter),
            fast_scan=_binlog_fast_scan,
        )

    def latestOffset(self) -> dict:
        base = self._base if self._base is not None else self.start_lsn
        pending = set(
            self._scan_cache.pending(
                _scan_files(self.path), base, self._file_positions
            )
        )
        if self.max_events is None:
            return {"lsn": max(max(pending, default=0), base)}
        if not pending:
            return {"lsn": base}
        take = sorted(pending)[: self.max_events]
        return {"lsn": take[-1]}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        self._base = max(
            self._base or 0, int(end["lsn"]), int(start["lsn"])
        )
        if int(end["lsn"]) <= int(start["lsn"]):
            return [_FileSlice("", start, end)]
        files = [
            f for f in _scan_files(self.path)
            if not self._scan_cache.skippable(
                f, int(start["lsn"]), int(end["lsn"])
            )
        ]
        if not files:
            return [_FileSlice("", start, end)]
        return _attach_split_slices(
            files, int(start["lsn"]), int(end["lsn"]),
            self._seek_index, start, end,
            lambda p: {"lsn": p}, self.decode_splits,
        )

    def read(self, partition: _FileSlice):
        from transferia_spark.streaming.wal_source import wrap_arrow_read

        yield from wrap_arrow_read(self, self._read_tuples(partition))

    def _read_tuples(self, partition: _FileSlice) -> Iterator[tuple]:
        if not partition.path:
            return
        from transferia_spark.streaming.wal_source import dead_letter_record

        lo, hi = int(partition.start["lsn"]), int(partition.end["lsn"])
        with open(partition.path, "rb") as fh:
            if partition.start_byte:
                fh.seek(partition.start_byte)
            off = partition.start_byte
            for line in fh:
                line_pos = off
                off += len(line)
                if not line.strip():
                    continue
                # poison events dead-letter and the stream continues
                # (generic_parser.go's NewUnparsed contract); without a
                # route the parse error stays loud/fatal
                ev = None
                try:
                    ev = json.loads(line)
                    action = ev.get("action")
                    op = _MYSQL_OPS.get(action)
                    if op is None:
                        # TRUNCATE / DDL statements: control kinds, not
                        # rows — emitted as control ChangeItems only
                        # when the pipeline opted in (ControlRouter)
                        if not (
                            self.emit_controls
                            and action in ("truncate", "ddl", "query")
                        ):
                            continue
                        lsn = binlog_lsn(ev["log_file"], ev["log_pos"])
                        if partition.ordered and lsn > hi:
                            return
                        if not (lo < lsn <= hi):
                            continue
                        yield tuple(None for _ in self.payload_fields) + (
                            "truncate" if action == "truncate" else "ddl",
                            lsn,
                            0,
                            ".".join(
                                x
                                for x in (ev.get("schema"), ev.get("table"))
                                if x
                            ),
                            None,
                            None,
                        )
                        continue
                    lsn = binlog_lsn(ev["log_file"], ev["log_pos"])
                    if partition.ordered and lsn > hi:
                        return
                    if not (lo < lsn <= hi):
                        continue
                    before_map = ev.get("before") or {}
                    after_map = ev.get("after") or {}
                    payload = before_map if op == "d" else after_map
                    # updates/deletes attach the typed pre-image (OnRow's
                    # old half of the (old,new) pair) so PK-changing
                    # updates normalize delete+insert downstream
                    before = (
                        tuple(before_map.get(n) for n in self.payload_fields)
                        if op in ("u", "d") and before_map
                        else None
                    )
                    yield tuple(
                        payload.get(n) for n in self.payload_fields
                    ) + (
                        op,
                        lsn,
                        int(ev.get("row_idx", 0)),
                        ".".join(
                            x for x in (ev.get("schema"), ev.get("table")) if x
                        ),
                        before,
                        None,  # binlog row events always carry full rows
                    )
                except Exception as e:  # noqa: BLE001 — routed, not dropped
                    if self.dead_letter:
                        dead_letter_record(
                            self.dead_letter, partition.path, line_pos,
                            line.strip().decode(errors="replace"), e,
                            table=ev.get("table")
                            if isinstance(ev, dict)
                            else None,
                        )
                        continue
                    raise

    def commit(self, end: dict) -> None:
        # ≈ the saved binlog position the reference's coordinator keeps
        _ack(self.ack_file, end)
        if self.prune_committed:
            from transferia_spark.streaming.wal_source import (
                prune_committed_files,
            )

            prune_committed_files(
                self._scan_cache, _scan_files(self.path), int(end["lsn"])
            )


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
    actually speaks, or a drift restart silently evolves nothing.
    ``pgwire`` drains into wal2json form before tailing, so it probes
    as waljson."""
    if fmt in ("binlogjson", "mysqlwire"):
        return probe_binlog_schema(path, base_ddl)
    if fmt in ("waljson", "pgwire"):
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


class ChangeStreamJsonStreamReader(DataSourceStreamReader):
    """Offsets are (clusterTime, order) pairs — the total order a resume
    token encodes; events with position in (start, end] belong to the
    batch. Event shape is the change-stream document
    (``change_stream_watcher.go`` / ``batcher.go:128``):
    ``{operationType, clusterTime, order, documentKey: {_id},
    fullDocument?, updateDescription?: {updatedFields, removedFields},
    ns?: {db, coll}}``."""

    def __init__(self, schema: T.StructType, options: dict):
        from transferia_spark.streaming.wal_source import (
            _reject_reserved_payload,
            arrow_option_fields,
        )

        self.path = options["path"]
        self.schema = schema
        self.payload_fields = [
            f.name for f in schema.fields
            if f.name not in _CS_META_FIELDS
        ]
        _reject_reserved_payload(self.payload_fields)
        self._payload_set = set(self.payload_fields)
        # arrow RecordBatch fast path (wal_source.wrap_arrow_read)
        self.arrow_batches, self.arrow_chunk = arrow_option_fields(options)
        self.ack_file = options.get("ack_file")
        # snapshot→replication handoff: fresh checkpoints resume after
        # this (clusterTime, order) pair — either explicit, or as the
        # REAL resume token the reference persists per collection
        # (`start_after`, the driver option of the same name)
        if options.get("start_after"):
            self.start_ts, self.start_order = parse_resume_token(
                options["start_after"]
            )
        else:
            self.start_ts = int(options.get("start_ts", 0))
            self.start_order = int(options.get("start_order", -1))
        # bounded catch-up batches (≈ middlewares/bufferer.go caps)
        mx = options.get("max_events_per_batch")
        self.max_events = int(mx) if mx is not None else None
        # within-file parallel decode (wal_source.attach_split_slices)
        self.decode_splits = max(
            1, int(options.get("decode_splits", 8))
        )
        # durable floor for latestOffset (same contract as the binlog
        # reader: never plan an end below the committed checkpoint)
        self._base: tuple[int, int] | None = None
        if self.ack_file:
            try:
                with open(self.ack_file) as fh:
                    acked = json.load(fh)
                self._base = (int(acked["ts"]), int(acked["order"]))
            except (FileNotFoundError, ValueError, KeyError):
                pass
        # dead-letter route for poison events (≈ <table>_unparsed)
        self.dead_letter = options.get("dead_letter_dir")
        # slot-trim analog (resume-token horizon): delete recorded
        # files wholly at-or-below the committed position
        self.prune_committed = str(
            options.get("prune_committed", "false")
        ).lower() in ("true", "1")
        from transferia_spark.streaming.wal_source import OffsetScanCache

        self._scan_cache = OffsetScanCache()
        self._seek_index: dict[str, tuple[list, bool]] = {}

    def initialOffset(self) -> dict:
        return {"ts": self.start_ts, "order": self.start_order}

    def _file_positions(self, f: str) -> Iterator[tuple[int, int]]:
        """One decode per immutable file; poison shapes (clusterTime:
        null, _id as a scalar, malformed tokens) stay invisible here
        when read() dead-letters them."""
        yield from _positions_with_seek_index(
            f, _cs_pos, self._seek_index, bool(self.dead_letter)
        )

    def latestOffset(self) -> dict:
        base = (
            self._base
            if self._base is not None
            else (self.start_ts, self.start_order)
        )
        pending = set(
            self._scan_cache.pending(
                _scan_files(self.path), base, self._file_positions
            )
        )
        if self.max_events is None:
            hi = max(pending, default=base)
            hi = max(hi, base)
            return {"ts": hi[0], "order": hi[1]}
        if not pending:
            return {"ts": base[0], "order": base[1]}
        take = sorted(pending)[: self.max_events][-1]
        return {"ts": take[0], "order": take[1]}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo = (int(start["ts"]), int(start["order"]))
        hi = (int(end["ts"]), int(end["order"]))
        self._base = max(self._base or (0, -1), hi, lo)
        if hi <= lo:
            return [_FileSlice("", start, end)]
        files = [
            f for f in _scan_files(self.path)
            if not self._scan_cache.skippable(f, lo, hi)
        ]
        if not files:
            return [_FileSlice("", start, end)]
        return _attach_split_slices(
            files, lo, hi, self._seek_index, start, end,
            lambda p: {"ts": p[0], "order": p[1]}, self.decode_splits,
        )

    def read(self, partition: _FileSlice):
        from transferia_spark.streaming.wal_source import wrap_arrow_read

        yield from wrap_arrow_read(self, self._read_tuples(partition))

    def _read_tuples(self, partition: _FileSlice) -> Iterator[tuple]:
        if not partition.path:
            return
        from transferia_spark.streaming.wal_source import dead_letter_record

        lo = (int(partition.start["ts"]), int(partition.start["order"]))
        hi = (int(partition.end["ts"]), int(partition.end["order"]))
        with open(partition.path, "rb") as fh:
            if partition.start_byte:
                fh.seek(partition.start_byte)
            off = partition.start_byte
            for line in fh:
                line_pos = off
                off += len(line)
                if not line.strip():
                    continue
                # poison events dead-letter and the stream continues
                # (generic_parser.go's NewUnparsed contract)
                try:
                    ev = json.loads(line)
                    op = _MONGO_OPS.get(ev.get("operationType"))
                    if op is None:
                        # invalidate / drop / rename: control events —
                        # the watcher restarts on them, not row changes.
                        # No early-stop probe here: control shapes may
                        # lack positions entirely
                        continue
                    pos = _cs_pos(ev)
                    if partition.ordered and pos > hi:
                        return
                    if not (lo < pos <= hi):
                        continue
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
                        # partial update: updated names carry values,
                        # removed names carry NULL and are ALSO named in
                        # _removed (document sinks emit a true $unset;
                        # relational sinks apply the carried NULL),
                        # everything else is ABSENT (the _present
                        # contract collapse folds on).
                        # A DOTTED path touching a DECLARED column is a
                        # nested sub-document write we cannot patch into
                        # a column fragment — silently dropping it would
                        # leave the column stale, so it routes loudly
                        # (dead_letter if configured, else raises;
                        # code-review r14). Dotted paths under
                        # UNdeclared prefixes drop like any undeclared
                        # field (the probed-schema contract). The
                        # change-stream drain's fullDocument=updateLookup
                        # default avoids this; oplog-mode $v:2 diffs are
                        # where dotted partials actually occur.
                        frag = {
                            k.split(".", 1)[0]
                            for k in (*updated, *removed)
                            if "." in k
                            and k.split(".", 1)[0] in self._payload_set
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
                    ns = ev.get("ns") or {}
                    table = ".".join(
                        x for x in (ns.get("db"), ns.get("coll")) if x
                    )
                    yield tuple(
                        doc_key if n == "_id" else vals.get(n)
                        for n in self.payload_fields
                    ) + (op, pos[0], pos[1], table, present, removed_out)
                except Exception as e:  # noqa: BLE001 — routed, not dropped
                    if self.dead_letter:
                        dead_letter_record(
                            self.dead_letter, partition.path, line_pos,
                            line.strip().decode(errors="replace"), e,
                        )
                        continue
                    raise

    def commit(self, end: dict) -> None:
        # ≈ resume-token persistence per collection
        _ack(self.ack_file, end)
        if self.prune_committed:
            from transferia_spark.streaming.wal_source import (
                prune_committed_files,
            )

            prune_committed_files(
                self._scan_cache,
                _scan_files(self.path),
                (int(end["ts"]), int(end["order"])),
            )


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
