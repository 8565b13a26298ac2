"""`trcli replicate`: supervised continuous replication from transfer.yaml.

≈ ``cmd/trcli/replicate/replicate.go:24-107`` in transferia/transferia
(``RunReplication``: activate when the coordinator state carries no
``status``, then a restart-forever worker loop — fatal errors clear the
state and surface, everything else logs and retries after an interval)
plus ``pkg/runtime/local/replication.go:83-131`` (``runReplication``:
per-attempt health heartbeat with retry count + last error, warning
status messages on NEW error causes only, fixed retry interval).

Spark translation: the "worker" is a Structured Streaming query built
from the transfer's ``replication`` endpoint (a checkpointed CDC
``DataSourceStreamReader`` → transformation chain → ``foreachBatch``
CDC sink). Restarts resume from the Spark checkpoint, exactly the
contract the reference gets from slot LSN / binlog-position state. The
snapshot half of SNAPSHOT_AND_INCREMENT seeds the SAME target table
the changelog merges into, and the source position recorded at seed
time becomes the stream's initial offset — the handoff the reference
implements with slot creation before snapshot (``lsn_slot.go``).

Fatal-error classification ≈ ``abstract.IsFatal`` / ``dterrors``: an
explicitly-marked :class:`FatalError`, or a configuration/contract
error that retrying cannot fix, stops the loop; transport/runtime
hiccups retry.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transferia_spark import durable
from transferia_spark.plans.transfer import TransferSpec, TransferType, _selected


class FatalError(RuntimeError):
    """≈ ``dterrors.NewFatalError`` — never retried by the supervisor."""


#: exception types retrying cannot fix: explicit fatals, contract and
#: configuration errors. Everything else (fs hiccups, concurrent-writer
#: races, transport failures) is transient and retries.
_FATAL_TYPES = (
    FatalError,
    NotImplementedError,
    ValueError,
    TypeError,
    AssertionError,
    FileNotFoundError,
    KeyError,
)


def is_fatal(err: BaseException) -> bool:
    """Classify an error chain (≈ ``abstract.IsFatal``). Spark wraps the
    Python ``foreachBatch`` error in ``StreamingQueryException`` whose
    message keeps the original type name — classify the wrapped text
    too, since the Python cause chain is severed at the JVM boundary.
    Common stdlib SUBCLASSES of the fatal types must be named
    explicitly: isinstance() sees them locally, but through the JVM
    boundary only the leaf type name survives."""
    fatal_names = {t.__name__ for t in _FATAL_TYPES} | {
        "JSONDecodeError",  # ValueError
        "UnicodeDecodeError",  # ValueError
    }
    seen: set[int] = set()
    e: BaseException | None = err
    while e is not None and id(e) not in seen:
        seen.add(id(e))
        if isinstance(e, _FATAL_TYPES):
            return True
        msg = str(e)
        if any(t.__name__ in msg for t in (FatalError,)) or "[FATAL]" in msg:
            return True
        # the innermost traceback line a JVM-wrapped error carries: a
        # fatal Python type raised inside foreachBatch must classify
        # fatal even though the cause chain is severed at the boundary
        head = _cause_signature(e).split(":", 1)[0].rsplit(".", 1)[-1]
        if head in fatal_names:
            return True
        e = e.__cause__ or e.__context__
    return False


_DRIFT_MARKER_RE = None


def _registry_drift_signal(err: BaseException):
    """Extract the ``registry-schema-drift id=<n> indexes=<i.j>``
    marker from an error chain (the executor-side marker survives the
    JVM boundary only as text)."""
    import re

    global _DRIFT_MARKER_RE
    if _DRIFT_MARKER_RE is None:
        _DRIFT_MARKER_RE = re.compile(
            r"registry-schema-drift id=(\d+) indexes=([\d.]*)"
        )
    seen: set[int] = set()
    e: BaseException | None = err
    while e is not None and id(e) not in seen:
        seen.add(id(e))
        m = _DRIFT_MARKER_RE.search(str(e))
        if m:
            idx = [int(x) for x in m.group(2).split(".") if x]
            return int(m.group(1)), idx
        e = e.__cause__ or e.__context__
    return None


_ENGINE_TO_SPARK_DDL = {
    "bigint": "bigint", "int": "int", "double": "double",
    "float": "float", "boolean": "boolean", "string": "string",
    "binary": "binary", "any": "string",
}


def evolve_schema_file_from_registry(source: dict, schema_id: int,
                                     indexes: list[int]) -> list[str]:
    """The supervisor half of registry-driven drift: fetch the writer
    schema that raised RegistrySchemaDrift, append its NEW columns to
    the declared schema as nullable (widening-only -- schema_drift.py's
    evolve contract), and durably publish ``schema_file`` so the
    restarted stream reads them. Returns the added column names."""
    from pyspark.sql import types as T

    from transferia_spark.parsers.schema_registry import (
        client_for,
        registry_engine_columns,
    )
    from transferia_spark.streaming.cdc_sources import schema_to_ddl

    pcfg = dict(source.get("parser") or {})
    client = client_for(
        pcfg["registry_url"],
        auth=pcfg.get("registry_auth"),
        tls_ca=pcfg.get("registry_tls_ca"),
        tls_insecure=bool(pcfg.get("registry_tls_insecure")),
    )
    cols = registry_engine_columns(
        client.get_schema(schema_id), client, indexes or None
    )
    st = T._parse_datatype_string(source_schema_ddl(source))
    have = {f.name for f in st.fields}
    added = [(n, t) for n, t in cols if n not in have]
    if not added:
        return []
    evolved = T.StructType(
        list(st.fields)
        + [
            T.StructField(
                n,
                T._parse_datatype_string(_ENGINE_TO_SPARK_DDL[t]),
                True,
            )
            for n, t in added
        ]
    )
    durable.publish(source["schema_file"], schema_to_ddl(evolved))
    return [n for n, _t in added]


_ID_NOISE_RE = None


def _cause_signature(err: BaseException) -> str:
    """Stable identity of an error CAUSE (≈ ``errors.EqualCauses``):
    Spark's StreamingQueryException embeds per-run UUIDs and plan ids,
    so raw text makes every retry look like a new cause. Prefer the
    innermost Python exception line of an embedded traceback; fall back
    to the id-normalized message."""
    import re

    global _ID_NOISE_RE
    if _ID_NOISE_RE is None:
        _ID_NOISE_RE = re.compile(
            r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
            r"|\bo\d+\b|#\d+"
        )
    lines = [ln.strip() for ln in str(err).splitlines()]
    causes = [
        ln
        for ln in lines
        if re.match(r"^[A-Za-z_][\w.]*(Error|Exception|Detected|Timeout): ", ln)
        and not ln.startswith(("StreamingQueryException", "Py4JJavaError", "py4j."))
    ]
    if causes:
        return causes[-1]
    return _ID_NOISE_RE.sub("<id>", f"{type(err).__name__}: {err}")[:500]


class TransferStateStore:
    """File-backed coordinator state (≈ ``coordinator.GetTransferState``
    / ``SetTransferState`` / ``RemoveTransferState``): one JSON document
    per transfer id, atomically replaced."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _file(self, transfer_id: str) -> str:
        return os.path.join(self.path, f"state_{transfer_id}.json")

    def get(self, transfer_id: str) -> dict:
        try:
            with open(self._file(transfer_id)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def set(self, transfer_id: str, **kv) -> None:
        doc = self.get(transfer_id)
        doc.update(kv)
        durable.publish(self._file(transfer_id), json.dumps(doc))

    def remove(self, transfer_id: str, keys: list[str]) -> None:
        doc = self.get(transfer_id)
        for k in keys:
            doc.pop(k, None)
        durable.publish(self._file(transfer_id), json.dumps(doc))

    # -- health heartbeat (≈ coordinator.TransferHealth) ---------------
    def report_health(
        self, transfer_id: str, retry_count: int, last_error: str | None
    ) -> None:
        durable.publish(
            os.path.join(self.path, f"health_{transfer_id}.json"),
            json.dumps(
                {
                    "retry_count": retry_count,
                    "last_error": last_error or "",
                    "ts": time.time(),
                }
            ),
        )

    def health(self, transfer_id: str) -> dict | None:
        try:
            with open(os.path.join(self.path, f"health_{transfer_id}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return None


# ---------------------------------------------------------------- streams

#: replication source formats → (DataSource class, payload-ddl → schema)
def _stream_formats():
    from transferia_spark.streaming.cdc_sources import (
        BinlogJsonDataSource,
        ChangeStreamJsonDataSource,
        binlog_output_schema,
        change_stream_output_schema,
    )
    from transferia_spark.streaming.wal_source import (
        WalJsonDataSource,
        wal_output_schema,
    )

    return {
        "binlogjson": (BinlogJsonDataSource, binlog_output_schema),
        "waljson": (WalJsonDataSource, wal_output_schema),
        "mongostream": (ChangeStreamJsonDataSource, change_stream_output_schema),
    }


class _FreshDrains:
    """A drain session that holds nothing open between drains: each
    ``drain()`` reads the capture files not drained yet, or dials
    afresh."""

    def __init__(self, drain: Callable[[], int]):
        self.drain = drain

    def close(self) -> None:
        pass


@dataclass(frozen=True)
class _WireFormat:
    """A wire client that drains its source into the recorded directory
    at ``path``, which the ``recorded`` DataSource then tails."""

    recorded: str
    #: the config a drain needs, for the error text
    needs: str
    #: source config → live session with ``drain()`` and ``close()``
    live: Callable[[dict], object]
    #: source config → one drain of ``frames_path`` captures, if any
    frames: Callable[[dict], int] | None = None


def _wire_formats() -> dict[str, _WireFormat]:
    """The one wire-format table: every ``*wire`` source drains through
    :func:`_wire_session`, at activation (inside
    :func:`source_position`), at each stream build and on every
    continuous-mode heartbeat."""
    from transferia_spark.streaming import mongo_wire, mysql_binlog
    from transferia_spark.streaming import pg_replication as pg

    def mongo_drain(s: dict) -> int:
        drain = (
            mongo_wire.live_drain_oplog
            if str(s["live"].get("mode", "change_stream")) == "oplog"
            else mongo_wire.live_drain_change_stream
        )
        return drain(s["live"], s["path"])

    return {
        # PG streaming replication (CopyBoth XLogData → wal2json lines)
        "pgwire": _WireFormat(
            "waljson",
            "frames_path: <dir of recorded CopyBoth captures> or live: "
            "{host, port, user, database, slot, ...}",
            lambda s: pg.LiveReplicationConnection(s["live"], s["path"]),
            lambda s: pg.drain_recorded_frames(s["frames_path"], s["path"]),
        ),
        # MySQL binlog (COM_BINLOG_DUMP_GTID row events → binlog JSON)
        "mysqlwire": _WireFormat(
            "binlogjson",
            "frames_path: <dir of recorded binlog event captures> or "
            "live: {host, port, user, password, server_id, ...}",
            lambda s: mysql_binlog.MySqlLiveConnection(
                s["live"], s["path"], column_names=s.get("column_names")
            ),
            lambda s: mysql_binlog.drain_recorded_binlog(
                s["frames_path"], s["path"],
                column_names=s.get("column_names"),
            ),
        ),
        # Mongo change stream, or the local.oplog.rs tail when
        # live.mode is oplog (pre-4.0 servers, no changeStream
        # privilege): one client per drain
        "mongowire": _WireFormat(
            "mongostream",
            "live: {uri | host/port/user/password, database, collection}",
            lambda s: _FreshDrains(lambda: mongo_drain(s)),
        ),
    }


def _wire_session(source: dict):
    """The drain session of a wire ``source``: its live connection, or
    the recorded ``frames_path`` captures."""
    wire = _wire_formats()[source["format"]]
    if source.get("live"):
        return wire.live(source)
    if wire.frames is not None and source.get("frames_path"):
        return _FreshDrains(lambda: wire.frames(source))
    raise FatalError(
        f"replication.source format {source['format']} needs {wire.needs}"
    )


def _drain_once(source: dict) -> int:
    """One catch-up drain of a wire source: one session, one
    ``drain()``, then ``close()``."""
    with contextlib.closing(_wire_session(source)) as session:
        return session.drain()


def source_position(
    fmt: str,
    schema_ddl: str,
    path: str,
    options: dict | None = None,
    source: dict | None = None,
) -> dict:
    """Scan the recorded stream for its CURRENT end position — what the
    reference snapshots as the slot LSN / binlog position at activate
    time. Reuses the stream reader's own offset algebra. ``options``
    passes reader options through — in particular ``dead_letter_dir``,
    so a poison line already in the directory at ACTIVATION time routes
    exactly like one arriving mid-stream would, instead of failing the
    activation the dead-letter contract exists to protect. For a wire
    format, ``source`` (the ``replication.source`` config) first drains
    the new input into ``path``, so the scan sees the stream's end."""
    formats = _stream_formats()
    if fmt == "kafkawire":
        # queue offsets live in the Spark checkpoint; there is no
        # snapshot-handoff position to capture (start controlled by
        # options.starting_offsets) — keyed targets absorb the
        # at-least-once overlap through collapse's (_lsn,_counter)
        # ordering like every other source
        return {}
    wires = _wire_formats()
    if fmt in wires:
        if source is not None:
            _drain_once(source)
        fmt = wires[fmt].recorded
    if fmt not in formats:
        raise FatalError(
            f"unknown replication source format {fmt!r}; "
            f"supported: {sorted(formats)}"
        )
    cls, schema_fn = formats[fmt]
    reader = cls(
        options={**dict(options or {}), "path": path}
    ).streamReader(schema_fn(schema_ddl))
    return reader.latestOffset()


def _position_options(fmt: str, position: dict | None) -> dict[str, str]:
    if not position:
        return {}
    if fmt in ("binlogjson", "waljson"):
        return {"start_lsn": str(position.get("lsn", 0))}
    return {
        "start_ts": str(position.get("ts", 0)),
        "start_order": str(position.get("order", -1)),
    }


def source_schema_ddl(source: dict) -> str:
    """Resolve the payload DDL: an inline ``schema`` or a ``schema_file``
    re-read per attempt — the file is the mutable registry the drift
    handler evolves, so a supervisor restart picks up the new columns."""
    if source.get("schema_file"):
        with open(source["schema_file"]) as f:
            return f.read().strip()
    return source["schema"]


def build_replication_stream(
    spark: SparkSession,
    source: dict,
    position: dict | None = None,
) -> DataFrame:
    """``replication.source`` section → checkpointable stream DataFrame.

    ``source``: {format, path, schema (payload DDL) | schema_file,
    options?, drop?}. ``position``: resume-after offset recorded at
    snapshot-seed time.
    """
    formats = _stream_formats()
    fmt = source.get("format")
    if fmt == "kafkawire":
        # queue replication (≈ kafka/source.go:105 consume→parse→push):
        # the pure-wire consumer's mirror frame, parsed by a registry
        # parser (default: json against the declared payload schema),
        # mapped to append-only ChangeItems — _op='i' (mirror streams
        # carry no deletes), _lsn = the record's event TIMESTAMP in ms
        # (not the raw offset: offsets only order within a partition,
        # and a partition-count change moves keys between partitions —
        # comparing raw offsets across them would let an old high-
        # offset record permanently outrank newer low-offset ones;
        # producer timestamps order correctly across the move,
        # code-review r10 pass 3), _counter = the partition offset
        # (exact tiebreak within one partition's same-ms records).
        # Offsets live in the Spark checkpoint — there is no handoff
        # position (start from options.starting_offsets).
        from pyspark.sql import types as T

        from transferia_spark.cdc.changeitem import (
            COUNTER_COL,
            LSN_COL,
            OP_COL,
        )
        from transferia_spark.parsers.registry import build_parser
        from transferia_spark.streaming.kafka_source import kafka_wire_stream

        ddl = source_schema_ddl(source)
        pcfg = dict(source.get("parser") or {"type": "json"})
        ptype = pcfg.pop("type", "json")
        pcfg.setdefault("schema", ddl)
        if (
            ptype == "confluent_schema_registry"
            and pcfg.get("registry_url")
            and source.get("schema_file")
        ):
            # registry-driven drift (r11 verdict next #4): with a
            # mutable schema_file to evolve, every NEW writer-schema id
            # is classified in-stream -- added columns raise the
            # transient RegistrySchemaDrift, the supervisor evolves
            # schema_file from the registry and the restart reads the
            # widened schema; a retype stays fatal. Per-record
            # writer-schema resolution IS the reference's drift
            # handling (engine/parser.go:44).
            pcfg.setdefault("drift_guard", True)
        raw = kafka_wire_stream(
            spark, source["bootstrap"], source["topic"],
            **{k: str(v) for k, v in (source.get("options") or {}).items()},
        )
        parsed = build_parser(ptype, **pcfg)(raw)
        op_expr = F.lit("i")
        if "_unparsed_raw" in parsed.columns:
            on_unparsed = str(source.get("on_unparsed", "fail"))
            if on_unparsed == "skip":
                # explicit opt-in ONLY: dropping poison payloads is
                # silent data loss — queue offsets are not file
                # positions, so the file dead-letter route can't hold
                # them; the reference lands them in <table>_unparsed
                parsed = parsed.filter(F.col("_unparsed_raw").isNull())
            else:
                # default LOUD: the stream fails naming the payload —
                # the supervisor classifies parse errors fatal rather
                # than advancing the checkpoint past lost data
                # (code-review r10 pass 3: the silent filter dropped
                # rows with dead_letter enabled and no trace). The
                # check rides a SELECTED column (_op), else column
                # pruning would drop it along with _unparsed_raw.
                op_expr = F.when(
                    F.col("_unparsed_raw").isNotNull(),
                    F.raise_error(F.concat(
                        F.lit("unparsed kafka payload (set "
                              "replication.source.on_unparsed: skip "
                              "to drop): "),
                        F.col("_unparsed_raw"),
                    )),
                ).otherwise(F.lit("i"))
        payload = [
            f.name for f in T._parse_datatype_string(ddl).fields
        ]
        # ADVICE r10: a broker record with timestamp -1 (producer
        # omitted it) surfaces as a NULL _timestamp from the wire
        # reader; letting it order as 1969/NULL would permanently lose
        # collapse ordering to any timestamped record for the same key.
        # Default: fail naming the fix. `on_untimestamped: offset`
        # switches the WHOLE stream to partition-offset ordering — a
        # coalesce(ts, offset) mix would put epoch-millis and raw
        # offsets in one ordering domain, so an untimestamped record
        # always loses to any timestamped one (code-review r11); the
        # mode is for topics with no producer timestamps at all, and
        # is only safe while the key→partition map is stable.
        ts_ms = F.unix_millis(F.col("_timestamp"))
        if str(source.get("on_untimestamped", "fail")) == "offset":
            lsn_expr = F.col("_offset").cast("long")
        else:
            lsn_expr = F.when(
                F.col("_timestamp").isNull(),
                F.raise_error(F.concat(
                    F.lit("kafka record without a producer timestamp "
                          "(broker sentinel -1) at offset "),
                    F.col("_offset").cast("string"),
                    F.lit(" — mirror ordering needs timestamps; set "
                          "replication.source.on_untimestamped: "
                          "offset to order by partition offset"),
                )),
            ).otherwise(ts_ms)
        return parsed.select(
            *[F.col(c) for c in payload],
            op_expr.alias(OP_COL),
            lsn_expr.alias(LSN_COL),
            F.col("_offset").cast("long").alias(COUNTER_COL),
        )
    wires = _wire_formats()
    if fmt in wires:
        # a wire client (streaming/pg_replication.py, mysql_binlog.py,
        # mongo_wire.py) drains its new input into the recorded
        # directory at `path`, then the stream tails that directory
        # with the recorded format's DataSource — the same
        # stream/offset path as a recorded log
        _drain_once(source)
        fmt = wires[fmt].recorded
        source = {**source, "format": fmt}
    if fmt not in formats:
        raise FatalError(
            f"unknown replication source format {fmt!r}; supported: "
            f"{sorted(formats) + sorted(wires) + ['kafkawire']}"
        )
    cls, schema_fn = formats[fmt]
    spark.dataSource.register(cls)
    reader = (
        spark.readStream.format(fmt)
        .schema(schema_fn(source_schema_ddl(source)))
        .option("path", source["path"])
    )
    for k, v in {
        **dict(source.get("options") or {}),
        **_position_options(fmt, position),
    }.items():
        reader = reader.option(k, str(v))
    df = reader.load()
    drop = source.get("drop")
    if drop is None:
        # single-table pipelines don't consume per-table routing; the
        # bucketed sink consumes _before for PK moves, keep it
        drop = [c for c in ("_table",) if c in df.columns]
    return df.drop(*drop) if drop else df


class MultiTableCdcSink:
    """foreachBatch router for MULTI-table replication (≈ the
    reference's per-table sink routing: one transfer replicates a whole
    database, each table applying to its own target). The batch splits
    on the ``_table`` routing column; each configured table selects its
    own payload columns out of the stream's union schema (absent
    columns ride as NULLs on the wire, never into the target).

    ``tables``: {stream table name: {root, keys, columns, n_buckets?}}.
    The per-batch table discovery is a ``distinct()`` on ``_table`` —
    bounded by the transfer's table count, not by data volume.
    Unknown table names follow ``on_unknown``: 'error' (default — a
    replication stream carrying an undeclared table is a config bug) or
    'skip' (the include-list semantics of data_objects).
    """

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, dict],
        on_unknown: str = "error",
    ):
        from transferia_spark.streaming.bucketed_table import (
            BucketedCdcApplySink,
            BucketedParquetTable,
        )

        if on_unknown not in ("error", "skip"):
            raise FatalError("on_unknown must be 'error' or 'skip'")
        self.on_unknown = on_unknown
        self.tables: dict[str, dict] = {}
        self.sinks: dict[str, BucketedCdcApplySink] = {}
        self.targets: dict[str, BucketedParquetTable] = {}
        for name, cfg in tables.items():
            if not cfg.get("keys") or not cfg.get("root"):
                raise FatalError(
                    f"replication.target.tables[{name!r}] needs root + keys"
                )
            t = _bucketed_target(spark, cfg)
            self.targets[name] = t
            self.sinks[name] = BucketedCdcApplySink(t)
            self.tables[name] = cfg

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if "_table" not in batch_df.columns:
            raise FatalError(
                "multi-table replication needs the _table routing column "
                "— don't drop it from the stream"
            )
        # the per-table loop re-filters the SAME micro-batch once per
        # routed table (plus once for discovery) — persist so the
        # stream-decode lineage evaluates once, not O(table count)
        # times; micro-batches are bounded (max_events_per_batch), so
        # the cache is too
        batch_df = batch_df.persist()
        try:
            names = sorted(
                r[0]
                for r in batch_df.select("_table").distinct().collect()
                if r[0]
            )
            unknown = [n for n in names if n not in self.tables]
            if unknown and self.on_unknown == "error":
                raise FatalError(
                    f"stream carries undeclared tables {unknown}; declare "
                    "them in replication.target.tables or set "
                    "on_unknown: skip"
                )
            for name in names:
                cfg = self.tables.get(name)
                if cfg is None:
                    continue
                sub = batch_df.filter(F.col("_table") == name).drop("_table")
                cols = cfg.get("columns")
                if cols:
                    meta = [c for c in sub.columns if c.startswith("_")]
                    sub = sub.select(*cols, *meta)
                self.sinks[name](sub, batch_id)
        finally:
            batch_df.unpersist()

    def wait_for_compaction(self, timeout: float | None = None) -> None:
        """Join every routed table's in-flight background fold and
        surface the first failure — the multi-table face of
        ``BucketedCdcApplySink.wait_for_compaction`` so the replicate
        verb's shutdown contract covers both shapes."""
        first: Exception | None = None
        for s in self.sinks.values():
            try:
                s.wait_for_compaction(timeout)
            except Exception as e:  # noqa: BLE001 — re-raised below
                if first is None:
                    first = e
        if first is not None:
            raise first


def _bucketed_target(spark: SparkSession, cfg: dict):
    """A target config dict → its ``BucketedParquetTable``.

    ``n_buckets: auto`` → None (derive from the snapshot seed's
    plan-size stats at first write); absent → 16. Every target is
    merge-on-read: O(|batch|) delta appends + read-time
    last-writer-wins + staggered per-bucket compaction between
    micro-batches. ``merge_mode`` is forwarded as given, so a config
    naming any mode other than ``delta`` fails at start;
    ``compact_policy: off`` leaves folding to ``trcli compact``."""
    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    nb = cfg.get("n_buckets", 16)
    auto = isinstance(nb, str) and nb.lower() == "auto"
    return BucketedParquetTable(
        spark, cfg["root"], keys=list(cfg["keys"]),
        n_buckets=None if auto else int(nb),
        merge_mode=cfg.get("merge_mode", "delta"),
        max_deltas=int(cfg.get("max_deltas", 8)),
        compact_policy=cfg.get("compact_policy", "incremental"),
    )


def build_replication_sink(spark: SparkSession, target: dict):
    """``replication.target`` section → (sink callable, table object).

    A single target (``kind: bucketed``, the default and only kind) or
    a ``tables:`` map, each applied through ``BucketedCdcApplySink``.
    """
    if target.get("tables"):
        sink = MultiTableCdcSink(
            spark, target["tables"], target.get("on_unknown", "error")
        )
        return sink, sink  # the sink doubles as the multi-table seeder
    kind = target.get("kind", "bucketed")
    if kind != "bucketed":
        raise FatalError(f"unknown replication.target kind {kind!r}")
    if not target.get("keys"):
        raise FatalError("replication.target needs keys: [..]")
    if not target.get("root"):
        raise FatalError("replication.target needs root: <dir>")
    from transferia_spark.streaming.bucketed_table import BucketedCdcApplySink

    table = _bucketed_target(spark, target)
    return BucketedCdcApplySink(table), table


# ------------------------------------------------------------- supervisor


@dataclass
class ReplicationReport:
    attempts: int = 0
    activated: bool = False
    snapshot_rows: int = 0
    errors: list[str] = field(default_factory=list)
    #: poison events routed to the dead-letter directory instead of
    #: killing the transfer (≈ the reference's <table>_unparsed rows)
    unparsed_rows: int = 0


def dead_letter_count(dl_dir: str) -> int:
    """Poison events recorded so far (one ``.json`` file per line —
    the idempotent-replay contract of ``dead_letter_record``)."""
    try:
        return sum(1 for n in os.listdir(dl_dir) if n.endswith(".json"))
    except FileNotFoundError:
        return 0


def read_unparsed(spark: SparkSession, dl_dir: str) -> DataFrame:
    """The dead-letter table (≈ ``<table>_unparsed``,
    ``generic_parser.go:575``): columns (table, file, byte_pos,
    unparsed_row, reason). ``byte_pos`` is the poison line's byte
    offset in its capture file."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("table", T.StringType()),
        T.StructField("file", T.StringType()),
        T.StructField("byte_pos", T.LongType()),
        T.StructField("unparsed_row", T.StringType()),
        T.StructField("reason", T.StringType()),
    ])
    try:
        files = [
            os.path.join(dl_dir, n)
            for n in sorted(os.listdir(dl_dir))
            if n.endswith(".json")
        ]
    except FileNotFoundError:
        files = []
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)


def _seed_snapshot(spark: SparkSession, spec: TransferSpec, table_obj) -> int:
    """SNAPSHOT_AND_INCREMENT activation: load the selected source
    table(s) through the transformation chain into the SAME target(s)
    the changelog merges into (≈ RunActivate before the worker loop).
    Multi-table mode seeds every declared table; single-table mode
    requires exactly one selected table."""
    tables = [t for t in spec.src.table_list(spark) if _selected(spec, t)]

    def one(t, target):
        df = spec.src.load_table(spark, t, where=spec.filters.get(t.fqtn()))
        routed = spec.transformation.apply(t, df)
        if len(routed) != 1:
            raise FatalError("replicate transformation must not fan out")
        target.overwrite(routed[0][1])

    if isinstance(table_obj, MultiTableCdcSink):
        for t in tables:
            name = t.fqtn() if t.fqtn() in table_obj.tables else t.name
            if name in table_obj.tables:
                cfg = table_obj.tables[name]
                df = spec.src.load_table(
                    spark, t, where=spec.filters.get(t.fqtn())
                )
                routed = spec.transformation.apply(t, df)
                if len(routed) != 1:
                    raise FatalError("replicate transformation must not fan out")
                out = routed[0][1]
                if cfg.get("columns"):
                    out = out.select(*cfg["columns"])
                table_obj.targets[name].overwrite(out)
        return -1
    if len(tables) != 1:
        raise FatalError(
            f"replicate seeds exactly one table per pipeline; selected "
            f"{[t.fqtn() for t in tables]} — narrow data_objects.include_objects"
        )
    one(tables[0], table_obj)
    return -1  # count not materialized (activate() contract)


def run_replication(
    spark: SparkSession,
    spec: TransferSpec,
    *,
    transfer_id: str = "transfer",
    state_dir: str,
    once: bool = False,
    max_attempts: int | None = None,
    max_runtime: float | None = None,
    retry_interval: float = 10.0,
    sleep_fn: Callable[[float], None] = time.sleep,
    stream_factory: Callable[[SparkSession, dict | None], DataFrame] | None = None,
    sink: Callable[[DataFrame, int], None] | None = None,
) -> ReplicationReport:
    """The replicate verb: activate-if-needed, then the supervised
    replication loop.

    - ``once=True`` runs ONE availableNow catch-up pass per attempt and
      returns after the first clean pass (recorded-log / test mode);
      ``once=False`` runs the continuous trigger until an error, then
      classifies and retries — the reference's restart-forever loop
      (bound it with ``max_attempts``; ``max_runtime`` stops the query
      cleanly after N seconds — bounded soak mode). While healthy, a
      heartbeat is reported every ``replication.health_interval``
      seconds (default 60) and a wire source drains its new input.
    - fatal error → coordinator ``status`` state is cleared (the next
      run re-activates, ``replicate.go:88-93``) and the error raises.
    - ``stream_factory``/``sink`` inject test doubles; by default both
      come from ``spec.replication``.
    """
    rep = spec.replication or {}
    if not rep and (stream_factory is None or sink is None):
        raise FatalError(
            "transfer.yaml has no replication: section — replicate needs "
            "{source: {format,path,schema}, target: {root,keys}}"
        )
    if (rep.get("target") or {}).get("tables") and spec.transformation:
        # multi-table mode routes rows AND control events (TRUNCATE /
        # DDL) by table name; a renaming transformer would rename the
        # rows' _table but controls bypass the chain with SOURCE names
        # (nonrow_separator contract) — the desync silently mis-scopes
        # truncates. Loud beats silently wrong.
        renamers = [
            t for t in spec.transformation.transformers
            if getattr(t, "TYPE", "") == "rename_tables"
        ]
        if renamers:
            raise FatalError(
                "rename_tables cannot run inside multi-table replication: "
                "control routing uses SOURCE table names — declare "
                "replication.target.tables under the source names instead"
            )
    store = TransferStateStore(state_dir)
    report = ReplicationReport()
    wires = _wire_formats()

    src_cfg = rep.get("source")
    if (
        src_cfg is not None
        and not src_cfg.get("schema")
        and not src_cfg.get("schema_file")
        and hasattr(spec.src, "_table_schema_pk")
    ):
        # neither schema: nor schema_file: on the stream — resolve the
        # payload DDL from the SNAPSHOT source's catalog discovery
        # (pgcopy/mysqlselect, r9): one schema authority for seed AND
        # stream, the reference's TableSchema-at-activation shape.
        # table_list() populates an empty tables: section from the
        # catalog (whole-database mode), so this must go through it,
        # not read .tables directly (code-review r9 session 2).
        # Multi-table streams need an explicit union schema (columns
        # across tables differ); keep that loud.
        names = [t.fqtn() for t in spec.src.table_list(spark)]
        if len(names) != 1:
            raise FatalError(
                "replication.source has no schema/schema_file and the "
                f"snapshot source resolves to {len(names)} tables — "
                "discovery can stand in for exactly one; declare the "
                "union schema explicitly for multi-table streams"
            )
        from transferia_spark.streaming.cdc_sources import schema_to_ddl

        st, _pk = spec.src._table_schema_pk(names[0])
        rep = dict(rep)
        rep["source"] = {**src_cfg, "schema": schema_to_ddl(st)}

    table_obj = None
    if sink is None:
        sink, table_obj = build_replication_sink(spark, rep.get("target") or {})
    elif rep.get("target"):
        # custom sink injected, but activation still seeds the declared
        # target (the reference runs RunActivate regardless of the sink
        # middleware stack)
        _, table_obj = build_replication_sink(spark, rep["target"])

    # poison events route to the dead-letter directory by default
    # (≈ generic_parser's unparsed rows) instead of classifying fatal
    # and clearing activation state — one bad row must not force a
    # multi-day re-snapshot. Disable with
    # replication.dead_letter.enabled: false for loud parse failures.
    # Resolved BEFORE activation: the activation-time position scan
    # honors the same route.
    dl_cfg = dict(rep.get("dead_letter") or {})
    dl_dir = None
    if dl_cfg.get("enabled", True):
        dl_dir = (
            dict((rep.get("source") or {}).get("options") or {}).get(
                "dead_letter_dir"
            )
            or dl_cfg.get("dir")
            or os.path.join(state_dir, f"unparsed_{transfer_id}")
        )

    # -- activate on first run (no `status` in coordinator state) ------
    state = store.get(transfer_id)
    if state.get("status") != "activated":
        position = None
        if spec.type == TransferType.SNAPSHOT_AND_INCREMENT:
            src = rep.get("source") or {}
            if src:
                # record the stream position BEFORE the snapshot scan:
                # events recorded during the scan replay after it, and
                # the idempotent MERGE absorbs the overlap — the same
                # at-least-once window the reference accepts.
                # kafkawire is the only pathless format and it early-
                # returns inside source_position — every path-based
                # format keeps the LOUD KeyError on a missing path:
                # swallowing it would silently record an empty
                # position, run the whole seed, and only then fail
                # (code-review r10 pass 3). A wire source drains once
                # inside, so the scan sees the stream's current end.
                position = source_position(
                    src["format"], source_schema_ddl(src),
                    "" if src.get("format") == "kafkawire"
                    else src["path"],
                    options={"dead_letter_dir": dl_dir} if dl_dir else None,
                    source=src,
                )
            if table_obj is not None:
                report.snapshot_rows = _seed_snapshot(spark, spec, table_obj)
                # a consistent wire source (pgcopy) holds a coordinator
                # connection whose transaction exports the snapshot id;
                # the seed is materialized now, so release it (the id
                # is invalid afterwards by design)
                src_close = getattr(spec.src, "close", None)
                if callable(src_close):
                    src_close()
            report.activated = True
        store.set(transfer_id, status="activated", source_position=position)
        state = store.get(transfer_id)

    position = state.get("source_position")
    checkpoint_dir = rep.get("checkpoint_dir") or os.path.join(
        state_dir, f"checkpoint_{transfer_id}"
    )

    from transferia_spark.streaming.pipeline import ReplicationPipeline

    # mid-stream DDL handling (replication.controls.enabled): the source
    # emits TRUNCATE/DDL control ChangeItems, a ControlRouter wraps the
    # sink, and each restart re-resolves the schema from schema_file —
    # SchemaDriftDetected is a transient error, so the reference's
    # restart loop IS the drift supervisor (schema_drift.py contract)
    controls_on = bool((rep.get("controls") or {}).get("enabled"))
    base_sink = sink

    def _attempt_sink():
        if not controls_on or stream_factory is not None:
            return base_sink
        from pyspark.sql import types as T

        from transferia_spark.streaming.cdc_sources import (
            probe_stream_schema,
            schema_to_ddl,
        )
        from transferia_spark.streaming.controls import ControlRouter

        src = rep.get("source") or {}
        ddl = source_schema_ddl(src)

        def wipe(table_name=None):
            if isinstance(table_obj, MultiTableCdcSink):
                cfg = table_obj.tables.get(table_name)
                if cfg is None:
                    return  # truncate of an undeclared/skipped table
                union = T._parse_datatype_string(ddl)
                cols = cfg.get("columns") or [f.name for f in union.fields]
                schema = T.StructType(
                    [f for f in union.fields if f.name in cols]
                )
                table_obj.targets[table_name].overwrite(
                    spark.createDataFrame([], schema)
                )
            elif table_obj is not None:
                table_obj.overwrite(
                    spark.createDataFrame([], T._parse_datatype_string(ddl))
                )

        def on_ddl(lsn: int):
            # relation-message analog: re-probe the recorded stream for
            # new columns and evolve the schema_file registry so the
            # restarted query reads them (widening-only). The probe is
            # ROUTED BY FORMAT — wal2json records columns as arrays,
            # binlog as before/after dicts (r5 verdict item 1); a wire
            # source probes its recorded format.
            if src.get("schema_file") and src.get("path"):
                # pathless sources (kafkawire) carry no recorded files
                # to probe — schema evolution arrives via schema_file
                # edits + restart
                fmt = src.get("format", "binlogjson")
                evolved = probe_stream_schema(
                    wires[fmt].recorded if fmt in wires else fmt,
                    src["path"], ddl,
                )
                durable.publish(src["schema_file"], schema_to_ddl(evolved))

        return ControlRouter(
            base_sink,
            on_truncate=wipe,
            on_ddl=on_ddl,
            state_file=os.path.join(state_dir, f"ddl_{transfer_id}.json"),
        )

    retry_count = 0
    last_err_text: str | None = None
    # ONE heartbeat drain session across ticks AND supervisor retries
    # (a live drain() self-heals by reconnecting), like the reference's
    # single replication connection (publisher_replication.go:75)
    heartbeat = q = None
    try:
        while True:
            report.attempts += 1
            try:
                sink = _attempt_sink()
                if stream_factory is not None:
                    stream = stream_factory(spark, position)
                else:
                    source = dict(rep.get("source") or {})
                    opts = dict(source.get("options") or {})
                    # durable committed-offset ack (≈ the coordinator's
                    # saved position): seeds the reader's latestOffset
                    # floor across restarts so bounded catch-up can never
                    # regress below the checkpoint
                    opts.setdefault(
                        "ack_file",
                        os.path.join(state_dir, f"ack_{transfer_id}.json"),
                    )
                    if dl_dir:
                        opts.setdefault("dead_letter_dir", dl_dir)
                    if controls_on:
                        opts["emit_controls"] = "true"
                    source["options"] = opts
                    if (rep.get("target") or {}).get("tables"):
                        # multi-table mode routes on _table — keep it
                        source.setdefault("drop", [])
                    stream = build_replication_stream(spark, source, position)
                # each row passes the transformation chain exactly once:
                # snapshot rows at seed time, stream rows here — the
                # reference's transformation middleware sits on the same
                # shared sink path (sink_factory.go:97-197)
                transformation = (
                    spec.transformation
                    if spec.transformation and spec.transformation.transformers
                    else None
                )
                pipe = ReplicationPipeline(
                    stream=stream,
                    sink=sink,
                    transformation=transformation,
                    checkpoint_dir=checkpoint_dir,
                    trigger=dict(rep.get("trigger") or {}),
                )
                if once or (pipe.trigger or {}).get("availableNow"):
                    pipe.run_available(query_name=f"replicate_{transfer_id}")
                    # shutdown contract: a background fold that failed
                    # after the LAST batch would otherwise vanish with the
                    # stream (its error only surfaces on the next batch) —
                    # join it before reporting healthy; a poisoned fold
                    # raises into the supervisor like any apply error
                    if hasattr(sink, "wait_for_compaction"):
                        sink.wait_for_compaction()
                    store.report_health(transfer_id, retry_count, None)
                    if dl_dir:
                        report.unparsed_rows = dead_letter_count(dl_dir)
                    return report
                q = pipe.start(query_name=f"replicate_{transfer_id}")
                # continuous mode: periodic health heartbeat while healthy
                # (≈ healthReportTicker, replication.go:142 — one report per
                # period, not only on errors) and, for wire sources, a drain
                # of the new input into the tailed directory on every tick.
                # ``max_runtime`` bounds soak runs.
                hb = float(rep.get("health_interval", 60.0))
                started = time.time()
                src = rep.get("source") or {}
                stopped = False
                while not q.awaitTermination(timeout=hb):
                    store.report_health(transfer_id, retry_count, None)
                    if src.get("format") in wires:
                        if heartbeat is None:
                            heartbeat = _wire_session(src)
                        heartbeat.drain()
                    if max_runtime is not None and time.time() - started >= max_runtime:
                        q.stop()
                        q.awaitTermination()
                        stopped = True
                        break
                if stopped:
                    # same shutdown contract as the once-mode exit above
                    if hasattr(sink, "wait_for_compaction"):
                        sink.wait_for_compaction()
                    store.report_health(transfer_id, retry_count, None)
                    if dl_dir:
                        report.unparsed_rows = dead_letter_count(dl_dir)
                    return report
                # the worker never returns cleanly in replicate mode
                raise RuntimeError(
                    "replication terminated without an error. This is an "
                    "anomaly, see logs for error details"
                )
            except Exception as e:  # noqa: BLE001 — the supervisor classifies
                if q is not None:
                    q.stop()  # a failed heartbeat leaves the query running
                retry_count += 1
                cause = _cause_signature(e)
                if cause != last_err_text:
                    # ≈ OpenStatusMessage on NEW error causes only
                    report.errors.append(cause)
                last_err_text = cause
                store.report_health(transfer_id, retry_count, cause)
                if is_fatal(e):
                    # ≈ replicate.go:88-93 — clear status so the next run
                    # re-activates from a clean slate, then surface
                    store.remove(transfer_id, ["status"])
                    raise
                drift = _registry_drift_signal(e)
                if drift is not None:
                    # registry-driven schema drift: evolve schema_file
                    # from the writer schema that raised, so this retry
                    # restarts the stream into the widened schema
                    src_cfg = dict(rep.get("source") or {})
                    if src_cfg.get("schema_file"):
                        import logging

                        try:
                            added = evolve_schema_file_from_registry(
                                src_cfg, drift[0], drift[1]
                            )
                        except Exception as ee:  # noqa: BLE001
                            # a registry hiccup during evolution is the
                            # transient class this loop exists to retry —
                            # it must not abort the worker (code-review
                            # r12); the next
                            # attempt re-raises the drift and lands here
                            # again. A FATAL-class failure (hard-deleted
                            # schema id → 404 ValueError, unwritable
                            # schema_file) must surface though, or a
                            # max_attempts=None worker drift-loops forever
                            # (code-review r12 pass 3)
                            if is_fatal(ee):
                                store.remove(transfer_id, ["status"])
                                raise
                            logging.getLogger(__name__).warning(
                                "registry drift evolution for schema id "
                                "%s failed (%s); retrying", drift[0], ee,
                            )
                        else:
                            logging.getLogger(__name__).info(
                                "registry drift: schema id %s added "
                                "columns %s; restarting into the evolved "
                                "schema", drift[0], added,
                            )
                if max_attempts is not None and report.attempts >= max_attempts:
                    raise
                sleep_fn(retry_interval)
    finally:
        if heartbeat is not None:
            heartbeat.close()


__all__ = [
    "FatalError",
    "MultiTableCdcSink",
    "ReplicationReport",
    "TransferStateStore",
    "build_replication_sink",
    "build_replication_stream",
    "dead_letter_count",
    "is_fatal",
    "read_unparsed",
    "run_replication",
    "source_position",
]
