"""Wire-direct PostgreSQL snapshot via ``COPY ... TO STDOUT``.

The reference snapshots PG tables with COPY, not row-at-a-time SELECT
(≈ ``pkg/providers/postgres/storage.go`` — COPY is the bulk path every
PG tool uses), sharded into parallel scans by PK-hash or numeric-range
predicates (≈ ``sharding_storage.go:195-245``). This module is the
Spark-first equivalent built on the repo's own wire session
(:class:`~transferia_spark.streaming.pg_replication.PgWireSession`),
completing the live-wire story: snapshot AND replication over the same
session layer, no JDBC jar required.

Split by the gated-provider pattern:

- **Planning is pure**: :func:`copy_out_sql` /
  :func:`copy_shard_statements` build one
  ``COPY (SELECT …) TO STDOUT (FORMAT csv, NULL '\\N')`` statement per
  shard predicate (reusing ``sources/jdbc``'s shard formulas) —
  driver-scorable strings, no socket.
- **Transport is executor-side**: each shard task of
  :func:`pg_copy_snapshot` drains its own COPY stream
  (connection-per-shard — the reference's parallel snapshot shape) and
  parses the CSV payload into Arrow batches in bounded chunks. The
  driver never touches row data, so adding executors adds COPY
  streams — the 100 TB path is N workers × one server backend each,
  exactly what the server-side formula shards for.

CSV over text format on purpose: PG's text format needs a bespoke
backslash unescape (``\\t``/``\\n``/``\\\\`` …) that no vectorized
reader speaks, while CSV parses with pandas' C reader. ``NULL '\\N'``
keeps NULL distinct from the empty string (CSV's classic ambiguity).
"""

from __future__ import annotations

import contextlib
import io
import re
from typing import Iterable, Iterator

import numpy as np

from transferia_spark.sources.base import (
    WireSnapshotSource,
    _quote_fqtn,
    register_source,
    scan_shards,
)

#: NULL marker in the shipped COPY statements — the two characters
#: backslash-N, unquoted, so it can never collide with a quoted ""
COPY_NULL = "\\N"


def copy_out_sql(
    table: str,
    columns: list[str] | None = None,
    where: str | None = None,
) -> str:
    """The exact statement shipped to the server — projection and
    shard predicate are pushed down HERE, in SQL, not in a Spark plan
    node (same contract as ``jdbc.pushdown_subquery``). Table and
    projection identifiers are quoted; ``where`` arrives as SQL built
    by the shard planners (already-quoted identifiers + literals)."""
    from transferia_spark.sinks.jdbc import quote_ident

    cols = (
        ", ".join(quote_ident("postgres", c) for c in columns)
        if columns
        else "*"
    )
    inner = f"SELECT {cols} FROM {_quote_fqtn('postgres', table)}"
    if where:
        inner += f" WHERE {where}"
    return f"COPY ({inner}) TO STDOUT (FORMAT csv, NULL '{COPY_NULL}')"


def copy_shard_statements(
    table: str,
    pk_cols: list[str],
    n_shards: int,
    columns: list[str] | None = None,
) -> list[str]:
    """One COPY statement per PK-hash shard of :class:`PgCopySource`'s
    shard plan."""
    return [
        copy_out_sql(table, columns, pred)
        for pred in PgCopySource._pk_hash_predicates(pk_cols, n_shards)
    ]


def _split_csv_rows(buf: bytes) -> tuple[bytes, bytes]:
    """Split ``buf`` at the last newline that terminates a COMPLETE
    CSV row → (complete_rows, remainder). CopyData payloads carry no
    row alignment, and a naive cut at the last ``\\n`` can land inside
    a quoted field (embedded newline); a row boundary is a newline
    preceded by an EVEN number of quote characters. Vectorized —
    per-byte Python loops would make the decode the bottleneck."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    nl = np.flatnonzero(arr == 0x0A)
    if nl.size == 0:
        return b"", buf
    q = np.flatnonzero(arr == 0x22)  # '"'
    # quotes seen before each newline; even parity = outside a field
    parity = np.searchsorted(q, nl) & 1
    good = nl[parity == 0]
    if good.size == 0:
        return b"", buf
    cut = int(good[-1]) + 1
    return buf[:cut], buf[cut:]


def cast_text_frame(pdf, schema):
    """PG CSV text → the Spark schema's types, pandas-side (nullable
    extension dtypes so NULL survives the Arrow hop)."""
    import pandas as pd

    for f in schema.fields:
        s = pdf[f.name]
        t = f.dataType.typeName()
        if t in ("long", "integer", "short", "byte"):
            width = {"long": "Int64", "integer": "Int32",
                     "short": "Int16", "byte": "Int8"}[t]
            pdf[f.name] = pd.to_numeric(s, errors="raise").astype(width)
        elif t in ("double", "float"):
            # str astype, not to_numeric: PG legitimately emits 'NaN'
            # and '±Infinity', which to_numeric rejects. The NULLABLE
            # masked array keeps NULL a null on BOTH DataFrame
            # construction paths (plain numpy float64 turns None into
            # NaN, which driver-side createDataFrame keeps as NaN
            # while the Arrow path nulls it — divergent results). The
            # mask is built from the PRE-cast series so a literal NaN
            # VALUE stays NaN and only genuine NULLs mask (an
            # astype("Float64") would conflate them and silently
            # rewrite source NaNs to target NULLs).
            vals = s.astype("float64").to_numpy(
                dtype="float64" if t == "double" else "float32"
            )
            pdf[f.name] = pd.arrays.FloatingArray(
                vals, s.isna().to_numpy()
            )
        elif t == "boolean":
            pdf[f.name] = s.map(
                {"t": True, "f": False, "true": True, "false": False,
                 "1": True, "0": False}  # PG t/f; MySQL tinyint 1/0
            ).astype("boolean")
        elif t == "timestamp":
            pdf[f.name] = pd.to_datetime(s, format="ISO8601")
        elif t == "date":
            dt = pd.to_datetime(s, format="ISO8601")
            # NaT has no .date(); Arrow wants None in an object column
            pdf[f.name] = dt.dt.date.where(dt.notna(), None)
        elif t == "decimal":
            from decimal import Decimal

            pdf[f.name] = s.map(
                lambda v: Decimal(v) if v is not None and v == v else None
            )
        # string / binary-as-hex stay as-is
    return pdf


def decode_copy_csv(
    chunks: Iterable[bytes],
    schema,
    batch_bytes: int = 8 << 20,
) -> Iterator["pandas.DataFrame"]:  # noqa: F821
    """Reassemble CopyData payloads into complete CSV rows and parse
    them in ~``batch_bytes`` chunks with pandas' C reader (NULL is the
    unquoted ``\\N`` marker; quoted ``""`` stays an empty string).
    Bounded memory: at most one chunk + one unterminated row tail is
    ever held.

    Parsed with pyarrow's CSV reader, not pandas': a DATA value equal
    to the NULL marker arrives quoted (``"\\N"``) and PG quotes it for
    exactly this reason — pandas' ``na_values`` matching ignores
    quoting and would silently null real values, while pyarrow's
    ``quoted_strings_can_be_null=False`` preserves the distinction
    (code-review r8 session-2 finding 4)."""
    import pyarrow as pa
    import pyarrow.csv as pacsv

    names = [f.name for f in schema.fields]

    def parse(data: bytes):
        tbl = pacsv.read_csv(
            io.BytesIO(data),
            read_options=pacsv.ReadOptions(column_names=names),
            parse_options=pacsv.ParseOptions(newlines_in_values=True),
            convert_options=pacsv.ConvertOptions(
                column_types={n: pa.string() for n in names},
                null_values=[COPY_NULL],
                strings_can_be_null=True,
                quoted_strings_can_be_null=False,
            ),
        )
        return cast_text_frame(tbl.to_pandas(), schema)

    buf = b""
    for chunk in chunks:
        buf += chunk
        if len(buf) >= batch_bytes:
            rows, buf = _split_csv_rows(buf)
            if rows:
                yield parse(rows)
    if buf:
        rows, rest = _split_csv_rows(buf)
        if rest:
            # a COPY stream always ends each row with \n — leftover
            # bytes mean a truncated stream, which must be loud, not a
            # silently short snapshot
            raise ValueError(
                f"COPY stream ended mid-row ({len(rest)} unterminated "
                "bytes) — truncated transfer"
            )
        if rows:
            yield parse(rows)


def snapshot_statements(
    table: str,
    schema,
    predicates: list[str] | None = None,
    columns: list[str] | None = None,
) -> list[str]:
    """The statements ``pg_copy_snapshot`` ships, one per shard —
    ALWAYS projecting explicitly in schema order: the CSV decodes
    positionally against the schema's names, so a bare ``SELECT *``
    against a table whose physical column order or count differs
    would silently shift values into the wrong columns (code-review
    r8 session-2 finding 2)."""
    preds = predicates if predicates else [None]
    cols = columns or [f.name for f in schema.fields]
    return [copy_out_sql(table, cols, p) for p in preds]


def export_snapshot(session) -> str:
    """On a COORDINATOR connection: open a REPEATABLE READ READ ONLY
    transaction and export its MVCC snapshot id — every shard task
    then imports it (``SET TRANSACTION SNAPSHOT``), so N parallel COPY
    streams observe ONE point-in-time state (the reference's sharded
    consistent-snapshot recipe, ``postgres/storage.go``; plain
    parallel COPYs each see their own instant, and a row moving
    between shards mid-scan would be read twice or not at all). The
    coordinator session MUST stay open until every shard finishes —
    the snapshot id dies with its exporting transaction."""
    session.simple_query(
        "BEGIN ISOLATION LEVEL REPEATABLE READ READ ONLY"
    )
    rows = session.simple_query("SELECT pg_export_snapshot()")
    return rows[0]["pg_export_snapshot"]


def snapshot_position(session) -> str:
    """The WAL position to hand the increment phase
    (``PositionalStorage.Position`` parity,
    ``pkg/abstract/storage.go:300-309``). ORDERING IS THE CONTRACT:
    capture the position BEFORE :func:`export_snapshot` opens the MVCC
    view — anything committed between the two is then visible in the
    snapshot AND replayed from the position, a duplicate the handoff
    dedup (``snapshot_plus_changelog``) absorbs. The reverse order
    LOSES every commit landing in between: invisible to the view,
    skipped by replication (the reference's slot creation returns
    consistent_point + snapshot atomically for the same reason). Use
    :func:`export_snapshot_with_position` to get the order right."""
    rows = session.simple_query("SELECT pg_current_wal_lsn() AS lsn")
    return rows[0]["lsn"]


def export_snapshot_with_position(session) -> tuple[str, str]:
    """Position FIRST, then the view: ``(snapshot_id, start_lsn)``
    with the safe ordering (see :func:`snapshot_position`)."""
    lsn = snapshot_position(session)
    return export_snapshot(session), lsn


@contextlib.contextmanager
def exported_snapshot(live: dict):
    """Context manager: dial a coordinator connection, export a
    snapshot id for :func:`pg_copy_snapshot`'s tasks to import, hold
    the connection open for the body, close on exit::

        with exported_snapshot(live) as snap_id:
            df = pg_copy_snapshot(spark, live, t, schema,
                                  snapshot_id=snap_id)
            df.write.parquet(out)   # materialize INSIDE the block
    """
    from transferia_spark.streaming.pg_replication import open_session

    sess, close = open_session(live)
    try:
        yield export_snapshot(sess)
    finally:
        close()


def pg_copy_snapshot(
    spark,
    live: dict,
    table: str,
    schema,
    predicates: list[str] | None = None,
    columns: list[str] | None = None,
    snapshot_id: str | None = None,
):
    """Distributed wire-direct snapshot: one COPY stream per shard
    predicate, each in its own executor task. ``live`` carries
    host/port/user/password/database and the optional
    sslmode/sslrootcert ladder — the same dict the ``live:``
    replication verbs take, because it IS the same session layer."""
    if snapshot_id is not None and not re.fullmatch(
        r"[0-9A-Fa-f-]+", snapshot_id
    ):
        # interpolated into SET TRANSACTION SNAPSHOT on N connections:
        # only the server's own id alphabet passes (a quote in an
        # attacker-supplied value would otherwise inject SQL)
        raise ValueError(f"malformed snapshot id {snapshot_id!r}")
    stmts = snapshot_statements(table, schema, predicates, columns)
    live_conf = dict(live)

    def read(out_schema, sql):
        from transferia_spark.streaming.pg_replication import open_session

        sess, close = open_session(live_conf)
        try:
            if snapshot_id:
                # import the coordinator's exported snapshot: all
                # shards observe ONE MVCC instant
                sess.simple_query(
                    "BEGIN ISOLATION LEVEL REPEATABLE READ READ ONLY"
                )
                sess.simple_query(f"SET TRANSACTION SNAPSHOT '{snapshot_id}'")
            yield from decode_copy_csv(sess.copy_out(sql), out_schema)
        finally:
            close()

    return scan_shards(
        spark, [(sql,) for sql in stmts], "copy_sql string", read, schema
    )


@register_source
class PgCopySource(WireSnapshotSource):
    """Registry face of the wire-direct snapshot (``type: pgcopy`` in
    transfer.yaml) — the snapshot sibling of the ``live:`` replication
    verbs, sharing their connection dict; table config and shard plan
    as in :class:`~transferia_spark.sources.base.WireSnapshotSource`.

    ``live.consistent: true`` makes the source dial ONE coordinator
    connection on first use, capture the replication start position
    and export a snapshot id every shard task imports — all tables and
    all shards then read one MVCC instant, and ``start_lsn`` is the
    safe (position-before-view) handoff point. The coordinator
    connection is held for the SOURCE's lifetime (the exported id dies
    with its transaction); call :meth:`close` when the seed is
    materialized.
    """

    TYPE = "pgcopy"
    DIALECT = "postgres"

    def __init__(self, live: dict, tables: dict[str, dict]):
        super().__init__(live, tables)
        self._coord_close = None
        self._snapshot_id: str | None = None
        self.start_lsn: str | None = None

    def _open_session(self):
        from transferia_spark.streaming.pg_replication import open_session

        return open_session(self.live)

    def _discover_tables(self, sess) -> dict[str, dict]:
        from transferia_spark.sources.schema_discovery import (
            discover_pg_tables,
        )

        return discover_pg_tables(sess)

    def _ensure_snapshot(self) -> str | None:
        if not self.live.get("consistent"):
            return None
        if self._snapshot_id is None:
            sess, close = self._open_session()
            self._coord_close = close
            self._snapshot_id, self.start_lsn = (
                export_snapshot_with_position(sess)
            )
        return self._snapshot_id

    def close(self) -> None:
        """Release the coordinator connection (ends the exporting
        transaction — the snapshot id is invalid afterwards)."""
        if self._coord_close is not None:
            self._coord_close()
            self._coord_close = None
            self._snapshot_id = None

    def load_table(self, spark, table, where: str | None = None):
        schema, preds = self._shard_plan(table.fqtn(), where)
        return pg_copy_snapshot(
            spark, self.live, table.fqtn(), schema, predicates=preds,
            snapshot_id=self._ensure_snapshot(),
        )
