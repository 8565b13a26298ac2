"""Greenplum gpfdist parallel-load sink.

≈ transferia/transferia ``pkg/providers/greenplum/gpfdist_sink.go`` +
``gpfdist_table_sink.go`` + ``ddl_operations.go``:
- data flows into Greenplum through gpfdist: segments pull rows in
  parallel from gpfdist servers via a READABLE EXTERNAL TABLE —
  the only bulk path that engages every segment at once;
- the load is transactional: rows land in a temporary table first;
  DoneTableLoad commits by ``INSERT INTO target(cols) SELECT cols
  FROM tmp`` then drops the temp table (``processDoneTableLoad:107``,
  ``InsertFromSelectQuery:160``, ``DropTableQuery:166``) — generated
  columns are excluded from the column list
  (``InsertQueryColumns:146``);
- cleanup policy maps to DROP/TRUNCATE of the target.

Spark-first split of responsibilities:
- Spark writes each partition as a gpfdist TEXT-format part file
  (tab-separated, ``\\N`` nulls, ``\\``/tab/newline escaped) into the
  staging directory — planned as ONE Catalyst ``concat_ws`` column, so
  serialization is JVM-side and parallel;
- gpfdist servers (deployment infrastructure, pointed at the staging
  dir) serve those parts to the segments;
- the DDL/commit sequence runs through an injectable SQL executor
  (psycopg/JDBC in production; a recorder in tests — no Greenplum in
  this environment).
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transferia_spark.cdc.changeitem import COUNTER_COL, LSN_COL, OP_COL
from transferia_spark.schema.colschema import TableID
from transferia_spark.sinks.base import CleanupPolicy, Sink, register_sink

_SYSTEM_COLS = (OP_COL, LSN_COL, COUNTER_COL, "_commit_ts", "_tx_id", "_before", "_batch")


def pg_name(table: TableID) -> str:
    ns = table.namespace or "public"
    return f'"{ns}"."{table.name}"'


def tmp_name(table: TableID) -> str:
    # UNQUALIFIED on purpose: temporary relations live only in
    # pg_temp — `CREATE TEMPORARY TABLE "public"."x"` is an error in
    # PG/Greenplum ("cannot create temporary relation in non-temporary
    # schema"). The namespace is folded into the name for uniqueness.
    ns = table.namespace or "public"
    return f'"tmp_{ns}_{table.name}"'


def ext_name(table: TableID) -> str:
    ns = table.namespace or "public"
    return f'"{ns}"."ext_{table.name}"'


def readable_external_table_ddl(
    table: TableID, columns: list[tuple[str, str]], locations: list[str]
) -> str:
    """READABLE EXTERNAL TABLE over gpfdist endpoints — the load-side
    twin of the storage's WRITABLE DDL; TEXT format with ``\\N`` nulls,
    matching the part files Spark writes."""
    cols = ", ".join(f'"{n}" {t}' for n, t in columns)
    locs = ", ".join(f"'{u}'" for u in locations)
    return (
        f"CREATE READABLE EXTERNAL TABLE {ext_name(table)} ({cols}) "
        f"LOCATION ({locs}) "
        f"FORMAT 'TEXT' (DELIMITER E'\\t' NULL E'\\\\N')"
    )


def insert_from_select(dst: str, src: str, columns: list[str]) -> str:
    """≈ ``InsertFromSelectQuery`` (ddl_operations.go:160)."""
    cols = ", ".join(f'"{c}"' for c in columns)
    return f"INSERT INTO {dst}({cols}) SELECT {cols} FROM {src}"


def gpfdist_text_line(df: DataFrame, cols: list[str]) -> F.Column:
    """One TEXT-format line per row as a single Catalyst column:
    backslash, tab, and newline escaped; NULL → ``\\N``."""
    parts = []
    for c in cols:
        s = F.col(c).cast("string")
        s = F.regexp_replace(s, r"\\", r"\\\\")
        s = F.regexp_replace(s, "\t", r"\\t")
        s = F.regexp_replace(s, "\n", r"\\n")
        parts.append(F.coalesce(s, F.lit(r"\N")))
    return F.concat_ws("\t", *parts)


class GpWireExecutor:
    """Live Greenplum control plane over the repo's OWN PG wire session
    — GP speaks the PostgreSQL protocol, so the session layer built for
    PG replication/COPY carries the external-table DDL and the
    ``INSERT ... SELECT`` commit too (≈ ``ddl_operations.go`` running
    them through a pgx pool in the reference; here no client library at
    all). ONE persistent connection, lazily dialed: the load sequence
    brackets its commit in ``BEGIN``/``COMMIT``, which only means
    anything when every statement shares the connection."""

    def __init__(self, live: dict, dial_fn=None):
        self.live = dict(live)
        self._dial = dial_fn
        self._sess = None
        self._close = None

    def _ensure(self):
        if self._sess is None:
            from transferia_spark.streaming.pg_replication import (
                open_session,
            )

            self._sess, self._close = open_session(self.live, self._dial)
        return self._sess

    def __call__(self, sql: str):
        try:
            return self._ensure().simple_query(sql)
        except Exception:
            # a failed statement leaves the session mid-protocol (the
            # ErrorResponse raised before ReadyForQuery was consumed)
            # and possibly inside an aborted BEGIN block — a later
            # statement on the same connection would read the previous
            # statement's leftovers (off-by-one responses) or no-op in
            # the aborted transaction. Drop the connection: the server
            # rolls the transaction back on disconnect, and the next
            # call dials fresh (code-review r10).
            self.close()
            raise

    def close(self) -> None:
        if self._close is not None:
            try:
                self._close()
            except OSError:
                pass
        self._sess = self._close = None


@register_sink
class GreenplumGpfdistSink(Sink):
    """Stage part files → external-table load → transactional swap.

    Three deployment shapes:

    - ``sql_executor=`` injected (psycopg/JDBC/test recorder) — as
      before;
    - ``live={host,port,user,password,database}`` — the control plane
      runs over the repo's own PG wire session
      (:class:`GpWireExecutor`), no client library needed;
    - ``serve_staging=True`` — the sink also runs its own
      :class:`~transferia_spark.sinks.gpfdist_server.GpfdistServer`
      over ``staging_dir`` and points the external-table LOCATION at
      it, making the whole load path self-contained (stage → serve →
      DDL+INSERT), ≈ the reference owning its gpfdist binary
      (``gpfdist_table_sink.go``). ``close()`` stops both.
    """

    TYPE = "greenplum_gpfdist"

    def __init__(
        self,
        staging_dir: str,
        gpfdist_urls: list[str] | None = None,
        sql_executor: Callable[[str], None] | None = None,
        generated_cols: list[str] | None = None,
        live: dict | None = None,
        serve_staging: bool = False,
        bind_host: str = "127.0.0.1",
    ):
        self.staging_dir = staging_dir
        self._server = None
        if serve_staging:
            from transferia_spark.sinks.gpfdist_server import GpfdistServer

            self._server = GpfdistServer(staging_dir, host=bind_host)
            gpfdist_urls = [self._server.url]
        self.gpfdist_urls = gpfdist_urls or ["gpfdist://localhost:8080"]
        if sql_executor is not None:
            self.sql = sql_executor
        elif live is not None:
            self.sql = GpWireExecutor(live)
        else:
            self.sql = lambda q: (_ for _ in ()).throw(
                NotImplementedError(
                    "greenplum sink needs a control plane: pass "
                    "live={host,port,user,...} (wire session) or "
                    "inject sql_executor (psycopg/JDBC)"
                )
            )
        self.generated_cols = set(generated_cols or ())
        # one control-plane session: a table's load sequence (BEGIN …
        # COMMIT) and cleanup must not interleave with another table's
        self._sql_lock = threading.Lock()

    def close(self) -> None:
        if self._server is not None:
            self._server.close()
            self._server = None
        if isinstance(self.sql, GpWireExecutor):
            self.sql.close()

    def _data_cols(self, df: DataFrame) -> list[str]:
        return [
            c for c in df.columns
            if c not in _SYSTEM_COLS and c not in self.generated_cols
        ]

    def stage(self, df: DataFrame, table: TableID) -> str:
        """Write the partitioned TEXT part files gpfdist will serve."""
        cols = self._data_cols(df)
        path = f"{self.staging_dir}/{table.name}"
        df.select(gpfdist_text_line(df, cols).alias("value")).write.mode(
            "overwrite"
        ).text(path)
        return path

    def load_statements(
        self, table: TableID, cols: list[str],
        col_types: list[tuple[str, str]],
    ) -> list[str]:
        """The exact control-plane sequence, as pure strings (driver-
        scorable): external table over the gpfdist endpoints → temp
        stage → transactional commit swap → cleanup
        (``processDoneTableLoad:107`` order)."""
        locations = [
            f"{u.rstrip('/')}/{table.name}/*" for u in self.gpfdist_urls
        ]
        target, tmp, ext = pg_name(table), tmp_name(table), ext_name(table)
        return [
            f"DROP EXTERNAL TABLE IF EXISTS {ext}",
            readable_external_table_ddl(table, col_types, locations),
            f"CREATE TEMPORARY TABLE {tmp} AS "
            f"SELECT * FROM {target} LIMIT 0",
            insert_from_select(tmp, ext, cols),
            "BEGIN",
            insert_from_select(target, tmp, cols),
            f"DROP TABLE IF EXISTS {tmp}",
            "COMMIT",
            f"DROP EXTERNAL TABLE IF EXISTS {ext}",
        ]

    def write(self, df: DataFrame, table: TableID) -> None:
        cols = self._data_cols(df)
        col_types = [
            (f.name, _pg_type(f.dataType.simpleString()))
            for f in df.schema.fields
            if f.name in cols
        ]
        self.stage(df, table)
        with self._sql_lock:
            for stmt in self.load_statements(table, cols, col_types):
                self.sql(stmt)

    def cleanup(self, table: TableID, policy: CleanupPolicy) -> None:
        if policy == CleanupPolicy.DISABLED:
            return
        with self._sql_lock:
            if policy == CleanupPolicy.DROP:
                self.sql(f"DROP TABLE IF EXISTS {pg_name(table)}")
            else:
                self.sql(f"TRUNCATE TABLE {pg_name(table)}")


def _pg_type(simple: str) -> str:
    return {
        "bigint": "bigint", "int": "integer", "smallint": "smallint",
        "tinyint": "smallint", "double": "double precision", "float": "real",
        "string": "text", "boolean": "boolean", "date": "date",
        "timestamp": "timestamp", "binary": "bytea",
    }.get(simple, "text" if not simple.startswith("decimal") else simple)


__all__ = [
    "GpWireExecutor",
    "GreenplumGpfdistSink",
    "readable_external_table_ddl",
    "insert_from_select",
    "gpfdist_text_line",
]
