"""Wire-direct PG snapshot (sources/pg_copy.py): COPY OUT session
flow, CSV reassembly/typing, shard-statement planning, and a loopback
e2e where executor tasks dial a scripted server themselves."""

from __future__ import annotations

import socket
import struct
import threading

import pytest
from test_pg_session import FakeDuplex, auth, be, cmd_complete, ready

from transferia_spark.sources.pg_copy import (
    copy_out_sql,
    copy_shard_statements,
    decode_copy_csv,
    pg_copy_snapshot,
    _split_csv_rows,
)
from transferia_spark.streaming.pg_replication import (
    PgServerError,
    PgWireSession,
)


def copy_out_resp(ncols: int = 1) -> bytes:
    return be(b"H", b"\x00" + struct.pack(">H", ncols) + b"\x00\x00" * ncols)


def copy_data(payload: bytes) -> bytes:
    return be(b"d", payload)


def copy_done() -> bytes:
    return be(b"c", b"")


# ------------------------------------------------------------ planning


def test_copy_out_sql_strings():
    assert copy_out_sql("public.items") == (
        'COPY (SELECT * FROM "public"."items") TO STDOUT '
        "(FORMAT csv, NULL '\\N')"
    )
    assert copy_out_sql(
        "items", columns=["id", "v"], where="id > 5"
    ) == (
        'COPY (SELECT "id", "v" FROM "items" WHERE id > 5) TO STDOUT '
        "(FORMAT csv, NULL '\\N')"
    )
    # reserved words and mixed case survive quoting (r8 verdict item 7)
    assert copy_out_sql("user", columns=["Select", "camelCase"]) == (
        'COPY (SELECT "Select", "camelCase" FROM "user") TO STDOUT '
        "(FORMAT csv, NULL '\\N')"
    )


def test_copy_shard_statements_are_exclusive_exhaustive():
    stmts = copy_shard_statements("public.orders", ["o_orderkey"], 4)
    assert len(stmts) == 4
    for i, s in enumerate(stmts):
        # the reference's server-side PK-hash formula, shard i
        assert f'abs(hashtext(row("o_orderkey")::text)) % 4 = {i}' in s
        assert s.startswith(
            'COPY (SELECT * FROM "public"."orders" WHERE '
        )


# ------------------------------------------------------- session flow


def test_copy_out_yields_payloads_and_ends_clean():
    fd = FakeDuplex(
        copy_out_resp()
        + copy_data(b"1,a\n2,")  # deliberately row-misaligned
        + copy_data(b"b\n")
        + copy_done()
        + cmd_complete(b"COPY 2")
        + ready()
    )
    sess = PgWireSession(fd.read, fd.write)
    chunks = list(sess.copy_out("COPY (SELECT 1) TO STDOUT (FORMAT csv)"))
    assert chunks == [b"1,a\n2,", b"b\n"]
    # the Query message went out
    assert bytes(fd.sent).startswith(b"Q")


def test_copy_out_on_non_copy_query_is_loud():
    fd = FakeDuplex(cmd_complete(b"SELECT 1") + ready())
    sess = PgWireSession(fd.read, fd.write)
    with pytest.raises(PgServerError, match="did not enter COPY OUT"):
        list(sess.copy_out("SELECT 1"))


# ------------------------------------------------------------- decode


def test_split_csv_rows_respects_quoted_newlines():
    # the last \n sits INSIDE a quoted field: the split must back off
    # to the previous row boundary
    buf = b'1,"line one\nline two\n'
    rows, rest = _split_csv_rows(buf)
    assert rows == b"" and rest == buf
    buf = b'0,plain\n1,"a\nb",x\n2,"unfinished\n'
    rows, rest = _split_csv_rows(buf)
    assert rows == b'0,plain\n1,"a\nb",x\n'
    assert rest == b'2,"unfinished\n'


def test_decode_copy_csv_types_nulls_and_batching(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("bal", T.DoubleType()),
            T.StructField("ok", T.BooleanType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("d", T.DateType()),
        ]
    )
    payload = (
        b'1,alice,10.5,t,2024-01-02 03:04:05.123456,2024-01-02\n'
        b'2,"qu""ote, comma\nnewline",\\N,f,\\N,\\N\n'
        b'3,"",0.25,t,2024-06-30 23:59:59,2024-06-30\n'
        b"4,\\N,-1,f,2024-01-01 00:00:00,2024-01-01\n"
    )
    # awkward chunking: splits inside quoted fields and numbers
    chunks = [payload[i:i + 7] for i in range(0, len(payload), 7)]
    frames = list(decode_copy_csv(iter(chunks), schema, batch_bytes=48))
    assert len(frames) > 1  # batching actually kicked in
    import pandas as pd

    pdf = pd.concat(frames, ignore_index=True)
    assert list(pdf["id"]) == [1, 2, 3, 4]
    assert pdf.loc[1, "name"] == 'qu"ote, comma\nnewline'
    assert pd.isna(pdf.loc[1, "bal"]) and bool(pdf.loc[1, "ok"]) is False
    assert pdf.loc[2, "name"] == ""  # quoted "" is EMPTY, not NULL
    assert pd.isna(pdf.loc[3, "name"])  # unquoted \N IS NULL
    assert pdf.loc[0, "ts"].microsecond == 123456
    assert str(pdf.loc[2, "d"]) == "2024-06-30"
    # and the frames convert to the Spark schema losslessly
    df = spark.createDataFrame(pdf, schema=schema)
    rows = {r.id: r for r in df.collect()}
    assert rows[3].name in (None, "")  # quoted-empty survives the hop
    assert rows[4].name is None and rows[3].bal == 0.25
    assert rows[2].name == 'qu"ote, comma\nnewline'


def test_decode_truncated_stream_is_loud():
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("id", T.LongType())])
    with pytest.raises(ValueError, match="mid-row"):
        list(decode_copy_csv(iter([b"1\n2"]), schema))


# ------------------------------------------------------------- e2e
# A real loopback server: pg_copy_snapshot's tasks dial it from the
# executor python workers (separate processes — nothing monkeypatched),
# authenticate, run their shard's COPY and parse the stream.


def _serve_copy_shards(srv: socket.socket, n_conns: int,
                       log: list | None = None):
    """Scripted PG: startup -> AuthOk -> ReadyForQuery -> setup Query
    messages answered with OK until the COPY arrives -> COPY OUT of
    the shard the query names. Every received SQL is appended to
    ``log`` (per-connection order preserved by tagging)."""
    shard_rows = {
        0: b'1,alice,10.5\n3,"c,d",\\N\n',
        1: b"2,bob,-0.25\n4,\\N,7\n",
    }

    def one(conn: socket.socket, conn_no: int):
        def recv_exact(n):
            out = b""
            while len(out) < n:
                b = conn.recv(n - len(out))
                if not b:
                    return out
                out += b
            return out

        from test_pg_session import data_row, row_desc

        (ln,) = struct.unpack(">I", recv_exact(4))
        recv_exact(ln - 4)  # StartupMessage body
        conn.sendall(auth(0) + ready())
        while True:
            tag = recv_exact(1)
            if not tag:
                return  # coordinator connection closed by the client
            assert tag == b"Q"
            (ln,) = struct.unpack(">I", recv_exact(4))
            sql = recv_exact(ln - 4).rstrip(b"\x00").decode()
            if log is not None:
                log.append((conn_no, sql))
            if sql.startswith("SELECT pg_current_wal_lsn"):
                conn.sendall(
                    row_desc([b"lsn"]) + data_row([b"0/AAA0"])
                    + cmd_complete() + ready()
                )
                continue
            if sql.startswith("SELECT pg_export_snapshot"):
                conn.sendall(
                    row_desc([b"pg_export_snapshot"])
                    + data_row([b"00000003-000001BC-1"])
                    + cmd_complete() + ready()
                )
                continue
            if not sql.startswith("COPY"):
                conn.sendall(cmd_complete(b"SET") + ready())
                continue
            shard = 0 if "% 2 = 0" in sql else 1
            payload = shard_rows[shard]
            conn.sendall(
                copy_out_resp(3)
                # split mid-row across CopyData messages on purpose
                + copy_data(payload[:9])
                + copy_data(payload[9:])
                + copy_done()
                + cmd_complete(b"COPY 2")
                + ready()
            )
            break
        conn.recv(1)  # hold until the client closes
        conn.close()

    for i in range(n_conns):
        conn, _addr = srv.accept()
        threading.Thread(target=one, args=(conn, i), daemon=True).start()


def test_pg_copy_snapshot_loopback_e2e(spark):
    from pyspark.sql import types as T

    from transferia_spark.sources.jdbc import shard_by_pk_hash

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    port = srv.getsockname()[1]
    t = threading.Thread(
        target=_serve_copy_shards, args=(srv, 2), daemon=True
    )
    t.start()

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("bal", T.DoubleType()),
        ]
    )
    df = pg_copy_snapshot(
        spark,
        live={
            "host": "127.0.0.1", "port": port,
            "user": "u", "database": "db", "timeout": 10.0,
        },
        table="public.items",
        schema=schema,
        predicates=shard_by_pk_hash(["id"], 2),
    )
    # one task per shard, no exchange in the plan
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.rdd.getNumPartitions() == 2
    rows = {r.id: (r.name, r.bal) for r in df.collect()}
    srv.close()
    assert rows == {
        1: ("alice", 10.5),
        3: ("c,d", None),
        2: ("bob", -0.25),
        4: (None, 7.0),
    }


def test_pgcopy_source_registry_load_table(spark):
    """The yaml-facing Source (type: pgcopy) plans PK-hash shards from
    its per-table config and loads through the executor-side COPY
    path — same loopback server, via the registry."""
    from transferia_spark.sources import build_source

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    port = srv.getsockname()[1]
    threading.Thread(
        target=_serve_copy_shards, args=(srv, 2), daemon=True
    ).start()

    src = build_source(
        "pgcopy",
        live={"host": "127.0.0.1", "port": port,
              "user": "u", "database": "db", "timeout": 10.0},
        tables={
            "public.items": {
                "schema": "id long, name string, bal double",
                "pk": ["id"],
                "n_shards": 2,
            }
        },
    )
    [tid] = src.table_list(spark)
    assert tid.fqtn() == "public.items"
    df = src.load_table(spark, tid)
    rows = {r.id: (r.name, r.bal) for r in df.collect()}
    srv.close()
    assert rows == {
        1: ("alice", 10.5), 3: ("c,d", None),
        2: ("bob", -0.25), 4: (None, 7.0),
    }


def test_wire_only_transfer_copy_snapshot_then_live_wal(
    spark, tmp_path, monkeypatch
):
    """The flagship wire-only transfer: SNAPSHOT_AND_INCREMENT whose
    snapshot seeds through the pgcopy source (executor tasks dialing a
    loopback COPY server — real sockets, nothing patched) and whose
    increment applies through the live pgwire drain (scripted duplex),
    one session layer end to end, no JDBC anywhere."""
    from test_pg_session import _live_script, _w2j

    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.streaming import pg_replication as pgr
    from transferia_spark.streaming.pg_replication import (
        encode_keepalive,
        encode_xlog_data,
    )
    from transferia_spark.tasks.replicate import run_replication

    # the COPY side: loopback server with two PK-hash shards
    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    port = srv.getsockname()[1]
    threading.Thread(
        target=_serve_copy_shards, args=(srv, 2), daemon=True
    ).start()

    # the WAL side: scripted live frames updating the snapshot rows
    catchup = [
        encode_xlog_data(0x10, 0x11,
                         _w2j("U", id=2, name="bob2", bal=-0.5)),
        encode_xlog_data(0x18, 0x19,
                         _w2j("I", id=9, name="new", bal=1.0)),
        encode_keepalive(0x20),
    ]
    dials = {"n": 0}

    def fake_dial(host, port, timeout=30.0):
        dials["n"] += 1
        frames = catchup if dials["n"] == 2 else [encode_keepalive(0x20)]
        pos = b"0/2" if dials["n"] == 1 else b"0/20"
        fd = FakeDuplex(_live_script(pos, frames), when_empty="block")
        return fd.read, fd.write, fd.close, fd.poll

    monkeypatch.setattr(pgr, "dial", fake_dial)

    wal = str(tmp_path / "wal")
    target = str(tmp_path / "target")
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src:
  type: pgcopy
  params:
    live: {{host: 127.0.0.1, port: {port}, user: u, database: db,
           timeout: 10.0}}
    tables:
      public.items:
        schema: "id long, name string, bal double"
        pk: [id]
        n_shards: 2
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: pgwire
    live: {{host: pg.example, user: repl, database: db, password: pw,
           slot: s1, idle_timeout: 0.01}}
    path: {wal}
    schema: "id long, name string, bal double"
  target: {{kind: bucketed, root: {target}, keys: [id], n_buckets: 4}}
""")
    run_replication(
        spark, spec, state_dir=str(tmp_path / "state"), once=True,
        retry_interval=0.0,
    )
    srv.close()

    from transferia_spark.streaming.bucketed_table import (
        BucketedParquetTable,
    )

    t = BucketedParquetTable(spark, target, keys=["id"], n_buckets=4)
    got = {r.id: r.asDict() for r in t.read().collect()}
    # snapshot rows 1-4 seeded over the wire; the WAL updated 2 and
    # inserted 9; untouched rows keep their COPY values
    assert set(got) == {1, 2, 3, 4, 9}
    assert got[1]["name"] == "alice" and got[1]["bal"] == 10.5
    assert got[3]["name"] == "c,d" and got[3]["bal"] is None
    assert got[2]["name"] == "bob2" and got[2]["bal"] == -0.5
    assert got[9]["name"] == "new" and got[9]["bal"] == 1.0
    assert dials["n"] >= 2


def test_decode_quoted_null_marker_is_data_not_null():
    """A DATA value equal to the NULL marker arrives quoted ("\\N") —
    PG quotes it for exactly this reason — and must survive as the
    literal two-character string while bare \\N decodes to NULL
    (review finding: pandas' na_values ignores quoting; the pyarrow
    reader does not)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    frames = list(decode_copy_csv(
        iter([b'1,\\N\n2,"\\N"\n3,plain\n']), schema
    ))
    import pandas as pd

    pdf = pd.concat(frames, ignore_index=True)
    assert pd.isna(pdf.loc[0, "v"])
    assert pdf.loc[1, "v"] == "\\N"
    assert pdf.loc[2, "v"] == "plain"


def test_snapshot_projects_explicit_schema_order_columns():
    """SELECT * would decode positionally against the YAML schema's
    names and silently shift values when the physical column order
    differs — the shipped statements must project explicitly."""
    from pyspark.sql import types as T

    from transferia_spark.sources.pg_copy import snapshot_statements

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    stmts = snapshot_statements("t", schema, predicates=["id > 0"])
    assert stmts == [
        'COPY (SELECT "id", "v" FROM "t" WHERE id > 0) TO STDOUT '
        "(FORMAT csv, NULL '\\N')"
    ]
    assert all("SELECT *" not in s for s in stmts)


def test_export_snapshot_coordinator_recipe():
    from test_pg_session import data_row, row_desc

    from transferia_spark.sources.pg_copy import export_snapshot

    fd = FakeDuplex(
        cmd_complete(b"BEGIN") + ready()
        + row_desc([b"pg_export_snapshot"])
        + data_row([b"00000003-000001BC-1"])
        + cmd_complete(b"SELECT 1") + ready()
    )
    sess = PgWireSession(fd.read, fd.write)
    assert export_snapshot(sess) == "00000003-000001BC-1"
    sent = bytes(fd.sent)
    assert b"BEGIN ISOLATION LEVEL REPEATABLE READ READ ONLY" in sent
    assert sent.index(b"REPEATABLE READ") < sent.index(
        b"pg_export_snapshot()"
    )


def test_pg_copy_snapshot_imports_exported_snapshot(spark):
    """Every shard connection must import the coordinator's snapshot
    id (BEGIN REPEATABLE READ + SET TRANSACTION SNAPSHOT) BEFORE its
    COPY — otherwise the N parallel streams each observe their own
    MVCC instant and a concurrent writer makes the shards disagree."""
    from pyspark.sql import types as T

    from transferia_spark.sources.jdbc import shard_by_pk_hash

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    port = srv.getsockname()[1]
    log: list = []
    threading.Thread(
        target=_serve_copy_shards, args=(srv, 2, log), daemon=True
    ).start()

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("bal", T.DoubleType()),
        ]
    )
    df = pg_copy_snapshot(
        spark,
        live={"host": "127.0.0.1", "port": port,
              "user": "u", "database": "db", "timeout": 10.0},
        table="public.items",
        schema=schema,
        predicates=shard_by_pk_hash(["id"], 2),
        snapshot_id="00000003-000001BC-1",
    )
    assert df.count() == 4
    srv.close()
    # per connection: BEGIN, SET TRANSACTION SNAPSHOT, then the COPY
    for conn_no in (0, 1):
        sqls = [s for c, s in log if c == conn_no]
        assert sqls[0].startswith("BEGIN ISOLATION LEVEL REPEATABLE")
        assert sqls[1] == (
            "SET TRANSACTION SNAPSHOT '00000003-000001BC-1'"
        )
        assert sqls[2].startswith("COPY (SELECT")


def test_exported_snapshot_context_manager(monkeypatch):
    from test_pg_session import data_row, row_desc

    from transferia_spark.sources.pg_copy import exported_snapshot
    from transferia_spark.streaming import pg_replication as pgr

    fd = FakeDuplex(
        auth(0) + ready()
        + cmd_complete(b"BEGIN") + ready()
        + row_desc([b"pg_export_snapshot"])
        + data_row([b"0003-1BC-2"])
        + cmd_complete(b"SELECT 1") + ready()
    )
    closed = []
    monkeypatch.setattr(
        pgr, "dial",
        lambda *a, **kw: (fd.read, fd.write,
                          lambda: closed.append(1), fd.poll),
    )
    with exported_snapshot(
        {"host": "h", "user": "u", "database": "d"}
    ) as snap:
        assert snap == "0003-1BC-2"
        assert not closed  # coordinator connection held open
    assert closed == [1]


def test_snapshot_position_recipe():
    from test_pg_session import data_row, row_desc

    from transferia_spark.sources.pg_copy import snapshot_position

    fd = FakeDuplex(
        row_desc([b"lsn"]) + data_row([b"0/1634FA0"])
        + cmd_complete(b"SELECT 1") + ready()
    )
    sess = PgWireSession(fd.read, fd.write)
    assert snapshot_position(sess) == "0/1634FA0"
    assert b"pg_current_wal_lsn()" in bytes(fd.sent)


def test_export_snapshot_with_position_orders_lsn_first():
    """Position BEFORE view: a commit between the two is in the
    snapshot AND replayed (duplicate, dedup absorbs); the reverse
    order would lose it (review finding — the original recipe was
    inverted)."""
    from test_pg_session import data_row, row_desc

    from transferia_spark.sources.pg_copy import (
        export_snapshot_with_position,
    )

    fd = FakeDuplex(
        row_desc([b"lsn"]) + data_row([b"0/1634FA0"])
        + cmd_complete(b"SELECT 1") + ready()
        + cmd_complete(b"BEGIN") + ready()
        + row_desc([b"pg_export_snapshot"])
        + data_row([b"00000003-000001BC-1"])
        + cmd_complete(b"SELECT 1") + ready()
    )
    sess = PgWireSession(fd.read, fd.write)
    snap, lsn = export_snapshot_with_position(sess)
    assert (snap, lsn) == ("00000003-000001BC-1", "0/1634FA0")
    sent = bytes(fd.sent)
    assert sent.index(b"pg_current_wal_lsn()") < sent.index(
        b"BEGIN ISOLATION"
    ) < sent.index(b"pg_export_snapshot()")


def test_snapshot_id_is_validated_before_interpolation(spark):
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("id", T.LongType())])
    with pytest.raises(ValueError, match="malformed snapshot id"):
        pg_copy_snapshot(
            spark, live={"host": "h", "user": "u", "database": "d"},
            table="t", schema=schema,
            snapshot_id="x'; DROP TABLE t; --",
        )


def test_pgcopy_source_consistent_one_snapshot_all_shards(spark):
    """live.consistent: the registry source dials ONE coordinator,
    exports a snapshot with the position captured FIRST, and every
    shard imports the id before its COPY."""
    from transferia_spark.sources import build_source

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    port = srv.getsockname()[1]
    log: list = []
    threading.Thread(
        target=_serve_copy_shards, args=(srv, 3, log), daemon=True
    ).start()

    src = build_source(
        "pgcopy",
        live={"host": "127.0.0.1", "port": port, "user": "u",
              "database": "db", "timeout": 10.0, "consistent": True},
        tables={
            "public.items": {
                "schema": "id long, name string, bal double",
                "pk": ["id"],
                "n_shards": 2,
            }
        },
    )
    [tid] = src.table_list(spark)
    df = src.load_table(spark, tid)
    assert df.count() == 4
    assert src.start_lsn == "0/AAA0"
    src.close()
    srv.close()
    # the coordinator (conn 0) captured the LSN before exporting
    coord = [s for c, s in log if c == 0]
    assert coord[0].startswith("SELECT pg_current_wal_lsn")
    assert coord[1].startswith("BEGIN ISOLATION")
    assert coord[2].startswith("SELECT pg_export_snapshot")
    # every shard imported the exported id before its COPY
    for conn_no in (1, 2):
        sqls = [s for c, s in log if c == conn_no]
        assert sqls[1] == (
            "SET TRANSACTION SNAPSHOT '00000003-000001BC-1'"
        )
        assert sqls[2].startswith("COPY (SELECT")


def test_decode_preserves_literal_nan_distinct_from_null():
    """'NaN'::float8 is a real PG value: it must stay NaN at the
    target while bare \\N stays NULL (review: the masked-dtype cast
    conflated them and silently rewrote NaNs to NULLs)."""
    import math

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("x", T.DoubleType())]
    )
    frames = list(decode_copy_csv(
        iter([b"1,NaN\n2,\\N\n3,-Infinity\n"]), schema
    ))
    pdf = frames[0]
    assert math.isnan(pdf.loc[0, "x"]) and not pdf["x"].isna()[0]
    assert pdf["x"].isna()[1]
    assert pdf.loc[2, "x"] == float("-inf")


def test_replicate_releases_consistent_coordinator(
    spark, tmp_path, monkeypatch
):
    """The verb path with live.consistent: the seed reads one exported
    MVCC instant across shards and the activation RELEASES the
    coordinator connection once the seed is materialized (holding the
    exporting transaction open for the stream's lifetime would pin
    vacuum horizons on the server)."""
    from test_pg_session import _live_script

    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.streaming import pg_replication as pgr
    from transferia_spark.streaming.pg_replication import encode_keepalive
    from transferia_spark.tasks.replicate import run_replication

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    port = srv.getsockname()[1]
    log: list = []
    threading.Thread(
        target=_serve_copy_shards, args=(srv, 3, log), daemon=True
    ).start()

    real_dial = pgr.dial

    def route_dial(host, p, timeout=30.0, **kw):
        if host == "127.0.0.1":
            return real_dial(host, p, timeout=timeout, **kw)
        fd = FakeDuplex(
            _live_script(b"0/2", [encode_keepalive(0x20)]),
            when_empty="block",
        )
        return fd.read, fd.write, fd.close, fd.poll

    monkeypatch.setattr(pgr, "dial", route_dial)
    wal = str(tmp_path / "wal")
    target = str(tmp_path / "target")
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src:
  type: pgcopy
  params:
    live: {{host: 127.0.0.1, port: {port}, user: u, database: db,
           timeout: 10.0, consistent: true}}
    tables:
      public.items:
        schema: "id long, name string, bal double"
        pk: [id]
        n_shards: 2
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: pgwire
    live: {{host: pg.example, user: repl, database: db, password: pw,
           slot: s1, idle_timeout: 0.01}}
    path: {wal}
    schema: "id long, name string, bal double"
  target: {{kind: bucketed, root: {target}, keys: [id], n_buckets: 4}}
""")
    run_replication(
        spark, spec, state_dir=str(tmp_path / "state"), once=True,
        retry_interval=0.0,
    )
    srv.close()
    from transferia_spark.streaming.bucketed_table import (
        BucketedParquetTable,
    )

    t = BucketedParquetTable(spark, target, keys=["id"], n_buckets=4)
    assert t.read().count() == 4
    # coordinator released after the seed; position captured FIRST
    assert spec.src._snapshot_id is None
    assert spec.src.start_lsn == "0/AAA0"
    coord = [s for c, s in log if c == 0]
    assert coord[0].startswith("SELECT pg_current_wal_lsn")
    shard_sqls = [s for c, s in log if c in (1, 2)]
    assert any(s.startswith("SET TRANSACTION SNAPSHOT") for s in shard_sqls)
