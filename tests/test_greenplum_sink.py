"""Greenplum gpfdist load sink: TEXT staging files, external-table DDL,
transactional temp-table commit sequence (SQL captured by a recorder —
no Greenplum in this environment)."""

from __future__ import annotations

import glob

import pytest

from transferia_spark.schema.colschema import TableID
from transferia_spark.sinks.base import CleanupPolicy, build_sink


@pytest.fixture()
def rec():
    return []


def _sink(tmp_path, rec, **kw):
    return build_sink(
        "greenplum_gpfdist",
        staging_dir=str(tmp_path / "stage"),
        gpfdist_urls=["gpfdist://etl1:8080", "gpfdist://etl2:8080"],
        sql_executor=rec.append,
        **kw,
    )


def test_write_stages_text_and_runs_load_sequence(spark, tmp_path, rec):
    df = spark.createDataFrame(
        [(1, "plain", 1.5), (2, "tab\there", None), (3, None, 2.5)],
        "id long, name string, score double",
    ).coalesce(2)
    _sink(tmp_path, rec).write(df, TableID("sales", "orders"))

    # staged TEXT parts: tab-separated, \N nulls, tab escaped
    lines = []
    for p in glob.glob(str(tmp_path / "stage" / "orders" / "part-*")):
        lines += open(p).read().splitlines()
    by_id = {ln.split("\t")[0]: ln for ln in lines}
    assert by_id["1"] == "1\tplain\t1.5"
    assert by_id["2"].startswith("2\ttab\\there")  # tab escaped in value
    assert by_id["3"] == "3\t\\N\t2.5"

    sql = rec
    ext = '"sales"."ext_orders"'
    # unqualified: CREATE TEMPORARY TABLE rejects schema-qualified names
    tmp = '"tmp_sales_orders"'
    target = '"sales"."orders"'
    create_ext = next(q for q in sql if q.startswith("CREATE READABLE EXTERNAL"))
    assert ext in create_ext
    assert '"id" bigint' in create_ext and '"score" double precision' in create_ext
    assert "'gpfdist://etl1:8080/orders/*', 'gpfdist://etl2:8080/orders/*'" in create_ext
    assert "FORMAT 'TEXT'" in create_ext
    # load sequence: ext → tmp, then transactional tmp → target swap
    i_ext = sql.index(f'INSERT INTO {tmp}("id", "name", "score") '
                      f'SELECT "id", "name", "score" FROM {ext}')
    i_begin = sql.index("BEGIN")
    i_tgt = sql.index(f'INSERT INTO {target}("id", "name", "score") '
                      f'SELECT "id", "name", "score" FROM {tmp}')
    i_commit = sql.index("COMMIT")
    assert i_ext < i_begin < i_tgt < i_commit
    assert any(q.startswith(f"DROP TABLE IF EXISTS {tmp}") for q in sql)


def test_generated_columns_excluded(spark, tmp_path, rec):
    df = spark.createDataFrame([(1, "x", "gen")], "id long, v string, total string")
    _sink(tmp_path, rec, generated_cols=["total"]).write(df, TableID("", "t"))
    ins = [q for q in rec if q.startswith("INSERT INTO")]
    assert all('"total"' not in q for q in ins)  # ≈ InsertQueryColumns


def test_cleanup_policies(tmp_path, rec):
    s = _sink(tmp_path, rec)
    s.cleanup(TableID("", "t"), CleanupPolicy.DROP)
    assert rec[-1] == 'DROP TABLE IF EXISTS "public"."t"'
    s.cleanup(TableID("", "t"), CleanupPolicy.TRUNCATE)
    assert rec[-1] == 'TRUNCATE TABLE "public"."t"'
    n = len(rec)
    s.cleanup(TableID("", "t"), CleanupPolicy.DISABLED)
    assert len(rec) == n


def test_missing_executor_is_gated(tmp_path):
    sink = build_sink("greenplum_gpfdist", staging_dir=str(tmp_path))
    with pytest.raises(NotImplementedError, match="sql_executor"):
        sink.cleanup(TableID("", "t"), CleanupPolicy.DROP)


def test_concurrent_tables_keep_load_sequences_contiguous(spark, sf_dir, tmp_path):
    """Tables written from activate()'s pool share one control-plane
    session: each table's load sequence (BEGIN … COMMIT) and cleanup
    run without another table's statements in between."""
    import time

    from transferia_spark.plans.transfer import TransferSpec, activate
    from transferia_spark.sinks.greenplum import ext_name
    from transferia_spark.sources.files import FileSource

    stmts: list[str] = []

    def slow_rec(q):
        stmts.append(q)
        time.sleep(0.05)  # widen the window for an interleaving

    tables = ["region", "nation"]
    sink = build_sink(
        "greenplum_gpfdist", staging_dir=str(tmp_path / "stage"), sql_executor=slow_rec
    )
    spec = TransferSpec(
        src=FileSource(path=sf_dir, format="parquet", tables=tables), dst=sink
    )
    activate(spark, spec, process_count=2)
    for t in tables:
        drop_ext = f"DROP EXTERNAL TABLE IF EXISTS {ext_name(TableID('', t))}"
        i = stmts.index(drop_ext)
        seq = stmts[i:i + 9]
        assert seq[-1] == drop_ext, stmts
        assert all(q in ("BEGIN", "COMMIT") or t in q for q in seq), stmts


def test_greenplum_live_control_plane_e2e(spark, tmp_path):
    """r10 (r9 verdict next #3): the WHOLE load path self-contained and
    live — Spark stages TEXT parts, the sink's OWN GpfdistServer serves
    them, and the DDL + INSERT...SELECT control sequence runs over the
    repo's own PG wire session (GP speaks PG wire) against a scripted
    loopback master. The master acts as the segments: on the ext→tmp
    INSERT it pulls the staged rows over gpfdist proto-1 from the
    LOCATION the DDL named — proving stage → serve → DDL+INSERT
    round-trips. The unload POST path round-trips against the same
    server (≈ gpfdist_table_sink.go + ddl_operations.go)."""
    import socket
    import struct
    import threading
    import urllib.request

    from test_pg_session import auth, cmd_complete, ready

    from transferia_spark.sinks.gpfdist_server import decode_gpfdist_blocks

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(2)
    port = srv.getsockname()[1]
    log: list = []
    pulled: list = []
    state: dict = {}

    def master():
        conn, _ = srv.accept()

        def recv_exact(n):
            out = b""
            while len(out) < n:
                b = conn.recv(n - len(out))
                if not b:
                    return out
                out += b
            return out

        (ln,) = struct.unpack(">I", recv_exact(4))
        recv_exact(ln - 4)  # StartupMessage body
        conn.sendall(auth(0) + ready())
        while True:
            tag = recv_exact(1)
            if not tag:
                conn.close()
                return
            assert tag == b"Q"
            (ln,) = struct.unpack(">I", recv_exact(4))
            sql = recv_exact(ln - 4).rstrip(b"\x00").decode()
            log.append(sql)
            if sql.startswith("CREATE READABLE EXTERNAL TABLE"):
                # remember the gpfdist LOCATION the DDL names
                loc = sql.split("LOCATION ('")[1].split("'")[0]
                state["loc"] = loc
            if sql.startswith('INSERT INTO "tmp_'):
                # act as the segments: parallel proto-1 pulls from the
                # sink's own gpfdist server at the DDL's LOCATION
                hostport, path = state["loc"][len("gpfdist://"):].split(
                    "/", 1
                )
                for seg in (0, 1):
                    req = urllib.request.Request(
                        f"http://{hostport}/{path}"
                    )
                    req.add_header("X-GP-PROTO", "1")
                    req.add_header("X-GP-SEGMENT-ID", str(seg))
                    req.add_header("X-GP-SEGMENT-COUNT", "2")
                    with urllib.request.urlopen(req, timeout=10) as r:
                        for _n, data in decode_gpfdist_blocks(r.read()):
                            pulled.extend(
                                data.decode().splitlines()
                            )
            conn.sendall(cmd_complete(b"OK") + ready())

    t = threading.Thread(target=master, daemon=True)
    t.start()

    sink = build_sink(
        "greenplum_gpfdist",
        staging_dir=str(tmp_path / "stage"),
        live={"host": "127.0.0.1", "port": port, "user": "gp",
              "database": "db", "timeout": 10.0},
        serve_staging=True,
    )
    try:
        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None)], "id long, v string"
        ).coalesce(2)
        sink.write(df, TableID("sales", "orders"))
        # the fake segments pulled EXACTLY the staged rows through the
        # sink's own gpfdist server
        assert sorted(pulled) == ["1\ta", "2\tb", "3\t\\N"]
        # full control sequence, in order, over one wire session
        heads = [q.split("(")[0].strip() for q in log]
        assert heads == [
            'DROP EXTERNAL TABLE IF EXISTS "sales"."ext_orders"',
            'CREATE READABLE EXTERNAL TABLE "sales"."ext_orders"',
            'CREATE TEMPORARY TABLE "tmp_sales_orders" AS SELECT * '
            'FROM "sales"."orders" LIMIT 0',
            'INSERT INTO "tmp_sales_orders"',
            "BEGIN",
            'INSERT INTO "sales"."orders"',
            'DROP TABLE IF EXISTS "tmp_sales_orders"',
            "COMMIT",
            'DROP EXTERNAL TABLE IF EXISTS "sales"."ext_orders"',
        ]
        assert state["loc"].endswith("/orders/*")
        # unload POST path round-trips against the same server
        req = urllib.request.Request(
            f"http://127.0.0.1:{sink._server.port}/unload/orders",
            data=b"9\tz\n", method="POST",
        )
        req.add_header("X-GP-SEGMENT-ID", "0")
        req.add_header("X-GP-SEQ", "0")
        urllib.request.urlopen(req, timeout=10).read()
        assert (
            tmp_path / "stage" / "unload" / "orders" / "seg0.txt"
        ).read_bytes() == b"9\tz\n"
    finally:
        sink.close()
        srv.close()
        t.join(timeout=10)


# --------------------------------------------------------------------------
# gpfdist protocol server (r9): the repo's own data plane — framing,
# segment distribution, loopback load + unload over real sockets.
# --------------------------------------------------------------------------


def _segment_get(port: int, path: str, seg: int, n: int,
                 proto: int = 1) -> bytes:
    import urllib.request

    req = urllib.request.Request(f"http://127.0.0.1:{port}/{path}")
    req.add_header("X-GP-PROTO", str(proto))
    req.add_header("X-GP-SEGMENT-ID", str(seg))
    req.add_header("X-GP-SEGMENT-COUNT", str(n))
    with urllib.request.urlopen(req, timeout=10) as resp:
        assert resp.headers["X-GP-PROTO"] == str(proto)
        return resp.read()


def test_gpfdist_frame_roundtrip():
    from transferia_spark.sinks.gpfdist_server import (
        decode_gpfdist_blocks,
        encode_gpfdist_blocks,
    )

    body = encode_gpfdist_blocks("t/p1.txt", b"1\ta\n2\tb\n", final=True)
    # F + O + L + D + empty D
    assert body[:1] == b"F" and body.endswith(b"D\x00\x00\x00\x00")
    assert decode_gpfdist_blocks(body) == [("t/p1.txt", b"1\ta\n2\tb\n")]


def test_gpfdist_server_distributes_files_exactly_once(spark, tmp_path):
    """Loopback load path: Spark stages TEXT parts, fake segments GET
    their shares — disjoint, exhaustive, reassembling to the exact
    staged rows (both protocol versions)."""
    from transferia_spark.schema.colschema import TableID
    from transferia_spark.sinks.gpfdist_server import (
        GpfdistServer,
        decode_gpfdist_blocks,
    )
    from transferia_spark.sinks.greenplum import GreenplumGpfdistSink

    staging = str(tmp_path / "stage")
    sink = GreenplumGpfdistSink(staging_dir=staging, sql_executor=lambda q: None)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "id long, v string"
    ).repartition(4)
    sink.stage(df, TableID("public", "items"))

    srv = GpfdistServer(staging)
    try:
        all_lines: list[str] = []
        names_by_seg = []
        for seg in (0, 1):
            body = _segment_get(srv.port, "items/*", seg, 2)
            parts = decode_gpfdist_blocks(body)
            names_by_seg.append({n for n, _d in parts})
            for _n, data in parts:
                all_lines += data.decode().splitlines()
        # disjoint and exhaustive across segments
        assert not (names_by_seg[0] & names_by_seg[1])
        got = sorted(ln.split("\t") for ln in all_lines if ln)
        assert got == sorted([str(i), f"v{i}"] for i in range(50))
        # proto 0: raw bytes of this segment's share
        raw = _segment_get(srv.port, "items/*", 0, 2, proto=0)
        assert raw  # same data, unframed
        # path traversal is refused
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/../../etc/passwd"
        )
        try:
            urllib.request.urlopen(req, timeout=10)
            raised = False
        except urllib.error.HTTPError as e:
            raised = e.code in (403, 404)
        assert raised
    finally:
        srv.close()


def test_gpfdist_server_unload_post_path(tmp_path):
    """Writable-table direction: segments POST their rows; one file
    per segment, chunks appended in stream order."""
    import urllib.request

    from transferia_spark.sinks.gpfdist_server import GpfdistServer

    srv = GpfdistServer(str(tmp_path))
    try:
        for seg, chunks in ((0, [b"1\ta\n", b"2\tb\n"]), (1, [b"3\tc\n"])):
            for i, c in enumerate(chunks):
                req = urllib.request.Request(
                    f"http://127.0.0.1:{srv.port}/unload/items",
                    data=c, method="POST",
                )
                req.add_header("X-GP-PROTO", "1")
                req.add_header("X-GP-SEGMENT-ID", str(seg))
                req.add_header("X-GP-SEQ", str(i))
                urllib.request.urlopen(req, timeout=10).read()
        base = tmp_path / "unload" / "items"
        assert (base / "seg0.txt").read_bytes() == b"1\ta\n2\tb\n"
        assert (base / "seg1.txt").read_bytes() == b"3\tc\n"
    finally:
        srv.close()


def test_gpfdist_proto0_streams_multi_file_share(tmp_path):
    """r10: proto-0 now streams file-by-file like proto-1 (no
    whole-share concatenation in memory) — the body must still be the
    exact concatenation of the segment's files in sorted order, and a
    file deleted between glob and open must yield a 500, not a torn
    response."""
    import urllib.error
    import urllib.request

    from transferia_spark.sinks.gpfdist_server import GpfdistServer

    d = tmp_path / "t"
    d.mkdir()
    (d / "p1.txt").write_bytes(b"1\ta\n")
    (d / "p2.txt").write_bytes(b"2\tb\n")
    (d / "p3.txt").write_bytes(b"3\tc\n")
    (d / "_SUCCESS").write_bytes(b"")  # empty marker: skipped
    srv = GpfdistServer(str(tmp_path))
    try:
        body = _segment_get(srv.port, "t/*", 0, 1, proto=0)
        assert body == b"1\ta\n2\tb\n3\tc\n"
        # missing file → clean 500 before any body bytes (delete AFTER
        # the split so the isfile filter can't silently absorb it)
        import transferia_spark.sinks.gpfdist_server as mod

        saved = mod.segment_files

        def fake_split(files, seg, n):
            out = saved(files, seg, n)
            (d / "p2.txt").unlink(missing_ok=True)
            return out

        mod.segment_files = fake_split
        try:
            try:
                _segment_get(srv.port, "t/*", 0, 1, proto=0)
                code = 200
            except urllib.error.HTTPError as e:
                code = e.code
            assert code == 500
        finally:
            mod.segment_files = saved
    finally:
        srv.close()


def test_gpfdist_post_retransmit_dedup_and_bad_segment(tmp_path):
    """code-review r9 session 2: a re-POSTed chunk (same X-GP-SEQ — the
    lost-response retry) must not append twice, and an out-of-range
    segment id must be refused (it would slice an overlapping share)."""
    import urllib.error
    import urllib.request

    from transferia_spark.sinks.gpfdist_server import GpfdistServer

    srv = GpfdistServer(str(tmp_path))
    try:
        def post(seq, data):
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/unload/t", data=data,
                method="POST",
            )
            req.add_header("X-GP-SEGMENT-ID", "0")
            req.add_header("X-GP-SEQ", str(seq))
            urllib.request.urlopen(req, timeout=10).read()

        post(0, b"1\ta\n")
        post(0, b"1\ta\n")  # retransmit: deduped
        post(1, b"2\tb\n")
        assert (tmp_path / "unload" / "t" / "seg0.txt").read_bytes() == (
            b"1\ta\n2\tb\n"
        )
        # ADVICE r9 crash window: simulate a crash mid-append of seq 2
        # (journal written, data file carries a partial chunk) — the
        # segment's replay of seq 2 must truncate the partial bytes
        # back to the journaled pre-append length before re-appending
        seg_file = tmp_path / "unload" / "t" / "seg0.txt"
        seq_file = tmp_path / "unload" / "t" / "seg0.seq"
        pre = seg_file.stat().st_size
        seq_file.write_text(f"2 {pre}")
        with open(seg_file, "ab") as fh:
            fh.write(b"3\tpartial")  # torn append, no response sent
        post(2, b"3\tc\n")  # the retry
        assert seg_file.read_bytes() == b"1\ta\n2\tb\n3\tc\n"
        post(2, b"3\tc\n")  # plain lost-response retransmit: still one copy
        assert seg_file.read_bytes() == b"1\ta\n2\tb\n3\tc\n"
        post(3, b"4\td\n")  # stream continues past the recovered chunk
        assert seg_file.read_bytes() == b"1\ta\n2\tb\n3\tc\n4\td\n"
        # out-of-range segment id → 400
        req = urllib.request.Request(f"http://127.0.0.1:{srv.port}/x")
        req.add_header("X-GP-SEGMENT-ID", "2")
        req.add_header("X-GP-SEGMENT-COUNT", "2")
        try:
            urllib.request.urlopen(req, timeout=10)
            code = 200
        except urllib.error.HTTPError as e:
            code = e.code
        assert code == 400
    finally:
        srv.close()
