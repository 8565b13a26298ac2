import json
import os
import sqlite3

import pytest

from transferia_spark.plans import TransferSpec, TransferType, activate
from transferia_spark.operators import Transformation, build
from transferia_spark.schema.colschema import TableID
from transferia_spark.sinks import CleanupPolicy, build_sink
from transferia_spark.sinks.jdbc import delete_sql, upsert_sql
from transferia_spark.sources import (
    IncrementalState,
    build_source,
    shard_by_numeric_range,
    shard_by_pk_hash,
)
from transferia_spark.sources.jdbc import part_count


def test_shard_predicates_cover_and_exclude():
    preds = shard_by_pk_hash(["id", "name"], 4)
    assert len(preds) == 4
    assert preds[0] == "abs(hashtext(row(id, name)::text)) % 4 = 0"
    mysql = shard_by_pk_hash(["id"], 2, dialect="mysql")
    assert "crc32" in mysql[0]

    ranges = shard_by_numeric_range("id", 0, 99, 4)
    assert ranges[0] == "id >= 0 AND id <= 24"
    assert ranges[-1].endswith("id <= 99")
    # contiguous, non-overlapping
    bounds = [tuple(int(s) for s in p.replace("id >= ", "").replace(" AND id <= ", ",").split(",")) for p in ranges]
    for (_, hi), (lo2, _) in zip(bounds, bounds[1:]):
        assert lo2 == hi + 1


def test_part_count():
    assert part_count(10) == 1
    assert part_count(5_000_000) == 5
    assert part_count(10**12) == 1000  # capped


def test_file_source_line_and_regex(spark, tmp_path):
    p = tmp_path / "log.txt"
    p.write_text(
        '1.2.3.4 - alice [01/Jan/2024:00:00:01 +0000] "GET /x HTTP/1.1" 200 123 "-" "curl"\n'
        "garbage line\n"
    )
    src = build_source("file", path=str(p), format="nginx")
    df = src.load_table(spark, TableID("", "log"))
    rows = df.collect()
    ok = [r for r in rows if r["_unparsed_raw"] is None]
    bad = [r for r in rows if r["_unparsed_raw"] is not None]
    assert len(ok) == 1 and len(bad) == 1
    assert ok[0]["remote_addr"] == "1.2.3.4"
    assert ok[0]["status"] == 200
    assert ok[0]["bytes_sent"] == 123
    assert bad[0]["_unparsed_raw"] == "garbage line"


def test_file_source_and_load_tables_share_one_schema_cache(spark, tmp_path):
    """FileSource.load_table and session.load_tables resolve a local
    parquet file's schema through one cache entry; a rewritten file
    (new mtime/size) and other reader options infer afresh."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from transferia_spark import session
    from transferia_spark.sources.files import FileSource

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)

    def entries():
        return [k for k in session._SCHEMA_CACHE if k[0] == os.path.abspath(path)]

    src = FileSource(path=str(tmp_path), format="parquet", tables=["t"])
    assert src.load_table(spark, TableID("", "t")).columns == ["a"]
    assert len(entries()) == 1
    assert session.load_tables(spark, str(tmp_path), tables=["t"])["t"].count() == 2
    assert len(entries()) == 1  # same key: nanosAsLong on in both
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    os.utime(path, ns=(1, 1))
    assert src.load_table(spark, TableID("", "t")).columns == ["a", "b"]
    with_opts = FileSource(path=str(tmp_path), format="parquet", tables=["t"],
                           options={"mergeSchema": "false"})
    assert with_opts.load_table(spark, TableID("", "t")).count() == 3
    assert len(entries()) == 3


def test_sample_source_deterministic(spark):
    src = build_source("sample", rows=100, seed=7)
    a = src.load_table(spark, TableID("sample", "iot")).collect()
    b = src.load_table(spark, TableID("sample", "iot")).collect()
    assert a == b
    assert len(a) == 100


def test_incremental_state(tmp_path, spark):
    state = IncrementalState(str(tmp_path / "state.json"))
    assert state.get("t") is None
    state.set("t", 42, "bigint")
    assert state.get("t") == (42, "bigint")
    from transferia_spark.sources.incremental import cursor_type_of, incremental_read

    df = spark.range(0, 100).withColumnRenamed("id", "cur")
    delta, new_cursor = incremental_read(df, "cur", state, "t")
    assert delta.count() == 57  # 43..99
    assert new_cursor == 99  # typed, not stringified
    assert cursor_type_of(df, "cur") == "bigint"
    # legacy bare-string state entries still work (compared via cast)
    import json as _json

    data = _json.load(open(state.path))
    data["legacy"] = "42"
    _json.dump(data, open(state.path, "w"))
    assert state.get("legacy") == ("42", None)
    delta2, _ = incremental_read(df, "cur", state, "legacy")
    assert delta2.count() == 57


def test_activate_end_to_end(spark, tmp_path, sf_dir):
    """The trcli-activate path: parquet src → chain → parquet sink."""
    src = build_source("file", path=f"{sf_dir}/lineitem.parquet", format="parquet")
    dst = build_sink("file", path=str(tmp_path / "out"))
    chain = Transformation().add(build("filter_rows", filters=["l_quantity > 25"]))
    spec = TransferSpec(src=src, dst=dst, transformation=chain)
    activate(spark, spec)
    out = spark.read.parquet(str(tmp_path / "out" / "lineitem"))
    assert out.count() == out.filter("l_quantity > 25").count()
    assert out.count() > 0


def test_upsert_sql_dialects():
    pg = upsert_sql("postgres", "t", ["id", "v"], ["id"])
    assert 'ON CONFLICT ("id") DO UPDATE SET "v" = EXCLUDED."v"' in pg
    my = upsert_sql("mysql", "t", ["id", "v"], ["id"])
    assert "ON DUPLICATE KEY UPDATE" in my
    assert "`id`" in my  # mysql backtick quoting
    assert delete_sql("sqlite", "t", ["id"]) == 'DELETE FROM t WHERE "id" = ?'
    # identifiers are quoted, not interpolated raw: embedded quote escaped
    assert '"evil""x"' in upsert_sql("postgres", "t", ['evil"x', "id"], ["id"])
    with pytest.raises(ValueError):
        delete_sql("postgres", "t", ["bad\nident\x00"])


def test_jdbc_sink_sqlite_cdc(spark, tmp_path):
    """CDC apply through a real DB-API connection (sqlite)."""
    db = str(tmp_path / "t.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE tgt (id INTEGER PRIMARY KEY, v TEXT)")
    conn.execute("INSERT INTO tgt VALUES (1, 'old'), (2, 'stay')")
    conn.commit()
    conn.close()

    batch = spark.createDataFrame(
        [
            (1, "new", "u", 10, 0),
            (3, "born", "i", 11, 0),
            (2, None, "d", 12, 0),
        ],
        "id int, v string, _op string, _lsn long, _counter int",
    ).coalesce(1)

    sink = build_sink("jdbc_upsert", connect=lambda: sqlite3.connect(db), dialect="sqlite")
    sink.write_cdc(batch, TableID("", "tgt"), keys=["id"])

    got = dict(sqlite3.connect(db).execute("SELECT id, v FROM tgt").fetchall())
    assert got == {1: "new", 3: "born"}


def test_gated_connectors_registered_and_fail_cleanly(spark, sf_dir):
    """kafka sink / delta source are registered but gate on their
    external jars with an actionable error, never executor-side."""
    from transferia_spark.schema.colschema import TableID
    from transferia_spark.sinks.base import build_sink
    from transferia_spark.sources.base import build_source

    kafka = build_sink("kafka", bootstrap_servers="localhost:9092")
    df = spark.range(1)
    with pytest.raises(NotImplementedError, match="spark-sql-kafka"):
        kafka.write(df, TableID("", "t"))

    # without the jar the source falls back to the pure-Python log
    # replay, which rejects a non-delta path by its missing _delta_log
    delta = build_source("delta", path=f"{sf_dir}/nation.parquet")
    with pytest.raises(FileNotFoundError, match="_delta_log"):
        delta.load_table(spark, TableID("", "nation"))


def test_expand_partitions_multi_level():
    """≈ storage_partition_expander.go: parents replaced by leaf
    descendants (transitively), plain tables untouched, no dupes."""
    from transferia_spark.schema.colschema import TableID
    from transferia_spark.sources.jdbc import JdbcSource, expand_partitions

    p = TableID("public", "events")
    c1, c2 = TableID("public", "events_2024"), TableID("public", "events_2025")
    g1 = TableID("public", "events_2024_q1")
    plain = TableID("public", "plain")
    got = expand_partitions([p, plain, c2], {p: [c1, c2], c1: [g1]})
    # leaves only; parent and intermediate level gone; c2 deduped
    assert set(got) == {g1, c2, plain}
    assert len(got) == 3
    assert "pg_inherits" in JdbcSource.PARTITION_CHILDREN_SQL
