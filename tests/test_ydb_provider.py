"""YDB provider: storage planning (schema mapping, path rules, key-range
shards) and sink planning (YQL upsert/delete/DDL, RPC chunking). Mirrors
the reference's own cases (``pkg/providers/ydb/model_source_test.go``,
``schema_test.go``, ``sink_test.go``); transport is injected — no YDB in
this environment."""

from __future__ import annotations

import json
import tempfile

import pytest

from transferia_spark.cdc.changeitem import COUNTER_COL, LSN_COL, OP_COL
from transferia_spark.schema.colschema import TableID
from transferia_spark.sinks.base import CleanupPolicy, build_sink
from transferia_spark.sinks.ydb import (
    WRITE_BATCH_MAX_LEN,
    create_table_query,
    delete_query,
    insert_query,
    split_to_chunks,
    ydb_type,
)
from transferia_spark.sources.base import build_source
from transferia_spark.sources.ydb import (
    COPY_FOLDER,
    from_ydb_schema,
    key_range_units,
    parse_ydb_type,
    rel_path,
    snapshot_copy_plan,
    validate_table_list,
)

# ------------------------------------------------------------- storage


def test_parse_ydb_type_optionality_and_params():
    assert parse_ydb_type("Optional<Int32>") == ("int32", False, "ydb:Int32")
    assert parse_ydb_type("Int64?") == ("int64", False, "ydb:Int64")
    assert parse_ydb_type("Utf8") == ("utf8", True, "ydb:Utf8")
    # parameterized types strip their args (schema.go:23-25)
    assert parse_ydb_type("Decimal(22,9)") == ("utf8", True, "ydb:Decimal")
    assert parse_ydb_type("Optional<Decimal(22,9)>") == ("utf8", False, "ydb:Decimal")
    # String is bytes; unknown containers degrade to any
    assert parse_ydb_type("String")[0] == "string"
    assert parse_ydb_type("List<Int32>")[0] == "any"


def test_from_ydb_schema_keys_first_in_key_order():
    cols = [("v", "Utf8"), ("b", "Int64"), ("a", "Int32"), ("t", "Timestamp")]
    ts = from_ydb_schema(cols, keys=["b", "a"])
    assert ts.column_names() == ["b", "a", "v", "t"]
    assert ts.key_names() == ["b", "a"]
    assert ts.get("b").primary_key and not ts.get("v").primary_key
    assert ts.get("a").original_type == "ydb:Int32"


@pytest.mark.parametrize(
    "use_full, folders, table, want",
    [
        # root / plain table (model_source_test.go:78-99)
        (True, [], "/abc", "abc"),
        (False, [], "/abc", "abc"),
        (False, ["abc"], "/abc", "abc"),
        (False, ["/abc"], "/abc", "abc"),
        # top-level dir keeps its own name (…:103-130)
        (False, ["/dir1"], "/dir1/abc", "dir1/abc"),
        (False, ["dir1/"], "/dir1/abc", "dir1/abc"),
        (True, ["/dir1"], "/dir1/abc", "dir1/abc"),
        # nested dir: folder's basename is the prefix (…:136-162)
        (False, ["/dir1/dir2"], "/dir1/dir2/abc", "dir2/abc"),
        (False, ["dir1/dir2/"], "/dir1/dir2/abc", "dir2/abc"),
        (True, ["/dir1/dir2"], "/dir1/dir2/abc", "dir1/dir2/abc"),
    ],
)
def test_rel_path_reference_cases(use_full, folders, table, want):
    assert rel_path(use_full, folders, table) == want


def test_validate_table_list_duplicate_relative_paths():
    # two nested dirs collapse onto the same relative name → error that
    # names the use_full_paths remedy (storage.go:133-137)
    with pytest.raises(ValueError, match="use_full_paths"):
        validate_table_list(
            False,
            ["/a/shared", "/b/shared"],
            ["a/shared/t", "b/shared/t"],
        )
    # full-path duplicates are errors outright
    with pytest.raises(ValueError, match="duplicated paths"):
        validate_table_list(True, [], ["x/t", "x/t"])
    # use_full_paths resolves the collision
    validate_table_list(True, [], ["a/shared/t", "b/shared/t"])


def test_snapshot_copy_plan_flattens_into_copy_folder():
    plan = snapshot_copy_plan("/db", ["dir1/users", "events"])
    assert plan == [
        ("/db/dir1/users", f"/db/{COPY_FOLDER}/dir1_users"),
        ("/db/events", f"/db/{COPY_FOLDER}/events"),
    ]


def test_key_range_units():
    assert key_range_units([]) == [(None, None)]
    assert key_range_units([5, 10]) == [(None, 5), (5, 10), (10, None)]


def test_storage_load_table_fans_out_key_ranges(spark):
    """Synthetic per-range reader: rows from all ranges union, each range
    read exactly once (one Spark task per YDB shard)."""
    data = {  # shard ranges over id: (-inf,5), [5,10), [10,inf)
        (None, 5): [{"id": i, "v": f"a{i}"} for i in range(0, 5)],
        (5, 10): [{"id": i, "v": f"a{i}"} for i in range(5, 10)],
        (10, None): [{"id": i, "v": f"a{i}"} for i in range(10, 13)],
    }

    def reader(table_path, lo, hi, columns):
        assert table_path == "/db/users"
        assert columns == ["id", "v"]
        return data[(lo, hi)]

    src = build_source("ydb", database="/db", tables=["users"], reader=reader)
    schema = from_ydb_schema([("id", "Int64"), ("v", "Optional<Utf8>")], ["id"])
    out = src.load_table(
        spark, TableID("", "users"), schema, key_bounds=[5, 10]
    )
    rows = {(r.id, r.v) for r in out.collect()}
    assert rows == {(i, f"a{i}") for i in range(13)}
    # one task per key range without a sampling job or a shuffle
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    assert out.rdd.getNumPartitions() == 3
    assert src.table_list(spark) == [TableID("", "users")]


def test_storage_without_transport_raises_with_remedy(spark):
    src = build_source("ydb", database="/db", tables=["users"])
    schema = from_ydb_schema([("id", "Int64")], ["id"])
    with pytest.raises(Exception, match="ydb"):
        src.load_table(spark, TableID("", "users"), schema).collect()


# ---------------------------------------------------------------- sink


def test_ydb_type_matrix():
    assert ydb_type("int64") == "Int64"
    assert ydb_type("int8") == "Int32"  # narrow ints widen (sink.go:1393)
    assert ydb_type("string") == "String"
    assert ydb_type("utf8") == "Utf8"
    assert ydb_type("any") == "Json"
    assert ydb_type("boolean") == "Bool"
    assert ydb_type("boolean", column_oriented=True) == "Uint8"
    assert ydb_type("interval", column_oriented=True) == "Int64"
    # ydb:-prefixed natives round-trip (sink.go:1277)
    assert ydb_type("utf8", "ydb:Uuid") == "Uuid"
    assert ydb_type("utf8", "ydb:Uuid", column_oriented=True) == "Utf8"
    assert ydb_type("utf8", "ydb:Decimal") == "Decimal(22,9)"
    assert ydb_type("utf8", "ydb:Decimal", column_oriented=True) == "String"


def test_insert_query_shape():
    q = insert_query("/db/users", [("id", "Int64", True), ("v", "Utf8", False)])
    assert "--!syntax_v1" in q
    assert "DECLARE $batch AS List<" in q
    assert "`id`:Int64" in q and "`v`:Utf8?" in q  # optionality marker
    assert "UPSERT INTO `/db/users` (`id`, `v`)" in q
    assert "FROM AS_TABLE($batch)" in q


def test_delete_query_shape():
    q = delete_query("/db/users", [("id", "Int64", True)])
    assert "DELETE FROM `/db/users`" in q
    assert "and `id` = $batch.`id`" in q


def test_create_table_row_vs_column_oriented():
    cols = [("id", "Int64", True), ("v", "Utf8", False)]
    row = create_table_query("/db/t", cols, ["id"], shard_count=8)
    assert "PRIMARY KEY (`id`)" in row
    assert "UNIFORM_PARTITIONS = 8" in row
    assert "FAMILY default" in row and "STORE = COLUMN" not in row
    auto = create_table_query("/db/t", cols, ["id"])
    assert "AUTO_PARTITIONING_BY_SIZE = ENABLED" in auto
    olap = create_table_query(
        "/db/t", cols, ["id"], shard_count=4, column_oriented=True
    )
    assert "PARTITION BY HASH(`id`)" in olap
    assert "STORE = COLUMN" in olap
    assert "AUTO_PARTITIONING_MIN_PARTITIONS_COUNT = 4" in olap
    assert "FAMILY" not in olap


def test_split_to_chunks_row_and_byte_caps():
    # row cap (sink.go:719: right-left >= max_len cuts)
    spans = split_to_chunks([1] * 25, max_size=10**9, max_len=10)
    assert spans == [(0, 10), (10, 20), (20, 25)]
    # byte cap
    spans = split_to_chunks([40, 40, 40], max_size=100, max_len=WRITE_BATCH_MAX_LEN)
    assert spans == [(0, 3)] or spans == [(0, 2), (2, 3)]
    assert split_to_chunks([]) == []
    # exact reference semantics: cut when accumulated >= max_size
    assert split_to_chunks([60, 60, 60], max_size=100, max_len=10) == [
        (0, 2),
        (2, 3),
    ]


# ----------------------------------------------- sink end-to-end (recorded)


def _file_executor(path: str):
    def executor(yql: str, rows: list[dict]) -> None:
        with open(path, "a") as f:
            f.write(json.dumps({"yql": yql, "rows": rows}) + "\n")

    return executor


@pytest.fixture()
def recorder():
    with tempfile.NamedTemporaryFile(suffix=".jsonl") as tf:

        def calls():
            with open(tf.name) as f:
                return [json.loads(line) for line in f if line.strip()]

        yield _file_executor(tf.name), calls


def test_sink_snapshot_upserts(spark, recorder):
    executor, calls = recorder
    sink = build_sink("ydb", database="/db", executor=executor)
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    sink.write(df, TableID("", "users"))
    got = calls()
    assert all("UPSERT INTO `/db/users`" in c["yql"] for c in got)
    rows = {(r["id"], r["v"]) for c in got for r in c["rows"]}
    assert rows == {(1, "x"), (2, "y")}


def test_sink_cdc_collapse_then_upsert_and_delete(spark, recorder):
    executor, calls = recorder
    sink = build_sink("ydb", database="/db", executor=executor)
    batch = spark.createDataFrame(
        [
            (1, "a", "i", 1, 0),
            (1, "a2", "u", 2, 0),  # nets to one upsert with a2
            (2, "b", "i", 3, 0),
            (2, None, "d", 4, 0),  # born-and-dead → idempotent delete
            (3, None, "d", 5, 0),  # plain delete
        ],
        f"id long, v string, {OP_COL} string, {LSN_COL} long, {COUNTER_COL} long",
    )
    sink.write_cdc(batch, TableID("", "users"), keys=["id"])
    got = calls()
    dels = [c for c in got if c["yql"].startswith("--!syntax_v1\nDECLARE") and "DELETE FROM" in c["yql"]]
    ups = [c for c in got if "UPSERT" in c["yql"]]
    del_ids = {r["id"] for c in dels for r in c["rows"]}
    up_rows = {(r["id"], r["v"]) for c in ups for r in c["rows"]}
    assert del_ids == {2, 3}
    assert up_rows == {(1, "a2")}
    # deletes carry ONLY key columns (deleteQuery builds from keySchemas)
    assert all(set(r) == {"id"} for c in dels for r in c["rows"])


def test_sink_cleanup_policies(spark, recorder):
    executor, calls = recorder
    sink = build_sink("ydb", database="/db", executor=executor)
    sink.cleanup(TableID("", "users"), CleanupPolicy.DISABLED)
    assert calls() == []
    sink.cleanup(TableID("", "users"), CleanupPolicy.TRUNCATE)  # drop (Push:631)
    sink.cleanup(TableID("", "users"), CleanupPolicy.DROP)
    assert [c["yql"] for c in calls()] == ["DROP TABLE `/db/users`"] * 2


def test_sink_create_table_uses_colschema_metadata(spark, recorder):
    executor, calls = recorder
    sink = build_sink(
        "ydb", database="/db", shard_count=2, executor=executor
    )
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    sink.create_table(TableID("", "t"), df.schema, keys=["id"])
    (c,) = calls()
    assert "CREATE TABLE `/db/t`" in c["yql"]
    assert "`id` Int64" in c["yql"] and "`v` Utf8" in c["yql"]
    assert "UNIFORM_PARTITIONS = 2" in c["yql"]


def test_sink_without_transport_raises_with_remedy(spark):
    sink = build_sink("ydb", database="/db")
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    with pytest.raises(Exception, match="ydb"):
        sink.write(df, TableID("", "users"))
