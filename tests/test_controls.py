"""TRUNCATE/DDL control events through the replication pipeline
(streaming/controls.py): LSN-ordered routing semantics and the full
binlog → ControlRouter → bucketed sink → drift-restart e2e (r4 verdict
item 8). ≈ changeitem/kind.go control kinds + nonrow_separator.go."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from transferia_spark.streaming.controls import ControlRouter, SchemaDriftDetected


def _emit(path: str, name: str, events: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "id long, v string, _op string, _lsn long, _counter int"
    )


def test_truncate_drops_prefix_then_applies_suffix(spark):
    """Rows at-or-before the truncate LSN never reach the sink (they
    would be wiped anyway); the truncate callback fires once; later
    rows apply afterwards."""
    seen = {"truncates": 0, "rows": []}

    def sink(df, bid):
        seen["rows"].extend((r.id, r._lsn) for r in df.collect())

    router = ControlRouter(sink, on_truncate=lambda: seen.__setitem__(
        "truncates", seen["truncates"] + 1))
    batch = _frame(spark, [
        (1, "a", "i", 10, 0),
        (2, "b", "i", 20, 0),
        (None, None, "truncate", 30, 0),
        (3, "c", "i", 40, 0),
    ])
    router(batch, 0)
    assert seen["truncates"] == 1
    assert seen["rows"] == [(3, 40)]


def test_control_free_batch_passes_through_untouched(spark):
    calls = []
    router = ControlRouter(lambda df, bid: calls.append(df.count()),
                           on_truncate=lambda: calls.append("T"))
    router(_frame(spark, [(1, "a", "i", 10, 0)]), 0)
    assert calls == [1]


def test_ddl_applies_prefix_records_watermark_and_restarts(spark, tmp_path):
    """DDL: pre-DDL rows (and truncates) apply, the watermark persists,
    the drift callback runs, then SchemaDriftDetected aborts the batch;
    the reprocessed batch flows through because the DDL is handled."""
    state_file = str(tmp_path / "ddl.json")
    seen = {"rows": [], "truncates": 0, "ddl": []}

    def sink(df, bid):
        seen["rows"].extend((r.id, r._lsn) for r in df.collect())

    router = ControlRouter(
        sink,
        on_truncate=lambda: seen.__setitem__("truncates", seen["truncates"] + 1),
        on_ddl=lambda lsn: seen["ddl"].append(lsn),
        state_file=state_file,
    )
    batch = _frame(spark, [
        (1, "a", "i", 10, 0),
        (None, None, "ddl", 20, 0),
        (2, "b", "i", 30, 0),
    ])
    with pytest.raises(SchemaDriftDetected) as exc:
        router(batch, 0)
    assert exc.value.lsn == 20
    assert seen["rows"] == [(1, 10)] and seen["ddl"] == [20]
    # restart: the same batch reprocesses fully (idempotent sink)
    router(batch, 0)
    assert seen["rows"] == [(1, 10), (1, 10), (2, 30)]
    assert seen["ddl"] == [20]  # handled watermark stops re-triggering


def test_multi_table_truncate_scopes_to_its_table(spark):
    """With _table routing, a TRUNCATE wipes only ITS table: the other
    table's earlier rows still apply, and the callback gets the name."""
    seen = {"rows": [], "truncated": []}

    def sink(df, bid):
        seen["rows"].extend(
            sorted((r._table, r.id, r._lsn) for r in df.collect())
        )

    router = ControlRouter(
        sink, on_truncate=lambda table: seen["truncated"].append(table)
    )
    batch = spark.createDataFrame(
        [
            (1, "items", "i", 10, 0),
            (2, "users", "i", 20, 0),
            (None, "items", "truncate", 30, 0),
            (3, "items", "i", 40, 0),
        ],
        "id long, _table string, _op string, _lsn long, _counter int",
    )
    router(batch, 0)
    assert seen["truncated"] == ["items"]
    # users' row 2 survives (different table); items' row 1 dropped
    assert seen["rows"] == [("items", 3, 40), ("users", 2, 20)]


def test_wal_truncate_statement_emits_control(tmp_path):
    """wal2json 'T' actions become truncate ChangeItems when opted in
    (and stay dropped by default)."""
    import json as _json
    import os as _os

    from transferia_spark.streaming.wal_source import (
        WalJsonStreamReader,
        wal_output_schema,
    )

    wdir = str(tmp_path / "w")
    _os.makedirs(wdir)
    with open(_os.path.join(wdir, "0.jsonl"), "w") as f:
        for ev in [
            {"action": "I", "lsn": 1,
             "columns": [{"name": "id", "value": 1}]},
            {"action": "T", "lsn": 2, "schema": "public", "table": "t"},
            {"action": "I", "lsn": 3,
             "columns": [{"name": "id", "value": 3}]},
        ]:
            f.write(_json.dumps(ev) + "\n")

    def read_all(opts):
        r = WalJsonStreamReader(wal_output_schema("id long"), opts)
        out = []
        for part in r.partitions(r.initialOffset(), r.latestOffset()):
            out += list(r._read_tuples(part))
        return out

    plain = read_all({"path": wdir})
    assert [t[1] for t in plain] == ["i", "i"]
    ctl = read_all({"path": wdir, "emit_controls": "true"})
    assert [(t[1], t[2]) for t in ctl] == [("i", 1), ("truncate", 2), ("i", 3)]
    assert ctl[1][4] == "public.t"  # _table carries schema.table


@pytest.mark.slow
def test_truncate_replay_property_final_state_matches_fold(spark, tmp_path):
    """Randomized crash-replay property (seeded, deterministic): a
    changelog with interleaved TRUNCATEs, cut into random batches, some
    batches applied TWICE (the at-least-once crash window), must land
    the same final table state as the sequential fold — truncate
    routing composes idempotently with the MERGE sink."""
    import random

    from transferia_spark.streaming.bucketed_table import (
        BucketedCdcApplySink,
        BucketedParquetTable,
    )

    rng = random.Random(0xC0FFEE)
    for case in range(4):
        events = []
        lsn = 0
        for _ in range(rng.randint(6, 14)):
            lsn += rng.randint(1, 3)
            if rng.random() < 0.2:
                events.append(("truncate", None, None, lsn))
            else:
                op = rng.choice(["i", "u", "d"])
                events.append((op, rng.randint(1, 5), float(lsn), lsn))
        # sequential fold = the spec
        state: dict[int, float] = {}
        for op, k, v, _l in events:
            if op == "truncate":
                state.clear()
            elif op == "d":
                state.pop(k, None)
            else:
                state[k] = v

        root = str(tmp_path / f"t{case}")
        table = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
        sink = BucketedCdcApplySink(table)

        def wipe():
            table.overwrite(
                spark.createDataFrame([], "id long, v double")
            )

        router = ControlRouter(sink, on_truncate=wipe)
        # random batch boundaries; each batch may replay once
        i = 0
        bid = 0
        while i < len(events):
            j = min(len(events), i + rng.randint(1, 4))
            batch = spark.createDataFrame(
                [(k, v, op, l, 0) for op, k, v, l in events[i:j]],
                "id long, v double, _op string, _lsn long, _counter int",
            )
            router(batch, bid)
            if rng.random() < 0.4:
                router(batch, bid)  # crash between apply and commit
            i, bid = j, bid + 1

        got = (
            {(r.id, r.v) for r in table.read().collect()}
            if table.exists()
            else set()
        )
        assert got == set(state.items()), (case, events, got, state)


@pytest.mark.slow
def test_binlog_controls_pipeline_end_to_end(spark, tmp_path):
    """The reference's mid-stream TRUNCATE + ALTER sequence through the
    Spark pipeline: recorded binlog with rows, a truncate, and a DDL →
    ControlRouter wraps the bucketed CDC sink → first run applies up to
    the DDL and aborts for a schema restart → the supervisor evolves the
    schema and reruns from the checkpoint → final state is the
    post-truncate rows under the evolved schema."""
    from transferia_spark.streaming.pipeline import ReplicationPipeline
    from transferia_spark.streaming.bucketed_table import (
        BucketedCdcApplySink,
        BucketedParquetTable,
    )
    from transferia_spark.streaming.cdc_sources import (
        BinlogJsonDataSource,
        binlog_output_schema,
    )
    from transferia_spark.streaming.schema_drift import evolve

    spark.dataSource.register(BinlogJsonDataSource)
    bdir = str(tmp_path / "binlog")
    ckpt = str(tmp_path / "ckpt")
    _emit(bdir, "000.jsonl", [
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 10,
         "row_idx": 0, "after": {"id": 1, "v": "a"}},
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 20,
         "row_idx": 0, "after": {"id": 2, "v": "b"}},
        {"action": "truncate", "log_file": "binlog.000001", "log_pos": 30,
         "schema": "db", "table": "items"},
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 40,
         "row_idx": 0, "after": {"id": 3, "v": "c"}},
        {"action": "ddl", "log_file": "binlog.000001", "log_pos": 50,
         "schema": "db", "table": "items"},
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 60,
         "row_idx": 0, "after": {"id": 4, "v": "d", "w": "x"}},
    ])

    from pyspark.sql import types as T

    schema_v = {"ddl": "id long, v string"}
    table = BucketedParquetTable(
        spark, str(tmp_path / "tbl"), keys=["id"], n_buckets=4
    )

    def wipe():
        table.overwrite(
            spark.createDataFrame([], T._parse_datatype_string(schema_v["ddl"]))
        )

    def run_once():
        stream = (
            spark.readStream.format("binlogjson")
            .schema(binlog_output_schema(schema_v["ddl"]))
            .option("path", bdir)
            .option("emit_controls", "true")
            .load()
            .drop("_table", "_present")
        )
        router = ControlRouter(
            BucketedCdcApplySink(table),
            on_truncate=wipe,
            state_file=str(tmp_path / "ddl_state.json"),
        )
        ReplicationPipeline(
            stream=stream, sink=router, checkpoint_dir=ckpt,
            trigger={"availableNow": True},
        ).run_available()

    # run 1: applies rows 1,2 → truncate wipes → row 3 → DDL aborts
    with pytest.raises(Exception, match="SchemaDriftDetected|schema restart"):
        run_once()
    # supervisor: evolve the schema (the ALTER added nullable w) and rerun
    old = T._parse_datatype_string(schema_v["ddl"])
    new = T._parse_datatype_string("id long, v string, w string")
    assert [f.name for f in evolve(old, new).fields] == ["id", "v", "w"]
    schema_v["ddl"] = "id long, v string, w string"
    run_once()

    got = {(r.id, r.v, r.w) for r in table.read().collect()}
    assert got == {(3, "c", None), (4, "d", "x")}
