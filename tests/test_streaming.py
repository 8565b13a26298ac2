"""Structured Streaming: file-source CDC replication end-to-end,
watermarked rollups, idempotent apply, checkpoint resume."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transferia_spark.cdc.changeitem import COUNTER_COL, LSN_COL, OP_COL
from transferia_spark.operators import Transformation, build
from transferia_spark.streaming.bucketed_table import (
    BucketedCdcApplySink,
    BucketedParquetTable,
)
from transferia_spark.streaming.pipeline import ReplicationPipeline
from transferia_spark.streaming.readers import file_stream
from transferia_spark.streaming.rollup import windowed_rollup

CDC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField(OP_COL, T.StringType()),
        T.StructField(LSN_COL, T.LongType()),
        T.StructField(COUNTER_COL, T.LongType()),
    ]
)


def _write_batch(dirpath: str, name: str, rows: list[dict]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f".{name}.tmp")
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(tmp, os.path.join(dirpath, f"{name}.json"))



def test_wal_source_import_stays_light():
    """Every Python worker that unpickles a recorded-CDC reader imports
    ``wal_source``: the streaming package re-exports nothing, so that
    import loads neither pandas nor the operator family."""
    import subprocess
    import sys

    import transferia_spark

    code = (
        "import sys, transferia_spark.streaming.wal_source\n"
        "print(sorted(m for m in ('pandas', 'transferia_spark.operators')"
        " if m in sys.modules))"
    )
    root = os.path.dirname(os.path.dirname(transferia_spark.__file__))
    out = subprocess.run([sys.executable, "-c", code], cwd=root,
                         capture_output=True, text=True, check=True,
                         timeout=120)
    assert out.stdout.strip() == "[]"

def _run_pipeline(spark, src, table_root, ckpt, transformation=None):
    table = BucketedParquetTable(spark, table_root, keys=["id"], n_buckets=4)
    sink = BucketedCdcApplySink(table)
    pipe = ReplicationPipeline(
        stream=file_stream(spark, src, CDC_SCHEMA, fmt="json"),
        sink=sink,
        transformation=transformation,
        checkpoint_dir=ckpt,
    )
    pipe.run_available()
    return table, sink


def test_cdc_file_replication_end_to_end(spark, tmp_path):
    src = str(tmp_path / "incoming")
    _write_batch(
        src,
        "b0",
        [
            {"id": 1, "name": "a", "amount": 1.0, OP_COL: "i", LSN_COL: 1, COUNTER_COL: 0},
            {"id": 2, "name": "b", "amount": 2.0, OP_COL: "i", LSN_COL: 2, COUNTER_COL: 0},
            {"id": 1, "name": "a2", "amount": 1.5, OP_COL: "u", LSN_COL: 3, COUNTER_COL: 0},
        ],
    )
    table, sink = _run_pipeline(
        spark, src, str(tmp_path / "table"), str(tmp_path / "ckpt")
    )
    rows = {r.id: r for r in table.read().collect()}
    assert sink.batches_applied >= 1
    assert rows[1].name == "a2" and rows[1].amount == 1.5
    assert rows[2].name == "b"


def test_cdc_resume_from_checkpoint_applies_only_new(spark, tmp_path):
    src = str(tmp_path / "incoming")
    _write_batch(
        src,
        "b0",
        [{"id": 1, "name": "x", "amount": 0.0, OP_COL: "i", LSN_COL: 1, COUNTER_COL: 0}],
    )
    roots = (str(tmp_path / "table"), str(tmp_path / "ckpt"))
    table, _ = _run_pipeline(spark, src, *roots)
    v1 = table.version()

    # second run with NEW file only: delete id 1, insert id 3
    _write_batch(
        src,
        "b1",
        [
            {"id": 1, "name": None, "amount": None, OP_COL: "d", LSN_COL: 5, COUNTER_COL: 0},
            {"id": 3, "name": "z", "amount": 3.0, OP_COL: "i", LSN_COL: 6, COUNTER_COL: 0},
        ],
    )
    table, _ = _run_pipeline(spark, src, *roots)
    assert table.version() > v1
    ids = sorted(r.id for r in table.read().collect())
    assert ids == [3]  # id 1 deleted, only the new insert remains


def test_cdc_with_transform_chain(spark, tmp_path):
    src = str(tmp_path / "incoming")
    _write_batch(
        src,
        "b0",
        [
            {"id": 1, "name": "keep", "amount": 10.0, OP_COL: "i", LSN_COL: 1, COUNTER_COL: 0},
            {"id": 2, "name": "keep", "amount": -5.0, OP_COL: "i", LSN_COL: 2, COUNTER_COL: 0},
        ],
    )
    chain = Transformation().add(build("filter_rows", filters=["amount > 0"]))
    table, _ = _run_pipeline(
        spark, src, str(tmp_path / "table"), str(tmp_path / "ckpt"), chain
    )
    ids = sorted(r.id for r in table.read().collect())
    assert ids == [1]


def test_apply_is_idempotent(spark, tmp_path):
    table = BucketedParquetTable(
        spark, str(tmp_path / "t"), keys=["id"], n_buckets=4
    )
    sink = BucketedCdcApplySink(table)
    batch = spark.createDataFrame(
        [(1, "a", 1.0, "i", 1, 0), (2, "b", 2.0, "i", 2, 0)], CDC_SCHEMA
    )
    sink(batch, 0)
    first = sorted(map(tuple, table.read().collect()))
    sink(batch, 0)  # replay the same batch
    second = sorted(map(tuple, table.read().collect()))
    assert first == second


def test_windowed_rollup_batch_parity(spark, sf_dir):
    from transferia_spark.session import load_tables

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    out = windowed_rollup(
        ev,
        ts_col="ts",
        window_duration="1 hour",
        group_cols=["event_type"],
        aggs={"n": F.count(F.lit(1)), "total": F.sum("value")},
    )
    got = out.agg(F.sum("n")).collect()[0][0]
    assert got == ev.count()
    assert out.columns == ["window_start", "window_end", "event_type", "n", "total"]


def test_windowed_rollup_streaming_with_watermark(spark, tmp_path):
    """Drive the rollup through an actual streaming query (file source,
    availableNow) and check window contents."""
    src = str(tmp_path / "ev")
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("k", T.StringType()),
         T.StructField("v", T.LongType())]
    )
    _write_batch(
        src,
        "e0",
        [
            {"ts": "2026-01-01T00:10:00", "k": "a", "v": 1},
            {"ts": "2026-01-01T00:20:00", "k": "a", "v": 2},
            {"ts": "2026-01-01T01:10:00", "k": "a", "v": 4},
        ],
    )
    stream = file_stream(spark, src, schema, fmt="json")
    rolled = windowed_rollup(
        stream, "ts", "1 hour", ["k"], {"n": F.count(F.lit(1)), "s": F.sum("v")}
    )
    got = []

    def sink(df, bid):
        got.extend(df.collect())

    q = (
        rolled.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    by_window = {(r.window_start.hour, r.k): (r.n, r.s) for r in got}
    assert by_window[(0, "a")] == (2, 3)
    assert by_window[(1, "a")] == (1, 4)


def test_waljson_slot_direct_source(spark, tmp_path):
    """Custom DataSourceStreamReader consuming wal2json-v2 lines:
    LSN offsets, checkpoint resume (no redelivery), pre-image capture,
    and slot ack via commit() (which Spark fires when the NEXT batch
    is planned — the ack lags one batch, like Kafka group commits)."""
    import json
    import os

    from transferia_spark.streaming.wal_source import (
        WalJsonDataSource,
        wal_output_schema,
    )

    spark.dataSource.register(WalJsonDataSource)
    waldir = str(tmp_path / "wal")
    os.makedirs(waldir)
    ack = str(tmp_path / "ack.json")
    ckpt = str(tmp_path / "ckpt")

    def emit(fname, events):
        with open(os.path.join(waldir, fname), "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")

    got = []

    def run():
        q = (
            spark.readStream.format("waljson")
            .schema(wal_output_schema("id int, v string"))
            .option("path", waldir)
            .option("ack_file", ack)
            .load()
            .writeStream.foreachBatch(lambda df, _bid: got.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    emit("000.jsonl", [
        {"action": "I", "schema": "public", "table": "t", "lsn": 1,
         "columns": [{"name": "id", "value": 1}, {"name": "v", "value": "a"}]},
        {"action": "U", "schema": "public", "table": "t", "lsn": 2,
         "columns": [{"name": "id", "value": 1}, {"name": "v", "value": "b"}],
         "identity": [{"name": "id", "value": 1}]},
        # same-LSN second event: counter must tiebreak within the tx
        {"action": "U", "schema": "public", "table": "t", "lsn": 2,
         "columns": [{"name": "id", "value": 1}, {"name": "v", "value": "c"}],
         "identity": [{"name": "id", "value": 1}]},
    ])
    run()
    assert sorted((r["_lsn"], r["_counter"], r["_op"], r["v"]) for r in got) == [
        (1, 0, "i", "a"), (2, 0, "u", "b"), (2, 1, "u", "c")
    ]
    assert got[0]["_table"] == "public.t"
    upd = [r for r in got if r["_op"] == "u"][0]
    # typed pre-image struct (ChangeItem _before contract, not a JSON blob)
    assert upd["_before"]["id"] == 1 and upd["_before"]["v"] is None
    # updates carry the present-column list (TOAST absence marker)
    assert sorted(upd["_present"]) == ["id", "v"]

    # delete arrives; resume must deliver ONLY the new event, and
    # planning batch 2 acks batch 1
    got.clear()
    emit("001.jsonl", [
        {"action": "D", "schema": "public", "table": "t", "lsn": 3,
         "identity": [{"name": "id", "value": 1}, {"name": "v", "value": "b"}]},
    ])
    run()
    assert [(r["_lsn"], r["_op"], r["id"]) for r in got] == [(3, "d", 1)]
    assert json.load(open(ack))["lsn"] >= 2


def test_waljson_feeds_cdc_apply_path(spark, tmp_path):
    """The slot-direct source's output must satisfy the ChangeItem
    contract end-to-end: collapse orders by (_lsn, _counter), PK-changing
    updates consume the typed _before struct, and the _present marker
    keeps TOAST-absent columns while genuine NULLs overwrite (ADVICE r1:
    the wal schema used to lack _counter and emitted a JSON-string
    pre-image, so this exact pipeline failed to resolve)."""
    import json
    import os

    from transferia_spark.cdc.merge import merge_batch
    from transferia_spark.streaming.wal_source import (
        WalJsonDataSource,
        wal_output_schema,
    )

    spark.dataSource.register(WalJsonDataSource)
    waldir = str(tmp_path / "wal")
    os.makedirs(waldir)
    with open(os.path.join(waldir, "000.jsonl"), "w") as f:
        for e in [
            # tx lsn=1: insert then same-tx update — counter must order them
            {"action": "I", "table": "t", "lsn": 1,
             "columns": [{"name": "id", "value": 1}, {"name": "v", "value": "a"},
                         {"name": "w", "value": "keep"}]},
            {"action": "U", "table": "t", "lsn": 1,
             "columns": [{"name": "id", "value": 1}, {"name": "v", "value": "b"}],
             "identity": [{"name": "id", "value": 1}]},  # w TOAST-absent
            # lsn=2: PK-changing update 1 → 2 (typed _before drives it)
            {"action": "U", "table": "t", "lsn": 2,
             "columns": [{"name": "id", "value": 2}, {"name": "v", "value": "b"},
                         {"name": "w", "value": "keep"}],
             "identity": [{"name": "id", "value": 1}]},
        ]:
            f.write(json.dumps(e) + "\n")

    batches = []
    q = (
        spark.readStream.format("waljson")
        .schema(wal_output_schema("id int, v string, w string"))
        .option("path", waldir)
        .load()
        .writeStream.foreachBatch(lambda df, _bid: batches.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = [r for b in batches for r in b]
    batch = spark.createDataFrame(rows, wal_output_schema("id int, v string, w string"))
    target = spark.createDataFrame([], "id int, v string, w string")
    out = merge_batch(target, batch.drop("_table"), ["id"])
    assert [tuple(r) for r in out.collect()] == [(2, "b", "keep")]


def test_schema_drift_restart(spark, tmp_path):
    """DDL mid-stream: a new column appears in the source → supervisor
    evolves the registry (append-as-nullable) and restarts the query
    from its checkpoint; no events lost, none re-applied."""
    import json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from transferia_spark.streaming.schema_drift import (
        SchemaRegistry,
        evolve,
        run_with_drift_handling,
    )

    src = str(tmp_path / "src"); os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    reg = SchemaRegistry(str(tmp_path / "registry"))

    v1 = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])
    v2 = T.StructType(list(v1.fields) + [T.StructField("extra", T.LongType())])

    def write_file(name, rows, schema):
        spark.createDataFrame(rows, schema).write.mode("append").json(src + "/" + name)

    write_file("a", [(1, "x")], v1)

    got = []
    phase = {"schema": v1}

    def start_query(schema):
        return (
            spark.readStream.schema(schema).json(src + "/*")
            .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    run_with_drift_handling("t", reg, lambda: phase["schema"], start_query)
    assert [(r["id"], r["v"]) for r in got] == [(1, "x")]

    # DDL: column added, new rows carry it
    phase["schema"] = v2
    write_file("b", [(2, "y", 7)], v2)
    got.clear()
    run_with_drift_handling("t", reg, lambda: phase["schema"], start_query)
    assert [(r["id"], r["v"], r["extra"]) for r in got] == [(2, "y", 7)]
    _, stored = reg.get("t")
    assert [f.name for f in stored.fields] == ["id", "v", "extra"]

    # incompatible drift is fatal, like the reference's strict types
    import pytest as _pytest
    bad = T.StructType([T.StructField("id", T.StringType())])
    with _pytest.raises(ValueError, match="incompatible drift"):
        evolve(stored, bad)


@pytest.mark.slow
def test_interval_join_stream_stream(spark, tmp_path):
    """Click→purchase attribution: purchases join clicks of the same
    user within the preceding hour; both sides file streams."""
    from transferia_spark.streaming.joins import interval_join

    clicks_dir = str(tmp_path / "clicks")
    buys_dir = str(tmp_path / "buys")
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()),
         T.StructField("user", T.LongType()),
         T.StructField("eid", T.LongType())]
    )
    _write_batch(clicks_dir, "c0", [
        {"ts": "2026-01-01T00:10:00", "user": 1, "eid": 100},
        {"ts": "2026-01-01T00:50:00", "user": 1, "eid": 101},
        {"ts": "2026-01-01T02:00:00", "user": 1, "eid": 102},  # too early for buy
        {"ts": "2026-01-01T00:20:00", "user": 2, "eid": 103},
    ])
    _write_batch(buys_dir, "b0", [
        {"ts": "2026-01-01T01:00:00", "user": 1, "eid": 200},
        {"ts": "2026-01-01T05:00:00", "user": 2, "eid": 201},  # clicks too old
    ])
    buys = file_stream(spark, buys_dir, schema, fmt="json").select(
        F.col("ts"), F.col("user"), F.col("eid").alias("buy_id")
    )
    clicks = file_stream(spark, clicks_dir, schema, fmt="json").select(
        F.col("ts").alias("cts"), F.col("user"), F.col("eid").alias("click_id")
    )
    joined = interval_join(
        buys, clicks, on=["user"], left_ts="ts", right_ts="cts",
        before="1 hour", after="0 seconds",
    )
    got = []

    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pairs = {(r.buy_id, r.click_id) for r in got}
    assert pairs == {(200, 100), (200, 101)}


def test_interval_join_batch_parity(spark, tmp_path):
    """Same helper on batch frames == plain theta join (oracle path)."""
    from transferia_spark.streaming.joins import interval_join

    left = spark.createDataFrame(
        [(1, "2026-01-01 01:00:00", 200)], "user long, ts string, buy_id long"
    ).select("user", F.col("ts").cast("timestamp").alias("ts"), "buy_id")
    right = spark.createDataFrame(
        [(1, "2026-01-01 00:10:00", 100), (1, "2026-01-01 02:00:00", 102)],
        "user long, cts string, click_id long",
    ).select("user", F.col("cts").cast("timestamp").alias("cts"), "click_id")
    out = interval_join(
        left, right, ["user"], "ts", "cts", before="1 hour", after="0 seconds"
    )
    assert [(r.buy_id, r.click_id) for r in out.collect()] == [(200, 100)]


def test_enrich_static_broadcasts_dim(spark, tmp_path):
    from transferia_spark.streaming.joins import enrich_static

    src = str(tmp_path / "s")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    _write_batch(src, "s0", [{"k": 1, "v": 10}, {"k": 2, "v": 20}, {"k": 9, "v": 90}])
    dim = spark.createDataFrame([(1, "one"), (2, "two")], "k long, name string")
    stream = file_stream(spark, src, schema, fmt="json")
    out = enrich_static(stream, dim, ["k"])
    got = []
    q = (
        out.writeStream.foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    by_k = {r.k: r.name for r in got}
    assert by_k == {1: "one", 2: "two", 9: None}


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate (id) rows across micro-batches within the watermark
    collapse to one output row; batch mode degrades to dropDuplicates."""
    from transferia_spark.streaming.joins import stream_dedup

    src = str(tmp_path / "dd")
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("id", T.LongType())]
    )
    _write_batch(src, "d0", [
        {"ts": "2026-01-01T00:00:01", "id": 1},
        {"ts": "2026-01-01T00:00:02", "id": 1},  # dup in-batch
        {"ts": "2026-01-01T00:00:03", "id": 2},
    ])
    _write_batch(src, "d1", [
        {"ts": "2026-01-01T00:01:00", "id": 1},  # dup across batches
        {"ts": "2026-01-01T00:01:30", "id": 3},
    ])
    out = stream_dedup(
        file_stream(spark, src, schema, fmt="json"), ["id"], "ts", "1 hour"
    )
    got = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(r.id for r in got) == [1, 2, 3]

    batch = spark.createDataFrame([(1,), (1,), (2,)], "id long")
    assert stream_dedup(batch, ["id"]).count() == 2


def test_arrow_read_plan_falls_back_on_an_unmapped_type():
    """A non-payload field Arrow cannot map (``to_arrow_schema`` raises
    a ``TypeError``) sends the reader down the row-tuple path."""
    from pyspark.sql import types as T

    from transferia_spark.streaming.wal_source import _arrow_read_plan

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("every", T.CalendarIntervalType()),
    ])
    assert _arrow_read_plan(schema, ["id"]) is None


def test_waljson_arrow_fast_path_equivalence(spark, tmp_path):
    """r13: executor tasks yield pyarrow RecordBatches when the payload
    types are arrow-safe (skips the worker's per-cell converters,
    ~1.9× on the decode plane). Contract: IDENTICAL rows with
    arrow_batches=false, incl. deletes (_before struct), same-LSN
    counters, controls and dead-lettered poison lines; a timestamp
    payload falls back to the tuple path (plan gate)."""
    import json
    import os

    from pyspark.sql import types as T

    from transferia_spark.streaming.wal_source import (
        WalJsonDataSource,
        _arrow_read_plan,
        wal_output_schema,
    )

    # plan gate: safe payload plans; timestamp payload does not
    safe = wal_output_schema("id long, v string, x double")
    assert _arrow_read_plan(safe, ["id", "v", "x"]) is not None
    tsy = wal_output_schema("id long, ts timestamp")
    assert _arrow_read_plan(tsy, ["id", "ts"]) is None
    [(bidx, bnames)] = _arrow_read_plan(safe, ["id", "v", "x"])[1]
    assert bidx == safe.fieldNames().index("_before")
    assert bnames == ["id", "v", "x"]

    spark.dataSource.register(WalJsonDataSource)
    waldir = str(tmp_path / "wal")
    os.makedirs(waldir)
    with open(os.path.join(waldir, "000.jsonl"), "w") as f:
        for i in range(300):
            op = ("I", "U", "D")[i % 3]
            if op == "D":
                f.write(json.dumps({
                    "action": "D", "schema": "s", "table": "t",
                    "lsn": i + 1,
                    "identity": [{"name": "id", "value": i}],
                }) + "\n")
            else:
                f.write(json.dumps({
                    "action": op, "schema": "s", "table": "t",
                    "lsn": i + 1,
                    "columns": [
                        {"name": "id", "value": i},
                        {"name": "v", "value": f"v{i}"},
                        {"name": "x", "value": i * 0.5},
                    ],
                    **({"identity": [{"name": "id", "value": i}]}
                       if op == "U" else {}),
                }) + "\n")
        f.write("not json at all\n")  # poison: dead-letters, stream lives

    def drain(arrow: str):
        got = []
        dl = str(tmp_path / f"dl_{arrow}")
        ckpt = str(tmp_path / f"ckpt_{arrow}")
        q = (
            spark.readStream.format("waljson")
            .schema(safe)
            .option("path", waldir)
            .option("arrow_batches", arrow)
            .option("arrow_chunk", "256")
            .option("dead_letter_dir", dl)
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_dead = sum(
            1 for fn in os.listdir(dl) for _ in open(os.path.join(dl, fn))
        ) if os.path.isdir(dl) else 0
        return sorted(tuple(r) for r in got), n_dead

    rows_arrow, dead_arrow = drain("true")
    rows_tuple, dead_tuple = drain("false")
    assert rows_arrow == rows_tuple
    assert len(rows_arrow) == 300
    assert dead_arrow == dead_tuple == 1
