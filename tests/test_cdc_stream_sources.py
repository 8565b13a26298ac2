"""Direct MySQL-binlog / Mongo-change-stream DataSourceStreamReaders
(streaming/cdc_sources.py): offset algebra, checkpoint resume without
redelivery, position/resume-token ack via commit(), and ChangeItem
contract parity with the envelope adapters. Mirrors the waljson cases in
test_streaming.py."""

from __future__ import annotations

import json
import os

import pytest

from transferia_spark.streaming.cdc_sources import (
    BinlogJsonDataSource,
    ChangeStreamJsonDataSource,
    binlog_lsn,
    binlog_output_schema,
    change_stream_output_schema,
)


def _emit(dirpath: str, fname: str, events: list[dict]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, fname), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _run(spark, fmt, schema, path, ckpt, got, ack=None):
    reader = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("path", path)
    )
    if ack:
        reader = reader.option("ack_file", ack)
    q = (
        reader.load()
        .writeStream.foreachBatch(lambda df, _bid: got.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_binlog_lsn_algebra():
    # CalculateLSN: file index × 10^12 + pos; plain names count as file 1
    assert binlog_lsn("binlog.000007", 154) == 7_000_000_000_154
    assert binlog_lsn("mysql-bin.000001", 4) == 1_000_000_000_004
    assert binlog_lsn("binlog", 99) == 1_000_000_000_099


def test_binlog_stream_offsets_resume_and_ack(spark, tmp_path):
    spark.dataSource.register(BinlogJsonDataSource)
    bdir = str(tmp_path / "binlog")
    ack = str(tmp_path / "pos.json")
    ckpt = str(tmp_path / "ckpt")
    schema = binlog_output_schema("id int, v string")
    got: list = []

    _emit(bdir, "000.jsonl", [
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 10,
         "row_idx": 0, "schema": "db", "table": "t",
         "after": {"id": 1, "v": "a"}},
        # one statement touching two rows: row_idx is the counter
        {"action": "update", "log_file": "binlog.000001", "log_pos": 20,
         "row_idx": 0, "schema": "db", "table": "t",
         "before": {"id": 1, "v": "a"}, "after": {"id": 1, "v": "b"}},
        {"action": "update", "log_file": "binlog.000001", "log_pos": 20,
         "row_idx": 1, "schema": "db", "table": "t",
         "before": {"id": 2, "v": "x"}, "after": {"id": 2, "v": "y"}},
        # DDL events are skipped (not row changes)
        {"action": "query", "log_file": "binlog.000001", "log_pos": 25,
         "query": "ALTER TABLE t ADD COLUMN z int"},
    ])
    _run(spark, "binlogjson", schema, bdir, ckpt, got, ack)
    assert sorted((r["_lsn"], r["_counter"], r["_op"], r["id"], r["v"]) for r in got) == [
        (1_000_000_000_010, 0, "i", 1, "a"),
        (1_000_000_000_020, 0, "u", 1, "b"),
        (1_000_000_000_020, 1, "u", 2, "y"),
    ]
    assert got[0]["_table"] == "db.t"
    upd = [r for r in got if r["_op"] == "u" and r["id"] == 1][0]
    assert upd["_before"]["id"] == 1 and upd["_before"]["v"] == "a"

    # binlog rotates to file 2; resume delivers ONLY the new events and
    # planning the next batch acks the previous position
    got.clear()
    _emit(bdir, "001.jsonl", [
        {"action": "delete", "log_file": "binlog.000002", "log_pos": 4,
         "row_idx": 0, "schema": "db", "table": "t",
         "before": {"id": 1, "v": "b"}},
    ])
    _run(spark, "binlogjson", schema, bdir, ckpt, got, ack)
    assert [(r["_lsn"], r["_op"], r["id"], r["v"]) for r in got] == [
        (2_000_000_000_004, "d", 1, "b")  # delete payload = old row
    ]
    assert json.load(open(ack))["lsn"] >= 1_000_000_000_020


def test_binlog_pk_change_feeds_merge(spark, tmp_path):
    """The direct reader's _before struct drives PK-changing updates
    through collapse→merge exactly like the envelope path."""
    from transferia_spark.cdc.merge import merge_batch

    spark.dataSource.register(BinlogJsonDataSource)
    bdir = str(tmp_path / "binlog")
    schema = binlog_output_schema("id int, v string")
    got: list = []
    _emit(bdir, "000.jsonl", [
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 10,
         "row_idx": 0, "after": {"id": 1, "v": "a"}},
        # PK moves 1 → 2
        {"action": "update", "log_file": "binlog.000001", "log_pos": 20,
         "row_idx": 0, "before": {"id": 1, "v": "a"},
         "after": {"id": 2, "v": "a2"}},
    ])
    _run(spark, "binlogjson", schema, bdir, str(tmp_path / "ckpt"), got)
    batch = spark.createDataFrame(got, schema)
    target = spark.createDataFrame([], "id int, v string")
    out = merge_batch(target, batch.drop("_table", "_present"), ["id"])
    assert [tuple(r) for r in out.collect()] == [(2, "a2")]


def test_change_stream_offsets_partial_updates_and_resume(spark, tmp_path):
    spark.dataSource.register(ChangeStreamJsonDataSource)
    csdir = str(tmp_path / "cs")
    ack = str(tmp_path / "token.json")
    ckpt = str(tmp_path / "ckpt")
    schema = change_stream_output_schema("_id long, v string, w string")
    got: list = []

    _emit(csdir, "000.jsonl", [
        {"operationType": "insert", "clusterTime": 1, "order": 0,
         "documentKey": {"_id": 1}, "ns": {"db": "db", "coll": "c"},
         "fullDocument": {"_id": 1, "v": "a", "w": "keep"}},
        # partial update: v set, w untouched (ABSENT, not NULL)
        {"operationType": "update", "clusterTime": 2, "order": 0,
         "documentKey": {"_id": 1}, "ns": {"db": "db", "coll": "c"},
         "updateDescription": {"updatedFields": {"v": "b"},
                               "removedFields": []}},
        # same clusterTime, next in resume-token order: $unset w
        {"operationType": "update", "clusterTime": 2, "order": 1,
         "documentKey": {"_id": 1}, "ns": {"db": "db", "coll": "c"},
         "updateDescription": {"updatedFields": {},
                               "removedFields": ["w"]}},
        # invalidate is a control event — skipped
        {"operationType": "invalidate", "clusterTime": 2, "order": 2},
    ])
    _run(spark, "mongostream", schema, csdir, ckpt, got, ack)
    assert sorted((r["_lsn"], r["_counter"], r["_op"]) for r in got) == [
        (1, 0, "i"), (2, 0, "u"), (2, 1, "u")
    ]
    ins = [r for r in got if r["_op"] == "i"][0]
    assert ins["_present"] is None and ins["_table"] == "db.c"
    part = [r for r in got if r["_counter"] == 0 and r["_op"] == "u"][0]
    assert part["v"] == "b" and part["w"] is None
    assert sorted(part["_present"]) == ["_id", "v"]
    unset = [r for r in got if r["_counter"] == 1][0]
    assert sorted(unset["_present"]) == ["_id", "w"]  # carried-as-NULL

    # resume: only the new delete arrives; token ack advanced
    got.clear()
    _emit(csdir, "001.jsonl", [
        {"operationType": "delete", "clusterTime": 3, "order": 0,
         "documentKey": {"_id": 1}, "ns": {"db": "db", "coll": "c"}},
    ])
    _run(spark, "mongostream", schema, csdir, ckpt, got, ack)
    assert [(r["_lsn"], r["_op"], r["_id"]) for r in got] == [(3, "d", 1)]
    tok = json.load(open(ack))
    assert (tok["ts"], tok["order"]) >= (2, 1)


def test_eventhub_records_adapter(spark):
    """EventHub record frame → raw queue shape → parser
    (eventhub.go:191 makeRawChangeItem)."""
    from pyspark.sql import functions as F

    from transferia_spark.parsers import build_parser
    from transferia_spark.streaming.readers import eventhub_records_to_raw

    records = spark.createDataFrame(
        [
            ("0", 10, "4611686018427387904", b'{"a": 1}'),
            ("1", 11, None, b'{"a": 2}'),  # no offset → sequence number
            ("$Default", 12, None, b'{"a": 3}'),  # non-numeric → part 0
        ],
        "partition_id string, sequence_number long, offset string, body binary",
    ).withColumn("enqueued_time", F.current_timestamp())
    raw = eventhub_records_to_raw(records, transfer_id="tr1")
    assert set(raw.columns) == {"key", "value", "topic", "partition", "offset", "timestamp"}
    rows = sorted(raw.collect(), key=lambda r: r["offset"])
    assert [(r["partition"], r["offset"], r["topic"]) for r in rows] == [
        (1, 11, "tr1_1"),
        (0, 12, "tr1_0"),
        (0, 4611686018427387904, "tr1_0"),
    ]
    parsed = build_parser("json", schema="a INT", add_rest=False)(raw)
    assert sorted(r["a"] for r in parsed.collect()) == [1, 2, 3]


def test_yds_records_adapter(spark):
    """YDS/Logbroker persqueue record frame → raw queue shape → parser
    (yds/source/common.go:89: topic is the stream; real offsets)."""
    from pyspark.sql import functions as F

    from transferia_spark.parsers import build_parser
    from transferia_spark.streaming.readers import yds_records_to_raw

    records = spark.createDataFrame(
        [
            (0, 100, "producer-a", b'{"a": 1}'),
            (1, 100, "producer-b", b'{"a": 2}'),
        ],
        "partition long, offset long, source_id string, data binary",
    ).withColumn("created_at", F.current_timestamp())
    raw = yds_records_to_raw(records, stream="my-stream")
    rows = {r["partition"]: r for r in raw.collect()}
    assert rows[0]["topic"] == "my-stream" and rows[0]["key"] == "producer-a"
    assert rows[0]["offset"] == 100  # real persqueue offset, not a hash
    parsed = build_parser("json", schema="a INT", add_rest=False)(raw)
    assert sorted(r["a"] for r in parsed.collect()) == [1, 2]


def test_change_stream_feeds_merge_with_present_contract(spark, tmp_path):
    """Partial updates must merge column-wise: untouched columns keep
    the target's value, $unset genuinely NULLs — identical semantics to
    the envelope adapter (mongo_change_stream_to_changeitems)."""
    from transferia_spark.cdc.merge import merge_batch

    spark.dataSource.register(ChangeStreamJsonDataSource)
    csdir = str(tmp_path / "cs")
    schema = change_stream_output_schema("_id long, v string, w string")
    got: list = []
    _emit(csdir, "000.jsonl", [
        {"operationType": "insert", "clusterTime": 1, "order": 0,
         "documentKey": {"_id": 1},
         "fullDocument": {"_id": 1, "v": "a", "w": "keep"}},
        {"operationType": "update", "clusterTime": 2, "order": 0,
         "documentKey": {"_id": 1},
         "updateDescription": {"updatedFields": {"v": "b"},
                               "removedFields": []}},
    ])
    _run(spark, "mongostream", schema, csdir, str(tmp_path / "ckpt"), got)
    batch = spark.createDataFrame(got, schema)
    target = spark.createDataFrame([], "_id long, v string, w string")
    out = merge_batch(target, batch.drop("_table"), ["_id"])
    # v updated, w survives the partial update (absent ≠ NULL)
    assert [tuple(r) for r in out.collect()] == [(1, "b", "keep")]


def test_change_stream_unset_reaches_mongo_sink(spark, tmp_path):
    """mongo2mongo removal parity end-to-end: removedFields ride the
    reader's ``_removed`` marker through the presence-aware collapse
    into a true UpdateOne $unset at the sink — not an explicit null
    (≈ makeUpdateModel write_models.go:23-47; r14)."""
    import tempfile

    from test_mongo_sink import _file_recorder
    from transferia_spark.schema.colschema import TableID
    from transferia_spark.sinks.base import build_sink

    spark.dataSource.register(ChangeStreamJsonDataSource)
    csdir = str(tmp_path / "cs")
    schema = change_stream_output_schema("_id long, v string, w string")
    got: list = []
    _emit(csdir, "000.jsonl", [
        # one partial event: $set v, $unset w (x of the doc untouched)
        {"operationType": "update", "clusterTime": 2, "order": 0,
         "documentKey": {"_id": 1}, "ns": {"db": "db", "coll": "c"},
         "updateDescription": {"updatedFields": {"v": "b"},
                               "removedFields": ["w"]}},
    ])
    _run(spark, "mongostream", schema, csdir, str(tmp_path / "ckpt"), got)
    (row,) = got
    assert row["_removed"] == ["w"]
    assert sorted(row["_present"]) == ["_id", "v", "w"]
    batch = spark.createDataFrame(got, schema).drop("_table")
    with tempfile.NamedTemporaryFile(suffix=".jsonl") as tf:
        sink = build_sink("mongo", database="db",
                          applier_factory=_file_recorder(tf.name))
        sink.write_cdc(batch, TableID("", "c"), keys=["_id"])
        ops = [op for line in open(tf.name)
               for op in json.loads(line)["bulks"][0]]
    (op,) = ops
    assert op["op"] == "update"
    assert op["filter"] == {"_id": 1}
    assert op["set"] == {"v": "b"}
    assert op["unset"] == ["w"]


def test_binlog_replication_pipeline_end_to_end(spark, tmp_path):
    """Full integration of the round's pieces: binlog DataSource stream
    → ReplicationPipeline → bucket-scoped CDC sink, with a checkpoint
    restart applying only new binlog events — the MySQL analog of the
    transfer's replicate mode."""
    from transferia_spark.streaming.pipeline import ReplicationPipeline
    from transferia_spark.streaming.bucketed_table import (
        BucketedCdcApplySink,
        BucketedParquetTable,
    )

    spark.dataSource.register(BinlogJsonDataSource)
    bdir = str(tmp_path / "binlog")
    ckpt = str(tmp_path / "ckpt")
    schema = binlog_output_schema("id long, v string")
    table = BucketedParquetTable(
        spark, str(tmp_path / "tbl"), keys=["id"], n_buckets=4
    )
    sink = BucketedCdcApplySink(table)

    def run():
        stream = (
            spark.readStream.format("binlogjson")
            .schema(schema)
            .option("path", bdir)
            .load()
            # the sink consumes the ChangeItem contract; _table/_present
            # are per-table routing/TOAST metadata this single-table
            # pipeline doesn't need
            .drop("_table", "_present")
        )
        pipe = ReplicationPipeline(
            stream=stream,
            sink=sink,
            checkpoint_dir=ckpt,
            trigger={"availableNow": True},
        )
        q = pipe.start()
        q.awaitTermination()

    _emit(bdir, "000.jsonl", [
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 10,
         "row_idx": 0, "after": {"id": 1, "v": "a"}},
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 20,
         "row_idx": 0, "after": {"id": 2, "v": "b"}},
        {"action": "update", "log_file": "binlog.000001", "log_pos": 30,
         "row_idx": 0, "before": {"id": 1, "v": "a"},
         "after": {"id": 1, "v": "a2"}},
    ])
    run()
    assert {(r.id, r.v) for r in table.read().collect()} == {(1, "a2"), (2, "b")}

    # binlog advances: delete + a PK-changing update; restart applies
    # ONLY the new events from the checkpointed position
    _emit(bdir, "001.jsonl", [
        {"action": "delete", "log_file": "binlog.000002", "log_pos": 4,
         "row_idx": 0, "before": {"id": 2, "v": "b"}},
        {"action": "update", "log_file": "binlog.000002", "log_pos": 8,
         "row_idx": 0, "before": {"id": 1, "v": "a2"},
         "after": {"id": 7, "v": "moved"}},
    ])
    run()
    assert {(r.id, r.v) for r in table.read().collect()} == {(7, "moved")}
    assert sink.batches_applied == 2  # one non-empty batch per run


def test_change_stream_replication_pipeline_end_to_end(spark, tmp_path):
    """Mongo symmetry of the binlog pipeline e2e: change-stream source
    → ReplicationPipeline → bucket-scoped sink, with partial updates
    exercising the _present contract through streaming + checkpoint
    restart ($unset NULLs, untouched columns survive)."""
    from transferia_spark.streaming.pipeline import ReplicationPipeline
    from transferia_spark.streaming.bucketed_table import (
        BucketedCdcApplySink,
        BucketedParquetTable,
    )

    spark.dataSource.register(ChangeStreamJsonDataSource)
    csdir = str(tmp_path / "cs")
    ckpt = str(tmp_path / "ckpt")
    schema = change_stream_output_schema("_id long, v string, w string")
    table = BucketedParquetTable(
        spark, str(tmp_path / "tbl"), keys=["_id"], n_buckets=4
    )
    sink = BucketedCdcApplySink(table)

    def run():
        stream = (
            spark.readStream.format("mongostream")
            .schema(schema)
            .option("path", csdir)
            .load()
            .drop("_table")
        )
        pipe = ReplicationPipeline(
            stream=stream, sink=sink, checkpoint_dir=ckpt,
            trigger={"availableNow": True},
        )
        q = pipe.start()
        q.awaitTermination()

    _emit(csdir, "000.jsonl", [
        {"operationType": "insert", "clusterTime": 1, "order": 0,
         "documentKey": {"_id": 1},
         "fullDocument": {"_id": 1, "v": "a", "w": "keep"}},
        {"operationType": "insert", "clusterTime": 1, "order": 1,
         "documentKey": {"_id": 2},
         "fullDocument": {"_id": 2, "v": "b", "w": "x"}},
        # partial: v updated, w ABSENT (must survive)
        {"operationType": "update", "clusterTime": 2, "order": 0,
         "documentKey": {"_id": 1},
         "updateDescription": {"updatedFields": {"v": "a2"},
                               "removedFields": []}},
    ])
    run()
    got = {r._id: (r.v, r.w) for r in table.read().collect()}
    assert got == {1: ("a2", "keep"), 2: ("b", "x")}

    # restart: $unset w on doc 2 (carried-as-NULL) + delete doc 1
    _emit(csdir, "001.jsonl", [
        {"operationType": "update", "clusterTime": 3, "order": 0,
         "documentKey": {"_id": 2},
         "updateDescription": {"updatedFields": {},
                               "removedFields": ["w"]}},
        {"operationType": "delete", "clusterTime": 3, "order": 1,
         "documentKey": {"_id": 1}},
    ])
    run()
    got = {r._id: (r.v, r.w) for r in table.read().collect()}
    assert got == {2: ("b", None)}  # w genuinely NULLed, v untouched


def test_binlog_bounded_catchup_batches(spark, tmp_path):
    """max_events_per_batch (≈ the reference's bufferer caps): a backlog
    of 7 events drains in ceil(7/3) planned batches — each latestOffset
    advances at most 3 positions past the last planned batch — and every
    event is delivered exactly once across the batches."""
    from transferia_spark.streaming.cdc_sources import (
        BinlogJsonStreamReader,
        binlog_output_schema,
    )

    bdir = str(tmp_path / "b")
    _emit(bdir, "000.jsonl", [
        {"action": "insert", "log_file": "binlog.000001", "log_pos": p,
         "row_idx": 0, "after": {"id": p, "v": "x"}}
        for p in range(10, 80, 10)
    ])
    reader = BinlogJsonStreamReader(
        binlog_output_schema("id long, v string"),
        {"path": bdir, "max_events_per_batch": "3"},
    )
    seen, batches = [], 0
    start = reader.initialOffset()
    while True:
        end = reader.latestOffset()
        if end == start:
            break
        batches += 1
        for part in reader.partitions(start, end):
            seen += [r[0] for r in reader._read_tuples(part)]
        start = end
    assert batches == 3  # 3 + 3 + 1
    assert seen == [10, 20, 30, 40, 50, 60, 70]

    # uncapped reader plans the whole backlog in one batch
    reader2 = BinlogJsonStreamReader(
        binlog_output_schema("id long, v string"), {"path": bdir}
    )
    assert reader2.latestOffset()["lsn"] == 10**12 + 70


def test_waljson_bounded_catchup_batches(spark, tmp_path):
    from transferia_spark.streaming.wal_source import (
        WalJsonStreamReader,
        wal_output_schema,
    )

    wdir = str(tmp_path / "w")
    _emit(wdir, "000.jsonl", [
        {"action": "I", "lsn": n,
         "columns": [{"name": "id", "value": n}]}
        for n in range(1, 6)
    ])
    reader = WalJsonStreamReader(
        wal_output_schema("id long"),
        {"path": wdir, "max_events_per_batch": "2"},
    )
    seen, start = [], reader.initialOffset()
    while True:
        end = reader.latestOffset()
        if end == start:
            break
        for part in reader.partitions(start, end):
            seen += [r[0] for r in reader._read_tuples(part)]
        start = end
    assert seen == [1, 2, 3, 4, 5]


def test_change_stream_bounded_catchup_batches(spark, tmp_path):
    from transferia_spark.streaming.cdc_sources import (
        ChangeStreamJsonStreamReader,
        change_stream_output_schema,
    )

    csdir = str(tmp_path / "cs")
    _emit(csdir, "000.jsonl", [
        {"operationType": "insert", "clusterTime": t, "order": 0,
         "documentKey": {"_id": t}, "fullDocument": {"_id": t, "v": "x"}}
        for t in range(1, 6)
    ])
    reader = ChangeStreamJsonStreamReader(
        change_stream_output_schema("_id long, v string"),
        {"path": csdir, "max_events_per_batch": "2"},
    )
    seen, start = [], reader.initialOffset()
    while True:
        end = reader.latestOffset()
        if end == start:
            break
        for part in reader.partitions(start, end):
            seen += [r[0] for r in reader._read_tuples(part)]
        start = end
    assert seen == [1, 2, 3, 4, 5]


def test_bounded_catchup_offset_survives_reader_restart(spark, tmp_path):
    """ADVICE r5: with max_events_per_batch, a restarted reader's
    in-memory _base is gone, so latestOffset() used to re-base on
    start_lsn and return an offset BELOW the committed checkpoint —
    Spark would record the regressed offset and replay processed
    ranges. The durable ack written by commit() now seeds the floor:
    a fresh reader resumes planning exactly where the old one acked."""
    from transferia_spark.streaming.wal_source import (
        WalJsonStreamReader,
        wal_output_schema,
    )

    wdir = str(tmp_path / "w")
    ack = str(tmp_path / "ack.json")
    _emit(wdir, "000.jsonl", [
        {"action": "I", "lsn": n, "columns": [{"name": "id", "value": n}]}
        for n in range(1, 6)
    ])
    opts = {"path": wdir, "max_events_per_batch": "2", "ack_file": ack}
    r1 = WalJsonStreamReader(wal_output_schema("id long"), opts)
    start = r1.initialOffset()
    b1 = r1.latestOffset()
    assert b1 == {"lsn": 2}
    r1.partitions(start, b1)
    b2 = r1.latestOffset()
    assert b2 == {"lsn": 4}
    r1.partitions(b1, b2)
    r1.commit(b2)  # durable: batches up to lsn 4 are processed

    # query restart: a FRESH reader instance must not plan below 4
    r2 = WalJsonStreamReader(wal_output_schema("id long"), opts)
    assert r2.latestOffset() == {"lsn": 5}

    # binlog reader: same durable-floor contract
    from transferia_spark.streaming.cdc_sources import (
        BinlogJsonStreamReader,
        binlog_output_schema,
    )

    bdir = str(tmp_path / "b")
    back = str(tmp_path / "back.json")
    _emit(bdir, "000.jsonl", [
        {"action": "insert", "log_file": "binlog.000001", "log_pos": p,
         "row_idx": 0, "after": {"id": p, "v": "x"}}
        for p in (10, 20, 30)
    ])
    bopts = {"path": bdir, "max_events_per_batch": "2", "ack_file": back}
    m1 = BinlogJsonStreamReader(binlog_output_schema("id long, v string"), bopts)
    e1 = m1.latestOffset()
    m1.partitions(m1.initialOffset(), e1)
    m1.commit(e1)
    m2 = BinlogJsonStreamReader(binlog_output_schema("id long, v string"), bopts)
    assert m2.latestOffset()["lsn"] == 10**12 + 30

    # mongo change-stream reader: (ts, order) pair floor
    from transferia_spark.streaming.cdc_sources import (
        ChangeStreamJsonStreamReader,
        change_stream_output_schema,
    )

    cdir = str(tmp_path / "cs")
    cack = str(tmp_path / "cack.json")
    _emit(cdir, "000.jsonl", [
        {"operationType": "insert", "clusterTime": 100, "order": i,
         "documentKey": {"_id": i}, "fullDocument": {"_id": i}}
        for i in range(3)
    ])
    copts = {"path": cdir, "max_events_per_batch": "2", "ack_file": cack}
    c1 = ChangeStreamJsonStreamReader(
        change_stream_output_schema("_id long"), copts
    )
    ce = c1.latestOffset()
    c1.partitions(c1.initialOffset(), ce)
    c1.commit(ce)
    c2 = ChangeStreamJsonStreamReader(
        change_stream_output_schema("_id long"), copts
    )
    assert c2.latestOffset() == {"ts": 100, "order": 2}


_FS_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_FC_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _wal_events(lo: int, hi: int) -> list[dict]:
    return [
        {"action": "I", "lsn": n, "columns": [{"name": "id", "value": n}]}
        for n in range(lo, hi + 1)
    ]


def _run_wal(spark, wdir, ckpt) -> list[int]:
    from transferia_spark.streaming.wal_source import (
        WalJsonDataSource,
        wal_output_schema,
    )

    spark.dataSource.register(WalJsonDataSource)
    got = []
    _run(spark, "waljson", wal_output_schema("id long"), wdir, ckpt, got)
    return sorted(r[0] for r in got)


def test_checkpoint_logs_keep_checksums(spark, tmp_path):
    """Checkpoint logs are written through the FileSystem-based
    manager, and every offsets/ and commits/ entry still has its
    .N.crc beside it."""
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}"), hconf
        )
    assert fm.getClass().getName() == _FS_CKPT_MANAGER

    wdir, ckpt = str(tmp_path / "w"), str(tmp_path / "ck")
    _emit(wdir, "000.jsonl", _wal_events(1, 3))
    assert _run_wal(spark, wdir, ckpt) == [1, 2, 3]
    _emit(wdir, "001.jsonl", _wal_events(4, 6))
    assert _run_wal(spark, wdir, ckpt) == [4, 5, 6]
    for log in ("offsets", "commits"):
        names = set(os.listdir(os.path.join(ckpt, log)))
        entries = sorted(n for n in names if n.isdigit())
        assert entries == ["0", "1"], (log, names)
        assert {f".{n}.crc" for n in entries} <= names, (log, names)


def test_file_context_checkpoint_resumes_exactly(spark, tmp_path):
    """A checkpoint written under the FileContext-based manager (the
    Spark default) resumes under the FileSystem-based one with no
    replayed and no skipped positions."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    wdir, ckpt = str(tmp_path / "w"), str(tmp_path / "ck")
    _emit(wdir, "000.jsonl", _wal_events(1, 4))
    spark.conf.set(key, _FC_CKPT_MANAGER)
    try:
        assert _run_wal(spark, wdir, ckpt) == [1, 2, 3, 4]
    finally:
        spark.conf.set(key, _FS_CKPT_MANAGER)
    _emit(wdir, "001.jsonl", _wal_events(5, 9))
    assert _run_wal(spark, wdir, ckpt) == [5, 6, 7, 8, 9]
    _emit(wdir, "002.jsonl", _wal_events(10, 11))
    assert _run_wal(spark, wdir, ckpt) == [10, 11]


def test_corrupt_checkpoint_entry_fails_the_restart(spark, tmp_path):
    """The .crc is still checked: one flipped byte in the last offsets
    entry makes the restarted query fail with a checksum error."""
    wdir, ckpt = str(tmp_path / "w"), str(tmp_path / "ck")
    _emit(wdir, "000.jsonl", _wal_events(1, 3))
    _run_wal(spark, wdir, ckpt)
    _emit(wdir, "001.jsonl", _wal_events(4, 6))
    _run_wal(spark, wdir, ckpt)
    last = os.path.join(ckpt, "offsets", "1")
    raw = bytearray(open(last, "rb").read())
    start = raw.rindex(b"\n") + 1  # last line: the source's end offset
    assert json.loads(raw[start:]) == {"lsn": 6}
    raw[raw.index(b"6", start)] = ord("7")  # same length, other lsn
    with open(last, "wb") as f:
        f.write(raw)
    _emit(wdir, "002.jsonl", _wal_events(7, 8))
    with pytest.raises(Exception, match="(?i)checksum"):
        _run_wal(spark, wdir, ckpt)


def test_partitions_floor_offset_on_spark_start(spark, tmp_path):
    """Belt-and-braces for the same regression: even WITHOUT an ack
    file, partitions() floors _base at Spark's committed start offset,
    so a planner that somehow wrote a regressed end cannot make a later
    latestOffset() re-plan already-processed LSNs."""
    from transferia_spark.streaming.wal_source import (
        WalJsonStreamReader,
        wal_output_schema,
    )

    wdir = str(tmp_path / "w2")
    _emit(wdir, "000.jsonl", [
        {"action": "I", "lsn": n, "columns": [{"name": "id", "value": n}]}
        for n in range(1, 6)
    ])
    r = WalJsonStreamReader(
        wal_output_schema("id long"),
        {"path": wdir, "max_events_per_batch": "2"},
    )
    # restart mid-stream: Spark hands the checkpointed start=4 with a
    # regressed end=2 (planned by a fresh reader before the fix)
    r.partitions({"lsn": 4}, {"lsn": 2})
    assert r.latestOffset() == {"lsn": 5}


def test_resume_token_algebra_and_token_bearing_captures(spark, tmp_path):
    """r5 verdict item 10: real resume tokens. The `_data` hex begins
    with the public KeyString 0x82 Timestamp tag + BE seconds + BE
    increment; token-bearing captures (no explicit clusterTime/order)
    order identically to explicit ones, and `start_after` resumes from
    a stored token."""
    from transferia_spark.streaming.cdc_sources import (
        ChangeStreamJsonStreamReader,
        change_stream_output_schema,
        format_resume_token,
        parse_resume_token,
    )

    tok = format_resume_token(1700000000, 3, tail=b"\x01opaque-suffix")
    assert parse_resume_token(tok) == (1700000000, 3)
    with pytest.raises(ValueError, match="0x82"):
        parse_resume_token("7f0011")
    with pytest.raises(ValueError, match="too short"):
        parse_resume_token("82000001")

    csdir = str(tmp_path / "cs")
    _emit(csdir, "000.jsonl", [
        {"operationType": "insert",
         "_id": {"_data": format_resume_token(100, i)},
         "documentKey": {"_id": i},
         "fullDocument": {"_id": i, "v": f"v{i}"}}
        for i in range(4)
    ])
    reader = ChangeStreamJsonStreamReader(
        change_stream_output_schema("_id long, v string"), {"path": csdir}
    )
    end = reader.latestOffset()
    assert end == {"ts": 100, "order": 3}
    rows = []
    for part in reader.partitions(reader.initialOffset(), end):
        rows += list(reader._read_tuples(part))
    assert [(r[0], r[1]) for r in rows] == [
        (0, "v0"), (1, "v1"), (2, "v2"), (3, "v3"),
    ]

    # restart from a PERSISTED token: only events after it replay
    resumed = ChangeStreamJsonStreamReader(
        change_stream_output_schema("_id long, v string"),
        {"path": csdir, "start_after": format_resume_token(100, 1)},
    )
    assert resumed.initialOffset() == {"ts": 100, "order": 1}
    rows = []
    for part in resumed.partitions(resumed.initialOffset(), resumed.latestOffset()):
        rows += list(resumed._read_tuples(part))
    assert [(r[0], r[1]) for r in rows] == [(2, "v2"), (3, "v3")]


def test_replicate_verb_resumes_from_mongo_token(spark, tmp_path):
    """End-to-end: a mongostream transfer whose source carries real
    resume tokens; the activation-time source position is the last
    token's (ts, order), so pre-snapshot events never replay, and a
    later catch-up applies only post-snapshot changes."""
    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.streaming.cdc_sources import format_resume_token
    from transferia_spark.tasks.replicate import run_replication

    src = str(tmp_path / "docs.parquet")
    cs = str(tmp_path / "cs")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "_id long, v string"
    ).coalesce(1).write.parquet(src)
    # pre-snapshot history already folded into the snapshot
    _emit(cs, "000.jsonl", [
        {"operationType": "replace",
         "_id": {"_data": format_resume_token(50, 0)},
         "documentKey": {"_id": 1}, "fullDocument": {"_id": 1, "v": "STALE"}},
    ])
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: mongostream
    path: {cs}
    schema: "_id long, v string"
  target: {{kind: bucketed, root: {target}, keys: [_id], n_buckets: 4}}
""")
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    table = BucketedParquetTable(spark, target, keys=["_id"], n_buckets=4)
    assert {(r._id, r.v) for r in table.read().collect()} == {(1, "a"), (2, "b")}

    _emit(cs, "001.jsonl", [
        {"operationType": "insert",
         "_id": {"_data": format_resume_token(60, 0)},
         "documentKey": {"_id": 3}, "fullDocument": {"_id": 3, "v": "c"}},
        {"operationType": "delete",
         "_id": {"_data": format_resume_token(60, 1)},
         "documentKey": {"_id": 2}},
    ])
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)
    assert {(r._id, r.v) for r in table.read().collect()} == {
        (1, "a"), (3, "c"),
    }


def test_offset_scan_cache_skips_fully_planned_files(spark, tmp_path, monkeypatch):
    """latestOffset runs on EVERY trigger; the per-file high-watermark
    cache must make planning O(new data), not O(directory): files whose
    max position sits at or below the floor are never re-read, and
    read partitions exclude them too."""
    from transferia_spark.streaming.wal_source import (
        WalJsonStreamReader,
        wal_output_schema,
    )

    wdir = str(tmp_path / "w")
    _emit(wdir, "000.jsonl", [
        {"action": "I", "lsn": n, "columns": [{"name": "id", "value": n}]}
        for n in (1, 2, 3)
    ])
    reader = WalJsonStreamReader(wal_output_schema("id long"), {"path": wdir})

    scans: list[str] = []
    orig = WalJsonStreamReader._file_positions

    def spy(self, f):
        scans.append(os.path.basename(f))
        return orig(self, f)

    monkeypatch.setattr(WalJsonStreamReader, "_file_positions", spy)

    assert reader.latestOffset() == {"lsn": 3}
    assert scans == ["000.jsonl"]
    reader.partitions({"lsn": 0}, {"lsn": 3})
    # steady state: the fully-planned file is proven skippable — the
    # next trigger re-reads NOTHING
    assert reader.latestOffset() == {"lsn": 3}
    assert scans == ["000.jsonl"]

    # new data arrives: only the NEW file is scanned
    _emit(wdir, "001.jsonl", [
        {"action": "I", "lsn": n, "columns": [{"name": "id", "value": n}]}
        for n in (4, 5)
    ])
    assert reader.latestOffset() == {"lsn": 5}
    assert scans == ["000.jsonl", "001.jsonl"]
    # read tasks for the new batch exclude the old file entirely
    parts = reader.partitions({"lsn": 3}, {"lsn": 5})
    assert [os.path.basename(p.path) for p in parts] == ["001.jsonl"]
    rows = [r for p in parts for r in reader._read_tuples(p)]
    assert [r[0] for r in rows] == [4, 5]

    # a file that GROWS (size change) is re-scanned, cache refreshed
    with open(os.path.join(wdir, "001.jsonl"), "a") as f:
        f.write(json.dumps(
            {"action": "I", "lsn": 6, "columns": [{"name": "id", "value": 6}]}
        ) + "\n")
    assert reader.latestOffset() == {"lsn": 6}
    assert scans == ["000.jsonl", "001.jsonl", "001.jsonl"]


def test_prune_committed_trims_fully_acked_files(spark, tmp_path):
    """prune_committed (the slot-trim analog): commit() deletes files
    the planner cache proves wholly at-or-below the committed offset —
    the tailed directory stays bounded on a long-running stream — and
    never touches files with uncommitted positions."""
    from transferia_spark.streaming.wal_source import (
        WalJsonStreamReader,
        wal_output_schema,
    )

    wdir = str(tmp_path / "w")
    for i, lsns in enumerate([(1, 2), (3, 4), (5, 6)]):
        _emit(wdir, f"{i:03d}.jsonl", [
            {"action": "I", "lsn": n, "columns": [{"name": "id", "value": n}]}
            for n in lsns
        ])
    reader = WalJsonStreamReader(
        wal_output_schema("id long"),
        {"path": wdir, "prune_committed": "true",
         "max_events_per_batch": "4"},
    )
    end = reader.latestOffset()
    assert end == {"lsn": 4}
    reader.partitions(reader.initialOffset(), end)
    reader.commit(end)
    # files 000 (max 2) and 001 (max 4) are fully committed → gone;
    # 002 (max 6) survives
    assert sorted(os.listdir(wdir)) == ["002.jsonl"]
    # planning continues correctly over the trimmed directory
    assert reader.latestOffset() == {"lsn": 6}
    rows = [
        r
        for p in reader.partitions({"lsn": 4}, {"lsn": 6})
        for r in reader._read_tuples(p)
    ]
    assert [r[0] for r in rows] == [5, 6]


def test_commit_syncs_ack_before_pruning(spark, tmp_path, monkeypatch):
    """The ack lets prune_committed delete the covered input files, so
    it must be durable first: commit() fsyncs the ack file, renames it
    in and fsyncs its directory, and only then prunes. Inodes identify
    what was synced (a rename keeps them)."""
    from transferia_spark.streaming import wal_source

    wdir, ack = str(tmp_path / "w"), str(tmp_path / "ack.json")
    for i, lsns in enumerate([(1, 2), (3, 4)]):
        _emit(wdir, f"{i:03d}.jsonl", [
            {"action": "I", "lsn": n, "columns": [{"name": "id", "value": n}]}
            for n in lsns
        ])
    reader = wal_source.WalJsonStreamReader(
        wal_source.wal_output_schema("id long"),
        {"path": wdir, "prune_committed": "true", "ack_file": ack,
         "max_events_per_batch": "2"},
    )
    end = reader.latestOffset()
    reader.partitions(reader.initialOffset(), end)
    events: list[tuple] = []
    real_fsync, real_replace = os.fsync, os.replace
    real_prune = wal_source.prune_committed_files

    def spy_fsync(fd):
        events.append(("fsync", os.fstat(fd).st_ino))
        return real_fsync(fd)

    def spy_replace(src, dst):
        events.append(("replace", dst))
        return real_replace(src, dst)

    def spy_prune(*args):
        events.append(("prune",))
        return real_prune(*args)

    monkeypatch.setattr(os, "fsync", spy_fsync)
    monkeypatch.setattr(os, "replace", spy_replace)
    monkeypatch.setattr(wal_source, "prune_committed_files", spy_prune)
    reader.commit(end)
    monkeypatch.undo()
    assert events == [
        ("fsync", os.stat(ack).st_ino),
        ("replace", ack),
        ("fsync", os.stat(tmp_path).st_ino),
        ("prune",),
    ]
    assert json.load(open(ack)) == end
    assert sorted(os.listdir(wdir)) == ["001.jsonl"]  # 000 was pruned


def test_wal_and_mongo_readers_dead_letter_poison_lines(spark, tmp_path):
    """Reader-level dead-letter contract for the wal and change-stream
    formats (the binlog one is covered e2e through the verb): with a
    route configured, poison lines are recorded once (idempotent
    names) and planning/reading continues; without one they raise."""
    from transferia_spark.streaming.cdc_sources import (
        ChangeStreamJsonStreamReader,
        change_stream_output_schema,
    )
    from transferia_spark.streaming.wal_source import (
        WalJsonStreamReader,
        wal_output_schema,
    )

    wdir = str(tmp_path / "w")
    os.makedirs(wdir)
    with open(os.path.join(wdir, "000.jsonl"), "w") as f:
        f.write(json.dumps({"action": "I", "lsn": 1,
                            "columns": [{"name": "id", "value": 1}]}) + "\n")
        f.write("{broken\n")
        f.write(json.dumps({"action": "I", "schema": "public",
                            "table": "items", "columns": []}) + "\n")  # no lsn
        f.write(json.dumps({"action": "I", "lsn": 2,
                            "columns": [{"name": "id", "value": 2}]}) + "\n")
    dl = str(tmp_path / "dl")
    reader = WalJsonStreamReader(
        wal_output_schema("id long"), {"path": wdir, "dead_letter_dir": dl}
    )
    end = reader.latestOffset()
    assert end == {"lsn": 2}
    rows = [
        r
        for p in reader.partitions(reader.initialOffset(), end)
        for r in reader._read_tuples(p)
    ]
    assert [r[0] for r in rows] == [1, 2]
    recorded = sorted(os.listdir(dl))
    # keys are per-line BYTE offsets (stable under seek hints, r9):
    # exactly the two poison lines, one record each
    assert len(recorded) == 2
    assert all(n.startswith("000.jsonl.") and n.endswith(".json")
               for n in recorded)
    # each record names the table its row would have carried in _table
    # (none for the line that is not even JSON)
    tables = []
    for n in recorded:
        with open(os.path.join(dl, n)) as fh:
            tables.append(json.load(fh)["table"])
    assert sorted(tables, key=str) == [None, "public.items"]
    # re-read (crash replay): same files, no duplicates
    rows = [
        r
        for p in reader.partitions(reader.initialOffset(), end)
        for r in reader._read_tuples(p)
    ]
    assert sorted(os.listdir(dl)) == recorded

    # loud without a route
    strict = WalJsonStreamReader(wal_output_schema("id long"), {"path": wdir})
    with pytest.raises(Exception):
        strict.latestOffset()

    csdir = str(tmp_path / "cs")
    os.makedirs(csdir)
    with open(os.path.join(csdir, "000.jsonl"), "w") as f:
        f.write(json.dumps({"operationType": "insert", "clusterTime": 1,
                            "order": 0, "documentKey": {"_id": 1},
                            "fullDocument": {"_id": 1}}) + "\n")
        f.write("not json at all\n")
    cdl = str(tmp_path / "cdl")
    creader = ChangeStreamJsonStreamReader(
        change_stream_output_schema("_id long"),
        {"path": csdir, "dead_letter_dir": cdl},
    )
    cend = creader.latestOffset()
    rows = [
        r
        for p in creader.partitions(creader.initialOffset(), cend)
        for r in creader._read_tuples(p)
    ]
    assert [r[0] for r in rows] == [1]
    cs_recorded = sorted(os.listdir(cdl))
    assert len(cs_recorded) == 1  # byte-offset key (r9), one record


def test_resume_token_property_round_trip():
    """Hypothesis: tokens round-trip for arbitrary timestamps,
    increments, and opaque tails, and order like their (ts, inc)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from transferia_spark.streaming.cdc_sources import (
        format_resume_token,
        parse_resume_token,
    )

    @settings(max_examples=80, deadline=None)
    @given(
        st.integers(0, (1 << 32) - 1),
        st.integers(0, (1 << 32) - 1),
        st.binary(max_size=32),
    )
    def check(ts, inc, tail):
        assert parse_resume_token(format_resume_token(ts, inc, tail)) == (
            ts, inc,
        )

    @settings(max_examples=60, deadline=None)
    @given(
        st.tuples(st.integers(0, 1 << 31), st.integers(0, 1 << 31)),
        st.tuples(st.integers(0, 1 << 31), st.integers(0, 1 << 31)),
    )
    def check_order(a, b):
        pa = parse_resume_token(format_resume_token(*a))
        pb = parse_resume_token(format_resume_token(*b))
        assert (pa < pb) == (a < b)

    check()
    check_order()


def test_mongo_poison_position_types_dead_letter(spark, tmp_path):
    """Self-review r6: poison positions beyond malformed JSON —
    clusterTime: null, _id as a scalar — must route, not raise, when a
    dead-letter route is configured."""
    from transferia_spark.streaming.cdc_sources import (
        ChangeStreamJsonStreamReader,
        change_stream_output_schema,
    )

    csdir = str(tmp_path / "cs")
    _emit(csdir, "000.jsonl", [
        # clusterTime: null → int(None) is a TypeError: poison
        {"operationType": "insert", "clusterTime": None, "order": 0,
         "documentKey": {"_id": 9}, "fullDocument": {"_id": 9}},
        # a scalar _id with no position fields is NOT poison: the
        # contract default-zeros missing positions → (0, 0)
        {"operationType": "insert", "_id": "not-a-token-dict",
         "documentKey": {"_id": 8}, "fullDocument": {"_id": 8}},
        {"operationType": "insert", "clusterTime": 5, "order": 1,
         "documentKey": {"_id": 1}, "fullDocument": {"_id": 1}},
    ])
    dl = str(tmp_path / "dl")
    reader = ChangeStreamJsonStreamReader(
        change_stream_output_schema("_id long"),
        {"path": csdir, "dead_letter_dir": dl},
    )
    end = reader.latestOffset()
    assert end == {"ts": 5, "order": 1}
    rows = [
        r
        for p in reader.partitions(reader.initialOffset(), end)
        for r in reader._read_tuples(p)
    ]
    assert [r[0] for r in rows] == [8, 1]
    assert len(os.listdir(dl)) == 1  # only the TypeError line routed


def test_binlog_poison_log_file_type_dead_letter(spark, tmp_path):
    """ADVICE r6: a non-string log_file (e.g. 123) raised
    AttributeError inside binlog_lsn and escaped latestOffset() even
    with a dead-letter route — planning and read() must agree on what
    is poison."""
    from transferia_spark.streaming.cdc_sources import (
        BinlogJsonStreamReader,
        binlog_output_schema,
    )

    bdir = str(tmp_path / "b")
    _emit(bdir, "000.jsonl", [
        {"action": "insert", "log_file": 123, "log_pos": 10,
         "row_idx": 0, "after": {"id": 1}},
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 20,
         "row_idx": 0, "after": {"id": 2}},
    ])
    dl = str(tmp_path / "dl")
    reader = BinlogJsonStreamReader(
        binlog_output_schema("id long"),
        {"path": bdir, "dead_letter_dir": dl},
    )
    end = reader.latestOffset()  # must not raise
    assert end == {"lsn": 10**12 + 20}
    rows = [
        r
        for p in reader.partitions(reader.initialOffset(), end)
        for r in reader._read_tuples(p)
    ]
    assert [r[0] for r in rows] == [2]
    assert len(os.listdir(dl)) == 1

    # without the route the poison is still loud
    loud = BinlogJsonStreamReader(
        binlog_output_schema("id long"), {"path": bdir}
    )
    with pytest.raises(AttributeError):
        loud.latestOffset()


def test_scan_cache_transient_stat_failure_not_skippable(tmp_path, monkeypatch):
    """ADVICE r6: a transient EACCES/EIO on getsize must NOT mark a
    cached file skippable (silent data skip + prune eligibility);
    only FileNotFoundError means 'vanished'."""
    from transferia_spark.streaming.wal_source import OffsetScanCache

    f = str(tmp_path / "000.jsonl")
    with open(f, "w") as fh:
        fh.write("x" * 10)
    cache = OffsetScanCache()
    list(cache.pending([f], 0, lambda _f: iter([5])))
    assert cache.skippable(f, 5)  # proven fully committed

    real_getsize = os.path.getsize

    def flaky(path):
        if path == f:
            raise PermissionError(13, "transient EACCES", path)
        return real_getsize(path)

    monkeypatch.setattr(os.path, "getsize", flaky)
    assert not cache.skippable(f, 5)  # transient error: keep the file
    monkeypatch.setattr(os.path, "getsize", real_getsize)
    os.remove(f)
    assert cache.skippable(f, 5)  # genuinely vanished: nothing to read


def test_wal_read_seeks_past_processed_bytes_and_early_stops(spark, tmp_path):
    """r9: read() is O(batch bytes), not O(file) — proven by byte
    surgery. A later batch SEEKS past the file head (garbage planted
    there is never decoded), and an lsn-ordered file EARLY-STOPS past
    the batch end (garbage planted in the tail is never decoded
    either). A full-scan reader would raise on both."""
    from transferia_spark.streaming.wal_source import (
        WalJsonStreamReader,
        wal_output_schema,
    )

    wdir = str(tmp_path / "w")
    os.makedirs(wdir)
    path = os.path.join(wdir, "000.jsonl")
    with open(path, "w") as f:
        for lsn in range(1, 2001):
            f.write(json.dumps({"action": "I", "lsn": lsn,
                                "columns": [{"name": "id", "value": lsn}]})
                    + "\n")
    reader = WalJsonStreamReader(
        wal_output_schema("id long"),
        {"path": wdir, "max_events_per_batch": "1000"},
    )
    end1 = reader.latestOffset()
    assert end1 == {"lsn": 1000}
    [p1] = [p for p in reader.partitions({"lsn": 0}, end1) if p.path]
    assert p1.ordered
    # tail surgery: everything after the first line above batch 1's
    # end (which must parse to trigger the stop) becomes garbage
    raw = open(path, "rb").read()
    marker = json.dumps({"action": "I", "lsn": 1001,
                         "columns": [{"name": "id", "value": 1001}]}
                        ).encode() + b"\n"
    cut = raw.index(marker) + len(marker)
    with open(path, "r+b") as f:
        f.seek(cut)
        f.write(b"X" * (len(raw) - cut))
    rows = list(reader._read_tuples(p1))
    assert [r[0] for r in rows] == list(range(1, 1001))
    # restore, then plan batch 2 and corrupt the file HEAD up to the
    # slice's seek hint — a seeking reader never touches those bytes
    with open(path, "wb") as f:
        f.write(raw)
    end2 = reader.latestOffset()
    assert end2 == {"lsn": 2000}
    [p2] = [p for p in reader.partitions(end1, end2) if p.path]
    assert p2.start_byte > 0
    with open(path, "r+b") as f:
        f.write(b"X" * p2.start_byte)
    rows = list(reader._read_tuples(p2))
    assert [r[0] for r in rows] == list(range(1001, 2001))


def test_wal_planner_decodes_each_file_once(spark, tmp_path):
    """r9: latestOffset answers repeat triggers from the cached sorted
    positions — a size-stable file is never re-decoded (pinned by
    same-size content surgery, the probe-cache proof style)."""
    from transferia_spark.streaming.wal_source import (
        WalJsonStreamReader,
        wal_output_schema,
    )

    wdir = str(tmp_path / "w")
    os.makedirs(wdir)
    path = os.path.join(wdir, "000.jsonl")
    with open(path, "w") as f:
        f.write(json.dumps({"action": "I", "lsn": 11,
                            "columns": [{"name": "id", "value": 1}]}) + "\n")
    reader = WalJsonStreamReader(
        wal_output_schema("id long"), {"path": wdir}
    )
    assert reader.latestOffset() == {"lsn": 11}
    # same-size replacement with a DIFFERENT lsn: a re-decoding planner
    # would see 99, the cache answers 11
    raw = open(path, "rb").read()
    doctored = raw.replace(b'"lsn": 11', b'"lsn": 99')
    assert len(doctored) == len(raw)
    with open(path, "wb") as f:
        f.write(doctored)
    assert reader.latestOffset() == {"lsn": 11}
    # a GROWN file is re-decoded (size change invalidates)
    with open(path, "ab") as f:
        f.write(json.dumps({"action": "I", "lsn": 120,
                            "columns": [{"name": "id", "value": 2}]}
                           ).encode() + b"\n")
    assert reader.latestOffset() == {"lsn": 120}


def test_split_decode_slices_are_equivalent(spark, tmp_path, monkeypatch):
    """attach_split_slices (r11): a big planned range splits into
    parallel sub-slices at seek-checkpoint LSN boundaries — the union
    of the sub-slices' rows is EXACTLY the single-slice read
    (payloads, ops, lsns AND counters), including multi-event
    transactions and one >512-line transaction spanning checkpoint
    boundaries. The slice floor is lowered to 2 checkpoints so a
    4k-event file still splits."""
    import json as _json
    from collections import Counter

    from transferia_spark.streaming import wal_source
    from transferia_spark.streaming.wal_source import (
        WalJsonStreamReader,
        wal_output_schema,
    )

    monkeypatch.setattr(wal_source, "SLICE_MIN_CHECKPOINTS", 2)

    wal = tmp_path / "wal"
    wal.mkdir()
    lines = []
    lsn = 0
    rows = 0
    while rows < 4000:
        lsn += 1
        per_tx = 1 + (lsn % 5)
        if lsn == 40:
            per_tx = 1200  # giant tx: same lsn across >2 checkpoints
        for i in range(per_tx):
            lines.append(_json.dumps({
                "action": "I", "lsn": lsn,
                "columns": [
                    {"name": "id", "value": rows},
                    {"name": "v", "value": f"r{rows}"},
                ],
            }))
            rows += 1
    (wal / "000.jsonl").write_text("\n".join(lines) + "\n")
    schema = wal_output_schema("id long, v string")

    def collect(splits, lo, hi):
        r = WalJsonStreamReader(schema, {
            "path": str(wal), "decode_splits": str(splits),
        })
        r.latestOffset()  # builds scan cache + seek index
        parts = r.partitions({"lsn": lo}, {"lsn": hi})
        return parts, [t for p in parts for t in r._read_tuples(p)]

    hi = lsn
    for lo in (0, 37, 40):  # incl. a start INSIDE the giant tx
        p1, rows1 = collect(1, lo, hi)
        assert len(p1) == 1
        p8, rows8 = collect(8, lo, hi)
        assert len(p8) >= 3, f"expected splits at lo={lo}"
        # sub-ranges tile (lo, hi] exactly
        assert p8[0].lo == lo and p8[-1].hi == hi
        for a, b in zip(p8, p8[1:]):
            assert a.hi == b.lo
        assert Counter(map(repr, rows8)) == Counter(map(repr, rows1))
    # small ranges don't shred into tiny tasks
    psm, _ = collect(8, 0, 3)
    assert len(psm) == 1


def test_split_decode_binlog_and_change_stream_equivalence(
    spark, tmp_path, monkeypatch
):
    """The binlog and change-stream readers split the same way — and a
    fortiori safely: row_idx / resume-token order ride IN the events,
    nothing is scan-assigned. The slice floor is lowered to 2
    checkpoints so a 3k-event file still splits."""
    import json as _json
    from collections import Counter

    from transferia_spark.streaming import wal_source

    monkeypatch.setattr(wal_source, "SLICE_MIN_CHECKPOINTS", 2)
    from transferia_spark.streaming.cdc_sources import (
        BinlogJsonStreamReader,
        ChangeStreamJsonStreamReader,
        binlog_output_schema,
        change_stream_output_schema,
        format_resume_token,
    )

    # binlog: 3000 events over distinct positions
    bdir = tmp_path / "binlog"
    bdir.mkdir()
    with open(bdir / "000.jsonl", "w") as f:
        for i in range(3000):
            f.write(_json.dumps({
                "action": "insert", "log_file": "binlog.000001",
                "log_pos": 100 + i, "row_idx": i % 3,
                "schema": "d", "table": "t",
                "after": {"id": i},
            }) + "\n")

    def collect(cls, schema, path, splits, lo_d, hi_d):
        r = cls(schema, {"path": path, "decode_splits": str(splits)})
        r.latestOffset()
        parts = r.partitions(lo_d, hi_d)
        return parts, [t for p in parts for t in r._read_tuples(p)]

    bs = binlog_output_schema("id long")
    hi = 10**12 + 100 + 2999
    p1, r1 = collect(
        BinlogJsonStreamReader, bs, str(bdir), 1,
        {"lsn": 0}, {"lsn": hi},
    )
    p8, r8 = collect(
        BinlogJsonStreamReader, bs, str(bdir), 8,
        {"lsn": 0}, {"lsn": hi},
    )
    assert len(p1) == 1 and len(p8) > 1
    assert Counter(map(repr, r8)) == Counter(map(repr, r1))

    # change stream: tuple positions from real resume tokens
    cdir = tmp_path / "cs"
    cdir.mkdir()
    with open(cdir / "000.jsonl", "w") as f:
        for i in range(3000):
            f.write(_json.dumps({
                "_id": {"_data": format_resume_token(
                    1_700_000_000 + i // 4, i % 4)},
                "operationType": "insert",
                "documentKey": {"_id": i},
                "fullDocument": {"_id": i, "v": f"x{i}"},
            }) + "\n")
    cs = change_stream_output_schema("_id long, v string")
    lo_d = {"ts": 0, "order": -1}
    hi_d = {"ts": 1_700_000_000 + 3000 // 4, "order": 99}
    p1, r1 = collect(
        ChangeStreamJsonStreamReader, cs, str(cdir), 1, lo_d, hi_d
    )
    p8, r8 = collect(
        ChangeStreamJsonStreamReader, cs, str(cdir), 8, lo_d, hi_d
    )
    assert len(p1) == 1 and len(p8) > 1
    assert Counter(map(repr, r8)) == Counter(map(repr, r1))


def test_split_slices_pay_for_their_task():
    """A range splits only into slices of at least SLICE_MIN_CHECKPOINTS
    seek checkpoints: below two slices' worth it stays one task per
    file; above, it splits and the slices tile (lo, hi] exactly."""
    from transferia_spark.streaming.wal_source import (
        SLICE_MIN_CHECKPOINTS as floor,
        attach_split_slices,
    )

    def plan(n_ck, max_splits=8):
        idx = {"f": ([(i * 10, i * 100) for i in range(1, n_ck + 1)],
                     True)}
        return attach_split_slices(
            ["f"], 0, n_ck * 10 + 5, idx, max_splits,
        )

    for n_ck in (1, floor, 2 * floor - 2):
        assert len(plan(n_ck)) == 1, n_ck
    for n_ck, want in ((2 * floor, 2), (4 * floor, 4), (40 * floor, 8)):
        slices = plan(n_ck)
        assert len(slices) == want, (n_ck, len(slices))
        assert slices[0].lo == 0 and slices[-1].hi == n_ck * 10 + 5
        for a, b in zip(slices, slices[1:]):
            assert a.hi == b.lo
            # a boundary's seek byte is its checkpoint's byte
            assert b.start_byte == b.lo * 10
        # each slice owns at least `floor` checkpoints
        assert all((s.hi - s.lo) // 10 >= floor for s in slices[:-1])


def test_split_slices_cap_the_whole_batch():
    """A batch of several ordered files plans at most max(len(files),
    max_splits) slices in all, not max_splits per file: every file
    keeps one slice, the rest go to the files with the most
    checkpoints, each slice spans at least SLICE_MIN_CHECKPOINTS
    checkpoints, and each file's slices tile (lo, hi] exactly."""
    from collections import Counter

    from transferia_spark.streaming.wal_source import (
        SLICE_MIN_CHECKPOINTS as floor,
        attach_split_slices,
    )

    def plan(n_cks, max_splits):
        # file k: a checkpoint every 256 positions, byte = 10 x position
        idx, hi = {}, 0
        for k, n_ck in enumerate(n_cks):
            idx[f"f{k}"] = ([(p, p * 10) for p in range(256, 256 * (n_ck + 1), 256)], True)
            hi = max(hi, 256 * n_ck + 5)
        slices = attach_split_slices(list(idx), 0, hi, idx, max_splits)
        for f in idx:
            own = [s for s in slices if s.path == f]
            assert own[0].lo == 0 and own[-1].hi == hi
            for a, b in zip(own, own[1:]):
                assert a.hi == b.lo and b.start_byte == b.lo * 10
            assert all((s.hi - s.lo) // 256 >= floor for s in own[:-1])
        return Counter(s.path for s in slices)

    # three equal files: one slice each at 3, not 3 each
    assert plan([12, 12, 12], 3) == {"f0": 1, "f1": 1, "f2": 1}
    assert plan([12, 12, 12], 2) == {"f0": 1, "f1": 1, "f2": 1}
    assert sum(plan([12, 12, 12], 8).values()) == 8
    # the extra slices go to the big file; a small one stays whole
    assert plan([40, 2, 2], 6) == {"f0": 4, "f1": 1, "f2": 1}
    # no file splits below the floor, even with slices to spare
    assert plan([2 * floor - 2, 2 * floor - 2], 8) == {"f0": 1, "f1": 1}


def test_catchup_batch_plans_parallel_slices(spark, tmp_path, monkeypatch):
    """At the default slice floor a 1000-event waljson batch stays one
    task, a 1500-event batch plans two decode slices and a 7000-event
    catch-up batch one per core of the session, each tiling its range.
    Planned through the reader, from the seek index its planner
    records. get_spark() exports its core count to the Python workers
    the planner runs in."""
    from transferia_spark.streaming.wal_source import (
        WalJsonStreamReader,
        wal_output_schema,
    )

    sc = spark.sparkContext
    assert sc.environment["SPARK_GRAFT_CPUS"] == str(sc.defaultParallelism)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    wdir = str(tmp_path / "w")
    r = WalJsonStreamReader(wal_output_schema("id long"), {"path": wdir})
    lo = r.initialOffset()
    for name, first, last, want in (
        ("000.jsonl", 1, 1000, 1),
        ("001.jsonl", 1001, 2500, 2),
        ("002.jsonl", 2501, 9500, 3),
    ):
        _emit(wdir, name, _wal_events(first, last))
        hi = r.latestOffset()
        assert hi == {"lsn": last}
        slices = r.partitions(lo, hi)
        assert len(slices) == want, name
        assert all(p.path.endswith(name) for p in slices)
        assert slices[0].lo == first - 1 and slices[-1].hi == last
        for a, b in zip(slices, slices[1:]):
            assert a.hi == b.lo
        ids = [t[0] for p in slices for t in r._read_tuples(p)]
        assert sorted(ids) == list(range(first, last + 1))
        lo = hi


def test_files_with_nothing_in_range_get_no_slice(spark, tmp_path):
    """A bounded batch plans no task for a file the scan cache proves
    holds no position in (lo, hi] — e.g. backlog files above the
    batch's end. Unknown and re-grown files are still planned."""
    import json as _json

    from transferia_spark.streaming.wal_source import (
        WalJsonStreamReader,
        wal_output_schema,
    )

    wal = tmp_path / "wal"
    wal.mkdir()

    def write(name, lsns, mode="w"):
        with open(wal / name, mode) as f:
            for n in lsns:
                f.write(_json.dumps({
                    "action": "I", "lsn": n,
                    "columns": [{"name": "id", "value": n}],
                }) + "\n")

    write("000.jsonl", range(1, 101))
    write("001.jsonl", range(101, 201))
    write("002.jsonl", range(201, 301))
    r = WalJsonStreamReader(
        wal_output_schema("id long"),
        {"path": str(wal), "max_events_per_batch": "100"},
    )
    assert r.latestOffset() == {"lsn": 100}

    def planned(lo, hi):
        return sorted(
            os.path.basename(p.path)
            for p in r.partitions({"lsn": lo}, {"lsn": hi})
        )

    assert planned(0, 100) == ["000.jsonl"]
    assert planned(100, 200) == ["001.jsonl"]
    assert planned(150, 250) == ["001.jsonl", "002.jsonl"]
    assert planned(300, 400) == [""]  # nothing in range: one empty slice
    # a file the cache has not seen is never skipped
    write("003.jsonl", range(301, 311))
    assert planned(100, 200) == ["001.jsonl", "003.jsonl"]
    # nor is a file whose size changed since it was cached
    write("002.jsonl", [311], mode="a")
    assert planned(100, 200) == ["001.jsonl", "002.jsonl", "003.jsonl"]


def test_reserved_payload_names_rejected_loudly(spark, tmp_path):
    """A payload column named after an engine-reserved ChangeItem name
    that is NOT part of the reader's own meta tail fails LOUDLY at
    reader construction — before r14 it silently broke the tuple
    arity, and merely passing it through would die later in
    collapse/merge/sinks with a confusing analysis error (code-review
    r14). Each reader excludes exactly the tail it appends, so tails
    stay per-reader (`_removed` belongs to the change-stream reader)."""
    from transferia_spark.streaming.cdc_sources import (
        ChangeStreamJsonStreamReader,
    )
    from transferia_spark.streaming.wal_source import (
        WalJsonStreamReader,
        wal_output_schema,
    )

    # PG wal reader: `_removed` is NOT in its tail → reserved → loud
    with pytest.raises(ValueError, match="engine-reserved"):
        WalJsonStreamReader(
            wal_output_schema("id long, _removed string"),
            {"path": str(tmp_path)},
        )
    # change-stream reader: `_removed` IS its tail (fine as meta);
    # `_before` is another reader's meta → reserved → loud
    with pytest.raises(ValueError, match="engine-reserved"):
        ChangeStreamJsonStreamReader(
            change_stream_output_schema("_id long, _before string"),
            {"path": str(tmp_path)},
        )
    # ordinary underscore-prefixed names that are NOT reserved pass
    wal = WalJsonStreamReader(
        wal_output_schema("id long, _note string"),
        {"path": str(tmp_path)},
    )
    assert wal.payload_fields == ["id", "_note"]


def test_dotted_partial_update_routes_loudly(spark, tmp_path):
    """A partial update whose dotted path touches a DECLARED column is
    a nested sub-document write the reader cannot patch into a column
    fragment — silently dropping it would leave the column stale, so
    it raises (or dead-letters when configured); dotted paths under
    UNDECLARED prefixes drop like any undeclared field (code-review
    r14 follow-up: oplog-mode $v:2 diffs emit dotted updatedFields)."""
    import json as _json
    import os

    from transferia_spark.streaming.cdc_sources import (
        ChangeStreamJsonStreamReader,
        format_resume_token,
    )

    cdir = tmp_path / "cs"
    os.makedirs(cdir)

    def ev(i, updated, removed=()):
        return {
            "_id": {"_data": format_resume_token(100, i)},
            "operationType": "update",
            "documentKey": {"_id": i},
            "ns": {"db": "shop", "coll": "t"},
            "updateDescription": {
                "updatedFields": updated,
                "removedFields": list(removed),
            },
        }

    with open(cdir / "000.jsonl", "w") as f:
        f.write(_json.dumps(ev(1, {"a.b": 7})) + "\n")        # declared
        f.write(_json.dumps(ev(2, {"zz.q": 1, "v": "x"})) + "\n")  # undeclared prefix
        f.write(_json.dumps(ev(3, {"v": "y"}, ["a.c"])) + "\n")    # dotted removal

    schema = change_stream_output_schema("_id long, a string, v string")
    lo, hi = {"ts": 0, "order": -1}, {"ts": 200, "order": 99}

    def rows_with(**extra):
        r = ChangeStreamJsonStreamReader(
            schema, {"path": str(cdir), **extra}
        )
        r.latestOffset()
        return [
            t for p in r.partitions(lo, hi) for t in r._read_tuples(p)
        ]

    # no dead_letter: the declared-column fragment raises
    with pytest.raises(ValueError, match="dotted-path partial update"):
        rows_with()

    # dead_letter: the two offending events route, the clean one flows
    dl = str(tmp_path / "dl")
    rows = rows_with(dead_letter_dir=dl)
    assert [t[0] for t in rows] == [2]       # _id of the clean event
    assert rows[0][2] == "x"                 # v carried
    routed = [
        _json.loads(ln)
        for f in sorted(os.listdir(dl))
        for ln in open(os.path.join(dl, f))
    ]
    assert len(routed) == 2


def test_fast_key_position_scan_equals_json_parse(tmp_path):
    """The waljson planner fast scan (``_lsn_fast_scan``, r14) must yield
    the SAME positions and seek index as the full-parse path on every
    line shape it can legally fast-path — and fall back (not diverge)
    on the ambiguous ones: a column literally NAMED after the key, the
    key token escaped inside a string value, float/exponent values,
    duplicate occurrences, and whitespace variants."""
    import json as _json

    from transferia_spark.streaming.wal_source import (
        _lsn_fast_scan,
        positions_with_seek_index,
    )

    lines = [
        {"action": "I", "lsn": 1, "columns": [{"name": "a", "value": 1}]},
        {"action": "U", "lsn": 2,
         "columns": [{"name": "lsn", "value": 99}]},       # column named lsn
        {"action": "U", "lsn": 3,
         "columns": [{"name": "note", "value": '{"lsn": 77}'}]},  # escaped
        {"lsn": 4, "action": "D", "identity": [{"name": "a", "value": 7}]},
        {"action": "I", "lsn": 5, "columns": []},
    ]
    raw = [_json.dumps(d) for d in lines]
    raw.insert(2, '{ "lsn" :   6 , "action": "I", "columns": []}')  # spaces
    raw.append('{"action": "I", "lsn": 4.5, "columns": []}')  # float → int()
    raw.append('{"action": "I", "lsn": -3, "columns": []}')
    f = str(tmp_path / "cap.jsonl")
    with open(f, "w") as fh:
        fh.write("\n".join(raw) + "\n")

    def run(fast_scan):
        idx: dict = {}
        pos = list(
            positions_with_seek_index(
                f, lambda ev: int(ev["lsn"]), idx, False, fast_scan=fast_scan
            )
        )
        return pos, idx[f]

    slow_pos, slow_idx = run(None)
    fast_pos, fast_idx = run(_lsn_fast_scan)
    assert fast_pos == slow_pos == [1, 2, 6, 3, 4, 5, 4, -3]
    assert fast_idx == slow_idx

    # poison line, dead-letter mode: both paths keep planning (the fast
    # path may plan a phantom for a nested-only key; this truncated
    # line has no parseable fast match either, so both skip it)
    with open(f, "a") as fh:
        fh.write('{"action": "I", "lsn": \n')
    idx: dict = {}
    pos_dl = list(
        positions_with_seek_index(
            f, lambda ev: int(ev["lsn"]), idx, True, fast_scan=_lsn_fast_scan
        )
    )
    assert pos_dl == [1, 2, 6, 3, 4, 5, 4, -3]


def test_binlog_fast_scan_equals_json_parse(tmp_path):
    """The composite-key fast scan (r14 optimization round) must agree
    with the full-parse planner path on every line it fast-paths and
    fall back (never diverge) on the ambiguous shapes: payload columns
    literally named log_file/log_pos, escaped tokens inside string
    values, float/exponent positions, names with escapes, duplicate
    keys, whitespace variants, and non-ASCII file names."""
    import json as _json

    from transferia_spark.streaming.cdc_sources import (
        _binlog_fast_scan,
        binlog_lsn,
    )
    from transferia_spark.streaming.wal_source import (
        positions_with_seek_index,
    )

    lines = [
        {"action": "insert", "log_file": "binlog.000007", "log_pos": 4,
         "row_idx": 0, "after": {"a": 1}},
        {"action": "update", "log_file": "binlog.000007", "log_pos": 193,
         "before": {"log_pos": 9}, "after": {"log_pos": 10}},  # dup token
        {"action": "insert", "log_file": "binlog", "log_pos": 7},  # no idx
        {"action": "insert", "log_file": "binlog.abc", "log_pos": 8},
        {"action": "insert", "log_file": "binlög.000003", "log_pos": 11},
        {"action": "insert", "log_file": "binlog.000002", "log_pos": 5,
         "after": {"note": '{"log_file": "x", "log_pos": 9}'}},  # escaped
    ]
    raw = [_json.dumps(d, ensure_ascii=False) for d in lines]
    raw.insert(
        2, '{ "log_file" : "binlog.000009" , "log_pos" :  12 , "a": 1}'
    )
    raw.append('{"log_file": "binlog.000003", "log_pos": 4.0}')  # float
    raw.append('{"log_file": "binlog.000003", "log_pos": 4e2}')  # exponent
    raw.append('{"log_file": "bin\\\\log.000003", "log_pos": 6}')  # escape
    f = str(tmp_path / "cap.jsonl")
    with open(f, "w", encoding="utf-8") as fh:
        fh.write("\n".join(raw) + "\n")

    def run(fast):
        idx: dict = {}
        pos = list(
            positions_with_seek_index(
                f,
                lambda ev: binlog_lsn(ev["log_file"], ev["log_pos"]),
                idx,
                False,
                fast_scan=fast,
            )
        )
        return pos, idx[f]

    slow_pos, slow_idx = run(None)
    fast_pos, fast_idx = run(_binlog_fast_scan)
    assert fast_pos == slow_pos
    assert fast_idx == slow_idx
    # the guard shapes really exercised the fallback: direct scan calls
    assert _binlog_fast_scan(raw[1].encode()) is None  # dup token
    assert _binlog_fast_scan(raw[-3].encode()) is None  # float
    assert _binlog_fast_scan(raw[-2].encode()) is None  # exponent
    assert _binlog_fast_scan(raw[-1].encode()) is None  # name escape
    # and the fast-pathable ones agree with binlog_lsn directly
    assert _binlog_fast_scan(raw[0].encode()) == binlog_lsn(
        "binlog.000007", 4
    )

    # documented benign divergence: BOTH keys nested-only — poison under
    # the json path (KeyError -> dead-letter skip), phantom under the
    # fast path; watermark semantics make the phantom harmless
    poison = '{"payload": {"log_file": "binlog.000099", "log_pos": 1}}'
    with open(f, "a") as fh:
        fh.write(poison + "\n")
    idx: dict = {}
    dl_slow = list(
        positions_with_seek_index(
            f,
            lambda ev: binlog_lsn(ev["log_file"], ev["log_pos"]),
            idx,
            True,
        )
    )
    idx = {}
    dl_fast = list(
        positions_with_seek_index(
            f,
            lambda ev: binlog_lsn(ev["log_file"], ev["log_pos"]),
            idx,
            True,
            fast_scan=_binlog_fast_scan,
        )
    )
    assert dl_slow == slow_pos  # poison skipped
    assert dl_fast == slow_pos + [binlog_lsn("binlog.000099", 1)]  # phantom
