"""`trcli replicate` supervision loop (tasks/replicate.py): activate →
seed → recorded-binlog catch-up with the snapshot position handoff,
transient-error retries with health heartbeats, fatal-error state
cleanup. ≈ cmd/trcli/replicate/replicate.go:24 +
pkg/runtime/local/replication.go:83-131."""

from __future__ import annotations

import json
import os

import pytest

from transferia_spark.plans.config import transfer_from_yaml
from transferia_spark.tasks.replicate import (
    FatalError,
    TransferStateStore,
    is_fatal,
    run_replication,
    source_position,
)


def _emit(path: str, name: str, events: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def _write_items(spark, path: str) -> None:
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).coalesce(1).write.parquet(path)


def _yaml(tmp_path, src_parquet: str, binlog: str, target: str) -> str:
    return f"""
type: SNAPSHOT_AND_INCREMENT
src:
  type: file
  params: {{path: {src_parquet}, format: parquet}}
dst:
  type: file
  params: {{path: {tmp_path}/unused_dst, format: parquet}}
replication:
  source:
    format: binlogjson
    path: {binlog}
    schema: "id long, v string"
  target:
    kind: bucketed
    root: {target}
    keys: [id]
    n_buckets: 4
"""


@pytest.mark.slow
def test_replicate_once_seed_handoff_and_catchup(spark, tmp_path):
    """Full verb flow: snapshot seed into the bucketed target, source
    position recorded BEFORE the seed (pre-existing binlog events never
    replay over the snapshot), then two catch-up passes applying only
    new events from the Spark checkpoint."""
    src = str(tmp_path / "items.parquet")
    binlog = str(tmp_path / "binlog")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    _write_items(spark, src)
    # pre-snapshot binlog history: already folded into the snapshot —
    # replaying it would regress (1, 'a') to the stale value
    _emit(binlog, "000.jsonl", [
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 5,
         "row_idx": 0, "after": {"id": 1, "v": "STALE"}},
    ])
    spec = transfer_from_yaml(_yaml(tmp_path, src, binlog, target))

    report = run_replication(
        spark, spec, state_dir=state, once=True, retry_interval=0.0
    )
    assert report.activated and report.attempts == 1
    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    table = BucketedParquetTable(spark, target, keys=["id"], n_buckets=4)
    assert {(r.id, r.v) for r in table.read().collect()} == {(1, "a"), (2, "b")}

    # post-snapshot changes arrive; a second pass applies exactly them
    _emit(binlog, "001.jsonl", [
        {"action": "update", "log_file": "binlog.000001", "log_pos": 20,
         "row_idx": 0, "before": {"id": 2, "v": "b"},
         "after": {"id": 2, "v": "b2"}},
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 30,
         "row_idx": 0, "after": {"id": 3, "v": "c"}},
    ])
    report2 = run_replication(
        spark, spec, state_dir=state, once=True, retry_interval=0.0
    )
    assert not report2.activated  # status state says already activated
    assert {(r.id, r.v) for r in table.read().collect()} == {
        (1, "a"), (2, "b2"), (3, "c"),
    }
    # health heartbeat reports a clean pass
    health = TransferStateStore(state).health("transfer")
    assert health is not None and health["last_error"] == ""


@pytest.mark.slow
def test_replicate_transient_errors_retry_then_succeed(spark, tmp_path):
    """A sink failing transiently is retried after the interval (the
    reference's 10 s restart loop); health carries the retry count and
    the last error; the data still lands exactly once."""
    src = str(tmp_path / "items.parquet")
    binlog = str(tmp_path / "binlog")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    _write_items(spark, src)
    _emit(binlog, "000.jsonl", [])
    spec = transfer_from_yaml(_yaml(tmp_path, src, binlog, target))
    # clean activation pass first; the retried event arrives AFTER the
    # snapshot position was recorded
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)
    _emit(binlog, "001.jsonl", [
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 10,
         "row_idx": 0, "after": {"id": 9, "v": "z"}},
    ])

    from transferia_spark.streaming.bucketed_table import (
        BucketedCdcApplySink,
        BucketedParquetTable,
    )

    table = BucketedParquetTable(spark, target, keys=["id"], n_buckets=4)
    inner = BucketedCdcApplySink(table)
    fail_file = str(tmp_path / "fails")

    def flaky(batch_df, batch_id):
        n = len(open(fail_file).read()) if os.path.exists(fail_file) else 0
        if n < 2:
            with open(fail_file, "a") as f:
                f.write("x")
            raise ConnectionError("broker hiccup")
        inner(batch_df, batch_id)

    slept: list[float] = []
    report = run_replication(
        spark, spec, state_dir=state, once=True,
        retry_interval=0.5, sleep_fn=slept.append, sink=flaky,
    )
    assert report.attempts == 3 and slept == [0.5, 0.5]
    assert {(r.id, r.v) for r in table.read().collect()} == {
        (1, "a"), (2, "b"), (9, "z"),
    }
    # the heartbeat's last clean pass clears last_error (≈ closing the
    # warning status message on a healthy tick); the retry count stays
    health = TransferStateStore(state).health("transfer")
    assert health["retry_count"] == 2 and health["last_error"] == ""
    # distinct error causes are reported once each (EqualCauses rule)
    assert len(report.errors) == 1 and "hiccup" in report.errors[0]


@pytest.mark.slow
def test_replicate_fatal_error_clears_activation_state(spark, tmp_path):
    """A fatal error stops the loop, clears the coordinator `status`
    (so the next run re-activates, replicate.go:88-93) and surfaces."""
    src = str(tmp_path / "items.parquet")
    binlog = str(tmp_path / "binlog")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    _write_items(spark, src)
    _emit(binlog, "000.jsonl", [
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 10,
         "row_idx": 0, "after": {"id": 9, "v": "z"}},
    ])
    spec = transfer_from_yaml(_yaml(tmp_path, src, binlog, target))

    def poisoned(batch_df, batch_id):
        raise FatalError("schema contract broken")

    store = TransferStateStore(state)
    with pytest.raises(Exception) as exc:
        run_replication(
            spark, spec, state_dir=state, once=True,
            retry_interval=0.0, sleep_fn=lambda s: None, sink=poisoned,
        )
    assert is_fatal(exc.value)
    assert "status" not in store.get("transfer")
    health = store.health("transfer")
    assert "FatalError" in health["last_error"]


@pytest.mark.slow
def test_replicate_pgwire_recorded_session(spark, tmp_path):
    """transfer.yaml with a `pgwire` replication source: recorded
    CopyBoth frames are drained through the wire client's tailer into
    the wal2json directory and tailed by the slot-direct DataSource —
    the full reference path (slot → wire frames → parse → apply) from
    the CLI verb. A second capture file drains incrementally."""
    from transferia_spark.streaming.pg_replication import encode_xlog_data

    src = str(tmp_path / "items.parquet")
    frames = str(tmp_path / "frames")
    wal = str(tmp_path / "wal")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    _write_items(spark, src)

    def w2j(action, **cols):
        return json.dumps(
            {"action": action,
             "columns": [{"name": k, "value": v} for k, v in cols.items()]}
        ).encode()

    def record(name, frame_list):
        os.makedirs(frames, exist_ok=True)
        with open(os.path.join(frames, name), "w") as f:
            for fr in frame_list:
                f.write(json.dumps({"frame": fr.hex()}) + "\n")

    # pre-snapshot history in the capture — must not replay over the seed
    record("000.jsonl", [encode_xlog_data(5, 6, w2j("I", id=1, v="STALE"))])
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: pgwire
    frames_path: {frames}
    path: {wal}
    schema: "id long, v string"
  target: {{kind: bucketed, root: {target}, keys: [id], n_buckets: 4}}
""")
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)
    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    table = BucketedParquetTable(spark, target, keys=["id"], n_buckets=4)
    assert {(r.id, r.v) for r in table.read().collect()} == {(1, "a"), (2, "b")}

    # new wire capture arrives; the next pass drains ONLY it
    record("001.jsonl", [
        encode_xlog_data(20, 21, w2j("U", id=2, v="b2")),
        encode_xlog_data(30, 31, w2j("I", id=3, v="c")),
    ])
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)
    assert {(r.id, r.v) for r in table.read().collect()} == {
        (1, "a"), (2, "b2"), (3, "c"),
    }


@pytest.mark.slow
def test_replicate_survives_mid_stream_truncate_and_ddl(spark, tmp_path):
    """replication.controls: a recorded binlog carrying rows, a
    TRUNCATE, a DDL, and post-DDL rows with a NEW column replicates to
    the right final state through the verb alone — the first attempt
    applies up to the DDL and aborts, the supervisor's retry re-probes
    the schema_file registry (evolved by the drift handler) and the
    restarted query reads the new column. ≈ replicate.go's restart loop
    doubling as publisher_replication.go:202's relation-message
    re-resolution."""
    src = str(tmp_path / "items.parquet")
    binlog = str(tmp_path / "binlog")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    schema_file = str(tmp_path / "schema.ddl")
    _write_items(spark, src)
    with open(schema_file, "w") as f:
        f.write("id long, v string")
    _emit(binlog, "000.jsonl", [])
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: binlogjson
    path: {binlog}
    schema_file: {schema_file}
  target: {{kind: bucketed, root: {target}, keys: [id], n_buckets: 4}}
  controls: {{enabled: true}}
""")
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)

    _emit(binlog, "001.jsonl", [
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 10,
         "row_idx": 0, "after": {"id": 3, "v": "c"}},
        {"action": "truncate", "log_file": "binlog.000001", "log_pos": 20},
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 30,
         "row_idx": 0, "after": {"id": 4, "v": "d"}},
        {"action": "ddl", "log_file": "binlog.000001", "log_pos": 40},
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 50,
         "row_idx": 0, "after": {"id": 5, "v": "e", "w": "x"}},
    ])
    report = run_replication(
        spark, spec, state_dir=state, once=True,
        retry_interval=0.0, sleep_fn=lambda s: None,
    )
    # attempt 1 hit the DDL and restarted; attempt 2 completed
    assert report.attempts == 2
    assert any("SchemaDrift" in e or "schema restart" in e for e in report.errors)
    # the registry evolved: post-DDL columns are in the schema_file
    with open(schema_file) as f:
        assert f.read() == "id bigint, v string, w string"

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    table = BucketedParquetTable(spark, target, keys=["id"], n_buckets=4)
    got = {(r.id, r.v, r.w) for r in table.read().collect()}
    # truncate wiped the seed and row 3; rows 4 (pre-DDL, no w) and 5
    # (post-DDL, w carried) survive
    assert got == {(4, "d", None), (5, "e", "x")}


@pytest.mark.slow
def test_replicate_multi_table_database(spark, tmp_path):
    """One transfer replicates a whole 'database' (the reference's
    normal mode): two tables seed from the file source into their own
    bucketed targets, and the shared binlog stream routes each event to
    its table via the _table column; each target sees only its declared
    columns out of the union wire schema."""
    src_dir = str(tmp_path / "db")
    binlog = str(tmp_path / "binlog")
    state = str(tmp_path / "state")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string") \
        .coalesce(1).write.parquet(os.path.join(src_dir, "items.parquet"))
    spark.createDataFrame([(10, "ann"), (11, "bob")], "uid long, name string") \
        .coalesce(1).write.parquet(os.path.join(src_dir, "users.parquet"))
    _emit(binlog, "000.jsonl", [])
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src:
  type: file
  params: {{path: {src_dir}, format: parquet, tables: [items, users]}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: binlogjson
    path: {binlog}
    schema: "id long, v string, uid long, name string"
  target:
    tables:
      items: {{root: {tmp_path}/t_items, keys: [id], columns: [id, v], n_buckets: 4}}
      users: {{root: {tmp_path}/t_users, keys: [uid], columns: [uid, name], n_buckets: 4}}
""")
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)
    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    items = BucketedParquetTable(spark, f"{tmp_path}/t_items", keys=["id"],
                                 n_buckets=4)
    users = BucketedParquetTable(spark, f"{tmp_path}/t_users", keys=["uid"],
                                 n_buckets=4)
    assert {(r.id, r.v) for r in items.read().collect()} == {(1, "a"), (2, "b")}
    assert {(r.uid, r.name) for r in users.read().collect()} == {
        (10, "ann"), (11, "bob"),
    }
    assert items.read().columns == ["id", "v"]  # no union-schema bleed

    _emit(binlog, "001.jsonl", [
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 10,
         "row_idx": 0, "table": "items", "after": {"id": 3, "v": "c"}},
        {"action": "update", "log_file": "binlog.000001", "log_pos": 20,
         "row_idx": 0, "table": "users",
         "before": {"uid": 11, "name": "bob"},
         "after": {"uid": 11, "name": "bobby"}},
        {"action": "delete", "log_file": "binlog.000001", "log_pos": 30,
         "row_idx": 0, "table": "items", "before": {"id": 1, "v": "a"}},
    ])
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)
    assert {(r.id, r.v) for r in items.read().collect()} == {(2, "b"), (3, "c")}
    assert {(r.uid, r.name) for r in users.read().collect()} == {
        (10, "ann"), (11, "bobby"),
    }


@pytest.mark.slow
def test_replicate_multi_table_scoped_truncate(spark, tmp_path):
    """Multi-table + controls through the verb: a TRUNCATE of one table
    wipes only that table's target; the sibling table's rows (earlier
    AND later) are untouched."""
    src_dir = str(tmp_path / "db")
    binlog = str(tmp_path / "binlog")
    state = str(tmp_path / "state")
    spark.createDataFrame([(1, "a")], "id long, v string") \
        .coalesce(1).write.parquet(os.path.join(src_dir, "items.parquet"))
    spark.createDataFrame([(10, "ann")], "uid long, name string") \
        .coalesce(1).write.parquet(os.path.join(src_dir, "users.parquet"))
    _emit(binlog, "000.jsonl", [])
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src:
  type: file
  params: {{path: {src_dir}, format: parquet, tables: [items, users]}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: binlogjson
    path: {binlog}
    schema: "id long, v string, uid long, name string"
  target:
    tables:
      items: {{root: {tmp_path}/t_items, keys: [id], columns: [id, v], n_buckets: 4}}
      users: {{root: {tmp_path}/t_users, keys: [uid], columns: [uid, name], n_buckets: 4}}
  controls: {{enabled: true}}
""")
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)
    _emit(binlog, "001.jsonl", [
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 10,
         "row_idx": 0, "table": "items", "after": {"id": 3, "v": "c"}},
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 20,
         "row_idx": 0, "table": "users", "after": {"uid": 11, "name": "bob"}},
        {"action": "truncate", "log_file": "binlog.000001", "log_pos": 30,
         "table": "items"},
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 40,
         "row_idx": 0, "table": "items", "after": {"id": 4, "v": "d"}},
    ])
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    items = BucketedParquetTable(spark, f"{tmp_path}/t_items", keys=["id"],
                                 n_buckets=4)
    users = BucketedParquetTable(spark, f"{tmp_path}/t_users", keys=["uid"],
                                 n_buckets=4)
    assert {(r.id, r.v) for r in items.read().collect()} == {(4, "d")}
    assert {(r.uid, r.name) for r in users.read().collect()} == {
        (10, "ann"), (11, "bob"),
    }


def test_replicate_multi_table_unknown_table_errors(spark, tmp_path):
    from transferia_spark.tasks.replicate import MultiTableCdcSink

    sink = MultiTableCdcSink(
        spark,
        {"items": {"root": str(tmp_path / "t"), "keys": ["id"]}},
    )
    batch = spark.createDataFrame(
        [(1, "x", "ghost", "i", 1, 0)],
        "id long, v string, _table string, _op string, _lsn long, _counter int",
    )
    with pytest.raises(FatalError, match="undeclared tables"):
        sink(batch, 0)


@pytest.mark.slow
def test_replicate_continuous_heartbeats_and_live_pgwire_drain(spark, tmp_path):
    """Continuous mode: the supervisor heartbeats while healthy
    (healthReportTicker analog) and keeps draining NEW pgwire captures
    recorded while the query runs; max_runtime stops the query cleanly."""
    import threading

    from transferia_spark.streaming.pg_replication import encode_xlog_data

    src = str(tmp_path / "items.parquet")
    frames = str(tmp_path / "frames")
    wal = str(tmp_path / "wal")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    _write_items(spark, src)

    def w2j(action, **cols):
        return json.dumps(
            {"action": action,
             "columns": [{"name": k, "value": v} for k, v in cols.items()]}
        ).encode()

    def record(name, frame_list):
        os.makedirs(frames, exist_ok=True)
        tmp = os.path.join(frames, "." + name)
        with open(tmp, "w") as f:
            for fr in frame_list:
                f.write(json.dumps({"frame": fr.hex()}) + "\n")
        os.replace(tmp, os.path.join(frames, name))

    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: pgwire
    frames_path: {frames}
    path: {wal}
    schema: "id long, v string"
  target: {{kind: bucketed, root: {target}, keys: [id], n_buckets: 4}}
  trigger: {{processingTime: "500 milliseconds"}}
  health_interval: 1.0
""")
    # wire captures arrive WHILE the continuous query runs — the first
    # during the initial batches, the second after a heartbeat drain
    timers = [
        threading.Timer(
            2.0, record,
            args=("000.jsonl", [encode_xlog_data(10, 11, w2j("I", id=3, v="c"))]),
        ),
        threading.Timer(
            6.0, record,
            args=("001.jsonl", [encode_xlog_data(20, 21, w2j("I", id=4, v="d"))]),
        ),
    ]
    for t in timers:
        t.start()
    try:
        report = run_replication(
            spark, spec, state_dir=state,
            max_runtime=16.0, retry_interval=0.0,
        )
    finally:
        for t in timers:
            t.cancel()
    assert report.attempts == 1 and report.errors == []

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    table = BucketedParquetTable(spark, target, keys=["id"], n_buckets=4)
    got = {(r.id, r.v) for r in table.read().collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}, got
    health = TransferStateStore(state).health("transfer")
    assert health is not None and health["last_error"] == ""


def test_replicate_requires_replication_section(spark, tmp_path):
    spec = transfer_from_yaml(f"""
type: INCREMENT_ONLY
src: {{type: file, params: {{path: {tmp_path}/x, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/y, format: parquet}}}}
""")
    with pytest.raises(FatalError, match="replication"):
        run_replication(spark, spec, state_dir=str(tmp_path / "s"))


def test_trcli_status_verb_reads_state_and_health(tmp_path):
    """`trcli status` surfaces the coordinator state + heartbeat without
    a SparkSession (≈ reading back coordinator.TransferHealth)."""
    import subprocess
    import sys

    store = TransferStateStore(str(tmp_path))
    store.set("transfer", status="activated", source_position={"lsn": 7})
    store.report_health("transfer", 2, "ConnectionError: hiccup")
    out = subprocess.run(
        [sys.executable, "scripts/trcli.py", "status",
         "--state-dir", str(tmp_path)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert out.returncode == 0
    assert "status: activated" in out.stdout
    assert "retry_count: 2" in out.stdout and "hiccup" in out.stdout
    assert "unparsed_rows: 0" in out.stdout

    # with a dead-lettered event: count + reason sample
    import json as _json

    dl = tmp_path / "unparsed_transfer"
    dl.mkdir()
    (dl / "000.jsonl.3.json").write_text(_json.dumps({
        "file": "000.jsonl", "byte_pos": 3, "unparsed_row": "{bad",
        "reason": "JSONDecodeError: oops",
    }))
    out = subprocess.run(
        [sys.executable, "scripts/trcli.py", "status",
         "--state-dir", str(tmp_path)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert "unparsed_rows: 1" in out.stdout
    assert "000.jsonl:3 JSONDecodeError: oops" in out.stdout


def test_is_fatal_classification():
    assert is_fatal(FatalError("x"))
    assert is_fatal(ValueError("bad config"))
    assert is_fatal(NotImplementedError("install the jar"))
    assert not is_fatal(ConnectionError("reset"))
    assert not is_fatal(OSError("disk wobble"))
    # wrapped: Spark severs the Python cause chain but keeps the text
    assert is_fatal(RuntimeError("... transferia FatalError: boom ..."))
    wrapped = RuntimeError("outer")
    wrapped.__cause__ = FatalError("inner")
    assert is_fatal(wrapped)
    # a fatal Python type raised inside foreachBatch surfaces only as a
    # traceback line in the JVM wrapper's message — still fatal
    assert is_fatal(RuntimeError(
        "[STREAM_FAILED] Query [id = x] terminated with exception\n"
        "Traceback (most recent call last):\n"
        '  File "t.py", line 1, in f\n'
        "ValueError: filter_columns: would drop PK column 'id'\n"
    ))
    # a transient cause in the same wrapped form stays transient
    assert not is_fatal(RuntimeError(
        "[STREAM_FAILED] Query terminated\n"
        "ConnectionError: broker reset\n"
    ))
    # SchemaDriftDetected stays transient (the retry loop IS the drift
    # supervisor)
    assert not is_fatal(RuntimeError(
        "[STREAM_FAILED] Query terminated\n"
        "transferia_spark.streaming.controls.SchemaDriftDetected: "
        "ddl control event at lsn 9 requires a schema restart\n"
    ))


def test_source_position_scans_recorded_stream(tmp_path):
    binlog = str(tmp_path / "b")
    _emit(binlog, "000.jsonl", [
        {"action": "insert", "log_file": "binlog.000002", "log_pos": 7,
         "row_idx": 0, "after": {"id": 1, "v": "a"}},
    ])
    pos = source_position("binlogjson", "id long, v string", binlog)
    assert pos == {"lsn": 2 * 10**12 + 7}
    with pytest.raises(FatalError, match="unknown replication source"):
        source_position("nope", "id long", binlog)


def test_multi_table_sink_evaluates_batch_lineage_once(spark, tmp_path):
    """r5 verdict item 3: the per-table routing loop re-filters the SAME
    micro-batch once per table (plus once for discovery) — without
    persist, a 100-table transfer would recompute the stream-decode
    lineage ~101× per batch. A file-append recorder in the lineage
    proves each source row is computed exactly once regardless of the
    table count."""
    from transferia_spark.tasks.replicate import MultiTableCdcSink

    rec = str(tmp_path / "scans.log")
    sink = MultiTableCdcSink(spark, {
        "items": {"root": f"{tmp_path}/t_items", "keys": ["id"],
                  "columns": ["id", "v"], "n_buckets": 2},
        "users": {"root": f"{tmp_path}/t_users", "keys": ["uid"],
                  "columns": ["uid", "name"], "n_buckets": 2},
    })
    base = spark.createDataFrame(
        [(1, "a", None, None, "i", 10, 0, "items"),
         (2, "b", None, None, "i", 20, 0, "items"),
         (None, None, 7, "ann", "i", 30, 0, "users")],
        "id long, v string, uid long, name string, "
        "_op string, _lsn long, _counter int, _table string",
    ).coalesce(2)

    def record(batches):
        for pdf in batches:
            with open(rec, "a") as f:
                f.write("x" * len(pdf))
            yield pdf

    sink(base.mapInPandas(record, base.schema), 0)

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    items = BucketedParquetTable(
        spark, f"{tmp_path}/t_items", keys=["id"], n_buckets=2
    )
    assert {(r.id, r.v) for r in items.read().collect()} == {(1, "a"), (2, "b")}
    with open(rec) as f:
        assert len(f.read()) == 3  # one char per source row, computed once


@pytest.mark.slow
def test_replicate_transformers_do_not_eat_controls(spark, tmp_path):
    """ADVICE r5: the transformation chain applies to ROW items only
    (≈ nonrow_separator.go). A filter transformer whose predicate is
    NULL on a control ChangeItem's NULL payload used to silently drop
    the TRUNCATE before ControlRouter saw it — leaving rows that should
    have been wiped. Controls now bypass the chain and re-join in LSN
    order."""
    src = str(tmp_path / "items.parquet")
    binlog = str(tmp_path / "binlog")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    _write_items(spark, src)
    _emit(binlog, "000.jsonl", [])
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
transformation:
  transformers:
    - filter_rows: {{filters: ["v != 'DROPME'"], allow_cdc: true}}
replication:
  source:
    format: binlogjson
    path: {binlog}
    schema: "id long, v string"
  target: {{kind: bucketed, root: {target}, keys: [id], n_buckets: 4}}
  controls: {{enabled: true}}
""")
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)

    _emit(binlog, "001.jsonl", [
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 10,
         "row_idx": 0, "after": {"id": 3, "v": "c"}},
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 15,
         "row_idx": 0, "after": {"id": 9, "v": "DROPME"}},
        {"action": "truncate", "log_file": "binlog.000001", "log_pos": 20},
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 30,
         "row_idx": 0, "after": {"id": 4, "v": "d"}},
    ])
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    table = BucketedParquetTable(spark, target, keys=["id"], n_buckets=4)
    # the truncate wiped the seed and rows 3/9; only the filtered
    # post-truncate row survives — a dropped control would have left
    # (1,a),(2,b),(3,c) behind
    assert {(r.id, r.v) for r in table.read().collect()} == {(4, "d")}


@pytest.mark.slow
def test_replicate_waljson_truncate_ddl_format_routed_probe(spark, tmp_path):
    """r5 verdict item 1: `replication.controls.enabled` on a WALJSON
    (PG) stream. wal2json records columns as `columns` arrays — not the
    binlog's before/after dicts — so the DDL-driven schema re-probe
    must be format-routed or the restart evolves nothing and the new
    column is silently dropped. Rows + TRUNCATE ('T') + DDL (an 'M'
    logical message with prefix "ddl", the public
    pg_logical_emit_message DDL-capture pattern) + post-DDL rows with a
    NEW column, through `run_replication` alone."""
    src = str(tmp_path / "items.parquet")
    wal = str(tmp_path / "wal")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    schema_file = str(tmp_path / "schema.ddl")
    _write_items(spark, src)
    with open(schema_file, "w") as f:
        f.write("id long, v string")
    _emit(wal, "000.jsonl", [])
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: waljson
    path: {wal}
    schema_file: {schema_file}
  target: {{kind: bucketed, root: {target}, keys: [id], n_buckets: 4}}
  controls: {{enabled: true}}
""")
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)

    _emit(wal, "001.jsonl", [
        {"action": "I", "lsn": 10, "schema": "public", "table": "items",
         "columns": [{"name": "id", "value": 3}, {"name": "v", "value": "c"}]},
        {"action": "T", "lsn": 20, "schema": "public", "table": "items"},
        {"action": "I", "lsn": 30, "schema": "public", "table": "items",
         "columns": [{"name": "id", "value": 4}, {"name": "v", "value": "d"}]},
        {"action": "M", "lsn": 40, "prefix": "ddl", "transactional": True,
         "content": "ALTER TABLE items ADD COLUMN w text"},
        {"action": "I", "lsn": 50, "schema": "public", "table": "items",
         "columns": [{"name": "id", "value": 5}, {"name": "v", "value": "e"},
                     {"name": "w", "value": "x"}]},
    ])
    report = run_replication(
        spark, spec, state_dir=state, once=True,
        retry_interval=0.0, sleep_fn=lambda s: None,
    )
    # attempt 1 hit the DDL and restarted; attempt 2 completed
    assert report.attempts == 2
    assert any("SchemaDrift" in e or "schema restart" in e for e in report.errors)
    # the registry evolved FROM THE columns ARRAYS — the binlog-shaped
    # probe would have found nothing here
    with open(schema_file) as f:
        assert f.read() == "id bigint, v string, w string"

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    table = BucketedParquetTable(spark, target, keys=["id"], n_buckets=4)
    got = {(r.id, r.v, r.w) for r in table.read().collect()}
    # truncate wiped the seed and row 3; rows 4 (pre-DDL) and 5
    # (post-DDL, w carried) survive
    assert got == {(4, "d", None), (5, "e", "x")}


def test_probe_stream_schema_format_routing(spark, tmp_path):
    """The probe parses each format's own payload shape, and unknown
    formats are loud."""
    import pytest as _pytest

    from transferia_spark.streaming.cdc_sources import probe_stream_schema

    wal = str(tmp_path / "wal")
    _emit(wal, "0.jsonl", [
        {"action": "I", "lsn": 1,
         "columns": [{"name": "id", "value": 1}, {"name": "n", "value": 2}],
         "identity": [{"name": "extra", "value": 1.5}]},
    ])
    st = probe_stream_schema("waljson", wal, "id long")
    assert [(f.name, f.dataType.simpleString()) for f in st.fields] == [
        ("id", "bigint"), ("extra", "double"), ("n", "bigint"),
    ]

    cs = str(tmp_path / "cs")
    _emit(cs, "0.jsonl", [
        {"operationType": "update", "clusterTime": 1, "order": 0,
         "documentKey": {"_id": 1},
         "updateDescription": {"updatedFields": {"flag": True}}},
        {"operationType": "insert", "clusterTime": 1, "order": 1,
         "documentKey": {"_id": 2}, "fullDocument": {"_id": 2, "score": 0.5}},
    ])
    st = probe_stream_schema("mongostream", cs, "_id long")
    assert [(f.name, f.dataType.simpleString()) for f in st.fields] == [
        ("_id", "bigint"), ("flag", "boolean"), ("score", "double"),
    ]

    with _pytest.raises(ValueError, match="no schema probe"):
        probe_stream_schema("nope", wal, "id long")


def test_replicate_poison_event_dead_letters_not_fatal(spark, tmp_path):
    """r5 verdict item 5: one poison event (malformed JSON / missing
    position) used to raise ValueError inside the stream, classify
    FATAL, and clear activation state — forcing a full re-snapshot. By
    default it now routes to the dead-letter table (≈ NewUnparsed →
    <table>_unparsed, generic_parser.go:575): replication completes,
    the good events land, the poison line is recorded with its reason,
    and activation state survives."""
    src = str(tmp_path / "items.parquet")
    binlog = str(tmp_path / "binlog")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    _write_items(spark, src)
    _emit(binlog, "000.jsonl", [])
    spec = transfer_from_yaml(_yaml(tmp_path, src, binlog, target))
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)

    with open(os.path.join(binlog, "001.jsonl"), "w") as f:
        f.write(json.dumps({
            "action": "insert", "log_file": "binlog.000001", "log_pos": 10,
            "row_idx": 0, "after": {"id": 3, "v": "c"}}) + "\n")
        f.write("{this is not json\n")  # poison
        f.write(json.dumps({
            "action": "insert", "log_pos": 30,  # poison: no log_file
            "row_idx": 0, "after": {"id": 9, "v": "z"}}) + "\n")
        f.write(json.dumps({
            "action": "insert", "log_file": "binlog.000001", "log_pos": 40,
            "row_idx": 0, "after": {"id": 4, "v": "d"}}) + "\n")

    report = run_replication(
        spark, spec, state_dir=state, once=True, retry_interval=0.0
    )
    assert report.attempts == 1  # no retry storm, no fatal
    assert report.unparsed_rows == 2

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable
    from transferia_spark.tasks.replicate import TransferStateStore, read_unparsed

    table = BucketedParquetTable(spark, target, keys=["id"], n_buckets=4)
    assert {(r.id, r.v) for r in table.read().collect()} == {
        (1, "a"), (2, "b"), (3, "c"), (4, "d"),
    }
    # activation state survived — a third pass does NOT re-activate
    assert TransferStateStore(state).get("transfer").get("status") == "activated"
    # the dead-letter table carries the raw lines + reasons
    dl = read_unparsed(spark, os.path.join(state, "unparsed_transfer"))
    rows = sorted(
        (r.byte_pos, r.unparsed_row[:5], r.reason.split(":")[0])
        for r in dl.collect()
    )
    # keys are per-line BYTE offsets now (r9 seek hints) — assert
    # content + distinctness, not the exact key values
    assert len(rows) == 2 and rows[0][0] != rows[1][0]
    assert sorted((r[1], r[2]) for r in rows) == [
        ('{"act', "KeyError"),
        ("{this", "JSONDecodeError"),
    ]

    # idempotent replay: a re-run over the same files must not
    # duplicate dead-letter records
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)
    dl2 = read_unparsed(spark, os.path.join(state, "unparsed_transfer"))
    assert dl2.count() == 2


def test_replicate_dead_letter_disabled_stays_fatal(spark, tmp_path):
    """replication.dead_letter.enabled: false restores the loud
    contract: a poison event classifies fatal and clears activation."""
    import pytest as _pytest

    src = str(tmp_path / "items.parquet")
    binlog = str(tmp_path / "binlog")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    _write_items(spark, src)
    _emit(binlog, "000.jsonl", [])
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: binlogjson
    path: {binlog}
    schema: "id long, v string"
  target: {{kind: bucketed, root: {target}, keys: [id], n_buckets: 4}}
  dead_letter: {{enabled: false}}
""")
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)
    with open(os.path.join(binlog, "001.jsonl"), "w") as f:
        f.write("{not json either\n")
    with _pytest.raises(Exception):
        # max_attempts bounds the loop so a classification regression
        # fails fast (via max_attempts, leaving status intact → the
        # assert below catches it) instead of hanging
        run_replication(
            spark, spec, state_dir=state, once=True,
            retry_interval=0.0, max_attempts=3, sleep_fn=lambda s: None,
        )
    from transferia_spark.tasks.replicate import TransferStateStore

    assert "status" not in TransferStateStore(state).get("transfer")


def test_multi_table_replication_rejects_rename_transformer(spark, tmp_path):
    """Multi-table mode routes rows AND controls by table name; a
    renaming transformer desyncs the two (rows renamed, controls keep
    source names) and would silently mis-scope truncates — rejected
    loudly at verb start."""
    src_dir = str(tmp_path / "db")
    binlog = str(tmp_path / "binlog")
    spark.createDataFrame([(1, "a")], "id long, v string") \
        .coalesce(1).write.parquet(os.path.join(src_dir, "items.parquet"))
    _emit(binlog, "000.jsonl", [])
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src: {{type: file, params: {{path: {src_dir}, format: parquet, tables: [items]}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
transformation:
  transformers:
    - rename_tables: {{mapping: {{items: stuff}}}}
replication:
  source:
    format: binlogjson
    path: {binlog}
    schema: "id long, v string"
  target:
    tables:
      items: {{root: {tmp_path}/t_items, keys: [id], n_buckets: 2}}
""")
    with pytest.raises(Exception, match="rename_tables cannot run inside"):
        run_replication(
            spark, spec, state_dir=str(tmp_path / "state"),
            once=True, retry_interval=0.0,
        )


def test_schema_probes_tolerate_poison_lines(spark, tmp_path):
    """Self-review r6: the DDL-restart probes are best-effort inference
    and must not crash on poison lines the readers already dead-letter
    — a loud probe would turn the drift restart fatal and force the
    re-snapshot dead-lettering exists to prevent."""
    from transferia_spark.streaming.cdc_sources import probe_stream_schema

    wal = tmp_path / "wal"
    wal.mkdir()
    (wal / "0.jsonl").write_text(
        "{broken json\n"
        + json.dumps({"action": "I", "lsn": 1,
                      "columns": [{"name": "id", "value": 1},
                                  {"name": "w", "value": "x"}]}) + "\n"
        + json.dumps({"action": "I", "lsn": 2, "columns": "not-a-list"}) + "\n"
        + json.dumps([1, 2, 3]) + "\n"
    )
    st = probe_stream_schema("waljson", str(wal), "id long")
    assert [f.name for f in st.fields] == ["id", "w"]

    b = tmp_path / "binlog"
    b.mkdir()
    (b / "0.jsonl").write_text(
        "not json\n"
        + json.dumps({"action": "insert", "log_file": "binlog.000001",
                      "log_pos": 5, "after": {"id": 1, "z": 2}}) + "\n"
        + json.dumps({"action": "insert", "before": "scalar"}) + "\n"
    )
    st = probe_stream_schema("binlogjson", str(b), "id long")
    assert [f.name for f in st.fields] == ["id", "z"]

    cs = tmp_path / "cs"
    cs.mkdir()
    (cs / "0.jsonl").write_text(
        "oops\n"
        + json.dumps({"operationType": "insert", "clusterTime": 1,
                      "order": 0, "fullDocument": {"_id": 1, "q": 0.5}})
        + "\n"
        + json.dumps({"operationType": "update",
                      "updateDescription": "scalar"}) + "\n"
    )
    st = probe_stream_schema("mongostream", str(cs), "_id long")
    assert [f.name for f in st.fields] == ["_id", "q"]


def test_activation_position_scan_honors_dead_letter(spark, tmp_path):
    """Self-review r6: a poison line already present at ACTIVATION time
    routes like one arriving mid-stream — the offset probe gets the
    same dead-letter option the runtime readers get, so activation
    completes instead of classifying fatal."""
    src = str(tmp_path / "items.parquet")
    binlog = str(tmp_path / "binlog")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    _write_items(spark, src)
    _emit(binlog, "000.jsonl", [
        {"action": "insert", "log_file": "binlog.000001", "log_pos": 5,
         "row_idx": 0, "after": {"id": 1, "v": "STALE"}},
    ])
    with open(os.path.join(binlog, "000.jsonl"), "a") as f:
        f.write("{poison at activation time\n")
    spec = transfer_from_yaml(_yaml(tmp_path, src, binlog, target))
    report = run_replication(
        spark, spec, state_dir=state, once=True, retry_interval=0.0
    )
    assert report.activated and report.unparsed_rows == 0  # planning skipped it
    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    table = BucketedParquetTable(spark, target, keys=["id"], n_buckets=4)
    assert {(r.id, r.v) for r in table.read().collect()} == {(1, "a"), (2, "b")}


def test_wire_formats_without_frames_path_fail_loud(spark, tmp_path):
    """ADVICE r6: a pgwire/mysqlwire source missing frames_path raised a
    bare KeyError in build_replication_stream while source_position
    treated it as optional — the contract is now a classified
    FatalError naming the missing key. mongowire needs live:, and the
    activation-time drain (inside source_position) fails the same way,
    before any snapshot seed."""
    from transferia_spark.tasks.replicate import build_replication_stream

    for fmt, key in (
        ("pgwire", "frames_path"),
        ("mysqlwire", "frames_path"),
        ("mongowire", "live"),
    ):
        source = {"format": fmt, "path": str(tmp_path / "out"),
                  "schema": "id long"}
        with pytest.raises(FatalError, match=key):
            build_replication_stream(spark, source, position=None)
        with pytest.raises(FatalError, match=key):
            source_position(fmt, "id long", source["path"], source=source)


@pytest.mark.slow
def test_poisoned_background_fold_surfaces_at_stream_end(
    spark, tmp_path, monkeypatch
):
    """Shutdown contract (r8 verdict item 8): a background fold that
    fails after the LAST micro-batch must surface through the verb's
    exit path (wait_for_compaction), not vanish with the stream."""
    from transferia_spark.streaming.bucketed_table import (
        BucketedParquetTable,
    )

    src = str(tmp_path / "items.parquet")
    binlog = str(tmp_path / "binlog")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    _write_items(spark, src)
    _emit(binlog, "000.jsonl", [])
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src:
  type: file
  params: {{path: {src}, format: parquet}}
dst:
  type: file
  params: {{path: {tmp_path}/unused_dst, format: parquet}}
replication:
  source:
    format: binlogjson
    path: {binlog}
    schema: "id long, v string"
  target:
    kind: bucketed
    root: {target}
    keys: [id]
    n_buckets: 4
    merge_mode: delta
    max_deltas: 1
""")
    # activate + seed first: the position handoff would skip events
    # already on disk at activation
    run_replication(
        spark, spec, state_dir=state, once=True, retry_interval=0.0
    )
    # post-seed events: every key updated so buckets come due at once
    _emit(binlog, "001.jsonl", [
        {"action": "update", "log_file": "binlog.000001", "log_pos": 9,
         "row_idx": 0, "after": {"id": 1, "v": "u1"}},
        {"action": "update", "log_file": "binlog.000001", "log_pos": 13,
         "row_idx": 1, "after": {"id": 2, "v": "u2"}},
    ])

    def poisoned(self, buckets):
        raise RuntimeError("poisoned fold")

    monkeypatch.setattr(BucketedParquetTable, "compact_buckets", poisoned)
    with pytest.raises(RuntimeError, match="poisoned fold"):
        run_replication(
            spark, spec, state_dir=state, once=True,
            retry_interval=0.0, max_attempts=1,
        )


def test_bucketed_target_is_merge_on_read(spark, tmp_path):
    """A target config without ``merge_mode`` builds a background-
    folding delta sink; a stale ``merge_mode: rewrite`` fails at start
    (a fatal error) instead of being silently ignored."""
    from transferia_spark.tasks.replicate import build_replication_sink

    target = {"kind": "bucketed", "root": str(tmp_path / "t"),
              "keys": ["id"], "n_buckets": 4}
    sink, _ = build_replication_sink(spark, target)
    assert sink._background_fold
    with pytest.raises(ValueError, match="merge_mode") as err:
        build_replication_sink(
            spark, {**target, "root": str(tmp_path / "t2"),
                    "merge_mode": "rewrite"},
        )
    assert is_fatal(err.value)
