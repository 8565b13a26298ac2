"""The one wire front-end of the replicate verb: every ``*wire`` source
(pgwire, mysqlwire, mongowire) drains through one format table into a
recorded directory, and every writer follows one recorded-directory
contract (numbered event files, durable publish, ``_``-prefixed state
files the readers never scan).

Transports are the scripted fakes of the per-protocol test files: the
PG and MySQL fake duplexes, and the loopback mongod.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from transferia_spark.streaming.wal_source import _scan_files
from transferia_spark.tasks.replicate import source_position


def _events(path: str) -> list[dict]:
    """Every event the recorded directory's readers would scan."""
    out = []
    for f in _scan_files(path):
        with open(f) as fh:
            out += [json.loads(ln) for ln in fh if ln.strip()]
    return out


def _record(frames_dir: str, name: str, frames: list[bytes]) -> None:
    os.makedirs(frames_dir, exist_ok=True)
    with open(os.path.join(frames_dir, name), "w") as f:
        for fr in frames:
            f.write(json.dumps({"frame": fr.hex()}) + "\n")


# ---------------------------------------------------------------- cases
#
# Each case builds a source config plus a callable that makes NEW input
# appear at the source; the drain counts are (first, new).


def _pgwire_frames(tmp_path, monkeypatch, mongod):
    from test_pg_session import _w2j

    from transferia_spark.streaming.pg_replication import encode_xlog_data

    frames = str(tmp_path / "frames")
    _record(frames, "000.jsonl", [
        encode_xlog_data(10, 11, _w2j("I", id=1, v="a")),
        encode_xlog_data(20, 21, _w2j("I", id=2, v="b")),
    ])
    src = {"format": "pgwire", "frames_path": frames,
           "path": str(tmp_path / "wal")}
    return src, "id long, v string", lambda: _record(
        frames, "001.jsonl",
        [encode_xlog_data(30, 31, _w2j("U", id=2, v="b2"))],
    ), (2, 1)


def _mysqlwire_frames(tmp_path, monkeypatch, mongod):
    from test_mysql_binlog import _session_frames

    frames = str(tmp_path / "frames")
    session = _session_frames()
    _record(frames, "000.jsonl", session[:5])  # the two insert rows
    src = {"format": "mysqlwire", "frames_path": frames,
           "path": str(tmp_path / "binlog")}
    # a new capture restates the session prologue, as a reconnecting
    # client re-receives it, then carries the update row
    return src, "id long, v string", lambda: _record(
        frames, "001.jsonl", session[:4] + session[5:6],
    ), (2, 1)


def _pgwire_live(tmp_path, monkeypatch, mongod):
    from test_pg_session import FakeDuplex, _live_script, _w2j

    from transferia_spark.streaming import pg_replication as pgr
    from transferia_spark.streaming.pg_replication import (
        encode_keepalive,
        encode_xlog_data,
    )

    # each dial's server sends what lies past the confirmed LSN: the
    # next pending script, else a caught-up keepalive
    pending = [(b"0/20", [
        encode_xlog_data(0x10, 0x11, _w2j("I", id=1, v="a")),
        encode_xlog_data(0x18, 0x19, _w2j("I", id=2, v="b")),
        encode_keepalive(0x20),
    ])]
    caught_up = [(b"0/20", [encode_keepalive(0x20)])]

    def fake_dial(host, port, timeout=30.0):
        pos, frames = pending.pop(0) if pending else caught_up[0]
        fd = FakeDuplex(_live_script(pos, frames), when_empty="block")
        return fd.read, fd.write, fd.close, fd.poll

    def new_input():
        pending.append((b"0/40", [
            encode_xlog_data(0x30, 0x31, _w2j("U", id=2, v="b2")),
            encode_keepalive(0x40),
        ]))
        caught_up[0] = (b"0/40", [encode_keepalive(0x40)])

    monkeypatch.setattr(pgr, "dial", fake_dial)
    src = {"format": "pgwire", "path": str(tmp_path / "wal"),
           "live": {"host": "pg", "user": "repl", "database": "shop",
                    "password": "pw", "slot": "s1", "idle_timeout": 0.01}}
    return src, "id long, v string", new_input, (2, 1)


def _mysqlwire_live(tmp_path, monkeypatch, mongod):
    from test_mysql_session import FakeDuplex, _row_events, _session_script

    from transferia_spark.streaming import mysql_binlog as myb
    from transferia_spark.streaming.mysql_binlog import (
        encode_format_description,
    )

    # each dial's server sends the transactions past the presented
    # GTID set: the next pending script, else nothing new
    pending = [_row_events(9, [[1, "a"], [2, "b"]])]

    def fake_dial(host, port, timeout=30.0):
        events = pending.pop(0) if pending else [encode_format_description()]
        fd = FakeDuplex(_session_script(events), when_empty="timeout")
        return fd.read, fd.write, fd.close, fd.poll

    def new_input():
        pending.append(_row_events(10, [[3, "c"]], log_pos=220))

    monkeypatch.setattr(myb, "mysql_dial", fake_dial)
    src = {"format": "mysqlwire", "path": str(tmp_path / "binlog"),
           "live": {"host": "db", "user": "r", "password": "p",
                    "idle_timeout": 0.01}}
    return src, "id long, v string", new_input, (2, 1)


@pytest.fixture
def mongod():
    from test_mongo_wire import LoopbackMongod

    servers = []

    def start(*args, **kwargs):
        servers.append(LoopbackMongod(*args, **kwargs))
        return servers[-1]

    yield start
    for srv in servers:
        srv.close()


def _mongowire_change_stream(tmp_path, monkeypatch, mongod):
    from test_mongo_wire import _cs_event

    evs = [_cs_event(i, f"n{i}") for i in (1, 2)]
    srv = mongod({}, changes={"shop.customers": evs})
    src = {"format": "mongowire", "path": str(tmp_path / "cs"),
           "live": {"host": "127.0.0.1", "port": srv.port,
                    "database": "shop", "collection": "customers"}}
    return src, "_id long, name string", lambda: evs.append(
        _cs_event(3, "n3")
    ), (2, 1)


def _mongowire_oplog(tmp_path, monkeypatch, mongod):
    from transferia_spark.streaming.mongo_wire import BsonTimestamp

    oplog = [
        {"op": "i", "ts": BsonTimestamp(200, i), "ns": "shop.customers",
         "o": {"_id": i, "name": f"n{i}"}}
        for i in (1, 2)
    ]
    srv = mongod({"local.oplog.rs": oplog})
    src = {"format": "mongowire", "path": str(tmp_path / "cs"),
           "live": {"mode": "oplog", "host": "127.0.0.1",
                    "port": srv.port, "database": "shop",
                    "collection": "customers"}}
    return src, "_id long, name string", lambda: oplog.append(
        {"op": "d", "ts": BsonTimestamp(201, 1), "ns": "shop.customers",
         "o": {"_id": 1}}
    ), (2, 1)


@pytest.mark.parametrize("case", [
    "pgwire_frames", "mysqlwire_frames", "pgwire_live", "mysqlwire_live",
    "mongowire_change_stream", "mongowire_oplog",
])
def test_each_wire_format_drains_only_new_input(
    spark, tmp_path, monkeypatch, mongod, case
):
    """One drain path for every wire format: the activation-time
    position scan drains the source first, so its position covers the
    drained events; a second drain after new input writes ONLY that
    input, and a third with nothing new writes nothing."""
    setup = globals()[f"_{case}"]
    src, ddl, new_input, (first, new) = setup(tmp_path, monkeypatch, mongod)
    fmt, path = src["format"], src["path"]

    pos1 = source_position(fmt, ddl, path, source=src)
    assert len(_events(path)) == first
    new_input()
    pos2 = source_position(fmt, ddl, path, source=src)
    assert len(_events(path)) == first + new
    assert pos2 != pos1
    assert source_position(fmt, ddl, path, source=src) == pos2
    assert len(_events(path)) == first + new
    # without a source config the scan only reads the directory
    assert source_position(fmt, ddl, path) == pos2


def test_state_files_survive_a_pruning_commit(spark, tmp_path):
    """A recorded directory's ``_``-prefixed state files (mongowire's
    resume token and pending-transaction sidecar) are not events: the
    reader neither scans them nor deletes them when prune_committed
    trims the committed event files — and yields the same rows as a
    directory without them."""
    from transferia_spark.streaming.cdc_sources import (
        ChangeStreamJsonStreamReader,
        change_stream_output_schema,
    )

    def drain_all(path: str) -> list[tuple]:
        reader = ChangeStreamJsonStreamReader(
            change_stream_output_schema("_id long, v string"),
            {"path": path, "prune_committed": "true"},
        )
        start, end = reader.initialOffset(), reader.latestOffset()
        rows = [
            r[:2]
            for part in reader.partitions(start, end)
            for r in reader._read_tuples(part)
        ]
        reader.commit(end)
        return rows

    events = [
        {"operationType": "insert", "clusterTime": t, "order": 0,
         "documentKey": {"_id": t}, "fullDocument": {"_id": t, "v": "x"}}
        for t in (1, 2, 3)
    ]
    state = {
        "_resume.json": {"_data": "8200000001000000012b0229296e04"},
        "_txn_pending.json": {"pending": {"k": {"events": []}},
                              "flushed": [], "seq": 0},
    }
    dirs = {}
    for name, with_state in (("plain", False), ("stateful", True)):
        d = str(tmp_path / name)
        os.makedirs(d)
        with open(os.path.join(d, "live_000000.jsonl"), "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in events)
        for fname, doc in state.items() if with_state else ():
            with open(os.path.join(d, fname), "w") as f:
                json.dump(doc, f)
        dirs[name] = d

    plain, stateful = drain_all(dirs["plain"]), drain_all(dirs["stateful"])
    assert stateful == plain == [(1, "x"), (2, "x"), (3, "x")]
    # the committed event file is pruned; the state files are kept
    assert sorted(os.listdir(dirs["stateful"])) == sorted(state)
    for fname, doc in state.items():
        with open(os.path.join(dirs["stateful"], fname)) as f:
            assert json.load(f) == doc


@pytest.mark.slow
def test_replicate_continuous_mongowire_drains_on_heartbeats(
    spark, tmp_path, mongod
):
    """Continuous mode over a live mongowire source: activation drains
    before the position scan (pre-snapshot history is not replayed over
    the seed), and every heartbeat drains the change stream, so changes
    made while the query runs reach the target."""
    from test_mongo_wire import _cs_event

    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.streaming.bucketed_table import (
        BucketedParquetTable,
    )
    from transferia_spark.tasks.replicate import run_replication

    evs = [_cs_event(1, "STALE")]  # history before the snapshot
    srv = mongod({}, changes={"shop.customers": evs})
    src = str(tmp_path / "seed.parquet")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "_id long, name string"
    ).coalesce(1).write.parquet(src)
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: mongowire
    path: {tmp_path}/cs
    schema: "_id long, name string"
    live: {{host: 127.0.0.1, port: {srv.port}, database: shop,
           collection: customers}}
  target: {{kind: bucketed, root: {target}, keys: [_id], n_buckets: 4}}
  trigger: {{processingTime: "500 milliseconds"}}
  health_interval: 1.0
""")
    # changes arrive only once the query runs: after its first heartbeat
    # (the stream-build drain is over by then), and again a few
    # heartbeats later
    stop = threading.Event()

    def feed():
        health = os.path.join(state, "health_transfer.json")
        deadline = time.time() + 12.0
        while not os.path.exists(health) and time.time() < deadline:
            if stop.wait(0.1):
                return
        evs.append(_cs_event(3, "n3"))
        if not stop.wait(3.0):
            evs.append(_cs_event(4, "n4"))

    feeder = threading.Thread(target=feed, daemon=True)
    feeder.start()
    try:
        report = run_replication(
            spark, spec, state_dir=state, max_runtime=14.0,
            retry_interval=0.0,
        )
    finally:
        stop.set()
        feeder.join(timeout=2.0)
    assert report.attempts == 1 and report.errors == []
    table = BucketedParquetTable(spark, target, keys=["_id"], n_buckets=4)
    got = {(r._id, r.name) for r in table.read().collect()}
    assert got == {(1, "a"), (2, "b"), (3, "n3"), (4, "n4")}, got


@pytest.mark.slow
def test_failed_heartbeat_drain_stops_the_query(spark, tmp_path):
    """A heartbeat drain that raises (here a corrupt pgwire capture, a
    fatal ValueError) surfaces through the supervisor — and the
    attempt's streaming query stops with it instead of running on
    after run_replication has given up."""
    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.tasks.replicate import run_replication

    src = str(tmp_path / "items.parquet")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(src)
    frames = str(tmp_path / "frames")
    os.makedirs(frames)
    state = str(tmp_path / "state")
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: pgwire
    frames_path: {frames}
    path: {tmp_path}/wal
    schema: "id long, v string"
  target: {{kind: bucketed, root: {tmp_path}/target, keys: [id],
           n_buckets: 2}}
  trigger: {{processingTime: "500 milliseconds"}}
  health_interval: 1.0
""")
    stop = threading.Event()

    def corrupt_after_first_heartbeat():
        health = os.path.join(state, "health_transfer.json")
        deadline = time.time() + 12.0
        while not os.path.exists(health) and time.time() < deadline:
            if stop.wait(0.1):
                return
        with open(os.path.join(frames, "001.jsonl"), "w") as f:
            f.write(json.dumps({"frame": "not hex"}) + "\n")

    writer = threading.Thread(target=corrupt_after_first_heartbeat,
                              daemon=True)
    writer.start()
    try:
        with pytest.raises(ValueError, match="hexadecimal"):
            run_replication(spark, spec, state_dir=state, max_runtime=20.0,
                            retry_interval=0.0)
    finally:
        stop.set()
        writer.join(timeout=2.0)
    leaked = [q for q in spark.streams.active if q.name == "replicate_transfer"]
    for q in leaked:
        q.stop()
    assert not leaked, "run_replication gave up with its query running"
