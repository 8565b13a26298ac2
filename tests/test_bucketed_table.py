"""Bucket-scoped CDC merge (streaming/bucketed_table.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from transferia_spark.cdc.changeitem import COUNTER_COL, LSN_COL, OP_COL
from transferia_spark.cdc.merge import merge_batch
from transferia_spark.streaming.bucketed_table import (
    BUCKET_COL,
    BucketedCdcApplySink,
    BucketedParquetTable,
)

CH_SCHEMA = (
    f"id long, v string, {OP_COL} string, {LSN_COL} long, {COUNTER_COL} long"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, CH_SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    return BucketedParquetTable(
        spark, str(tmp_path / "bt"), keys=["id"], n_buckets=8
    )


def test_merge_sequence_matches_full_table_merge(spark, table):
    b1 = _batch(spark, [(i, f"a{i}", "i", 1, i) for i in range(50)])
    b2 = _batch(
        spark,
        [(3, "updated", "u", 2, 0), (7, None, "d", 2, 1), (100, "new", "i", 2, 2)],
    )
    table.merge(b1)
    table.merge(b2)
    got = {(r.id, r.v) for r in table.read().collect()}

    ref = merge_batch(
        merge_batch(
            spark.createDataFrame([], "id long, v string"), b1, ["id"]
        ),
        b2,
        ["id"],
    )
    want = {(r.id, r.v) for r in ref.collect()}
    assert got == want
    assert (100, "new") in got and (3, "updated") in got
    assert all(i != 7 for i, _ in got)


def test_full_churn_shortcut_engages_and_disengages(spark, table):
    """r10: two consecutive full-coverage probes engage the no-probe
    shortcut (touched = all buckets, one Spark job per batch); results
    stay byte-equal to the probed path, and a later LOW-coverage probe
    at the re-calibration point disengages it (the only-touched-buckets
    contract returns)."""
    wide = [(i, f"a{i}", "i", 1, i) for i in range(64)]
    table.merge(_batch(spark, wide))                      # probe: full
    assert table._full_churn_budget == 0                  # streak = 1
    table.merge(_batch(spark, [(i, f"b{i}", "u", 2, i) for i in range(64)]))
    assert table._full_churn_budget == table.rewrite_probe_every - 1
    # shortcut batches: correct content, budget draining
    table.merge(_batch(spark, [(3, "short", "u", 3, 0)]))
    assert table._full_churn_budget == table.rewrite_probe_every - 2
    got = {r.id: r.v for r in table.read().collect()}
    assert got[3] == "short" and got[5] == "b5" and len(got) == 64
    # drain the budget; the re-probe sees 1/8 coverage → disengage
    for i in range(table._full_churn_budget):
        table.merge(_batch(spark, [(4, f"x{i}", "u", 10 + i, 0)]))
    assert table._full_churn_budget == 0
    table.merge(_batch(spark, [(5, "probe", "u", 99, 0)]))  # the probe
    assert table._full_churn_budget == 0 and table._full_churn_streak == 0
    table.merge(_batch(spark, [(6, "pruned", "u", 100, 0)]))
    newest = max(table.manifest().values())
    dirs = os.listdir(os.path.join(table.root, f"_v{newest}"))
    bucket_dirs = [d for d in dirs if d.startswith(f"{BUCKET_COL}=")]
    assert len(bucket_dirs) == 1  # pruning is back
    got = {r.id: r.v for r in table.read().collect()}
    assert got[4].startswith("x") and got[5] == "probe" and got[6] == "pruned"


def test_merge_rewrites_only_touched_buckets(spark, table):
    table.merge(_batch(spark, [(i, f"a{i}", "i", 1, i) for i in range(50)]))
    v1 = table.version()
    table.merge(_batch(spark, [(3, "up", "u", 2, 0)]))
    v2 = table.version()
    assert v2 == v1 + 1
    new_dirs = os.listdir(os.path.join(table.root, f"_v{v2}"))
    bucket_dirs = [d for d in new_dirs if d.startswith(f"{BUCKET_COL}=")]
    assert len(bucket_dirs) == 1  # only key 3's bucket rewrote
    # manifest still references v1 dirs for untouched buckets
    m = table.manifest()
    assert sorted(set(m.values())) == [v1, v2]
    assert table.read().count() == 50


def test_delete_can_empty_a_bucket(spark, table):
    table.merge(_batch(spark, [(1, "x", "i", 1, 0)]))
    table.merge(_batch(spark, [(1, None, "d", 2, 0)]))
    # existing-but-empty table reads as an empty frame with the stored
    # schema (ParquetTable's empty-after-delete behavior)
    out = table.read()
    assert out.count() == 0
    assert out.columns == ["id", "v"]


def test_reopen_adopts_stored_bucket_count(spark, table, tmp_path):
    table.merge(_batch(spark, [(i, f"a{i}", "i", 1, i) for i in range(20)]))
    reopened = BucketedParquetTable(
        spark, table.root, keys=["id"], n_buckets=999  # wrong: stored wins
    )
    assert reopened.n_buckets == 8
    reopened.merge(_batch(spark, [(3, "up", "u", 2, 0)]))
    got = {r.id: r.v for r in reopened.read().collect()}
    assert got[3] == "up" and len(got) == 20
    with pytest.raises(ValueError, match="keyed by"):
        BucketedParquetTable(spark, table.root, keys=["other"])


def test_merge_normalizes_key_dtype(spark, table):
    table.merge(_batch(spark, [(i, f"a{i}", "i", 1, i) for i in range(20)]))
    narrow = spark.createDataFrame(
        [(3, "up", "u", 2, 0)],
        f"id int, v string, {OP_COL} string, {LSN_COL} long, {COUNTER_COL} long",
    )
    table.merge(narrow)  # int key vs stored bigint: must still land
    got = {r.id: r.v for r in table.read().collect()}
    assert got[3] == "up" and len(got) == 20


def test_partial_batch_into_fresh_bucket_keeps_table_schema(spark, tmp_path):
    t = BucketedParquetTable(
        spark, str(tmp_path / "pt"), keys=["id"], n_buckets=4
    )
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 10.0)], "id long, v string, x double"
        )
    )
    # TOAST-style partial batch (no x column) inserting a NEW key
    partial = spark.createDataFrame(
        [(97, "new", "i", 5, 0)], CH_SCHEMA
    )
    t.merge(partial)
    out = t.read()
    assert sorted(out.columns) == ["id", "v", "x"]
    rows = {r.id: (r.v, r.x) for r in out.collect()}
    assert rows[97] == ("new", None) and rows[1] == ("a", 10.0)


@pytest.mark.slow
def test_gc_keeps_live_versions_across_window(spark, table):
    for lsn in range(5):
        table.merge(_batch(spark, [(1, f"v{lsn}", "u" if lsn else "i", lsn + 1, 0)]))
        table.merge(_batch(spark, [(2, f"w{lsn}", "u" if lsn else "i", lsn + 1, 0)]))
    # after many versions, the live manifest must still resolve fully
    rows = {(r.id, r.v) for r in table.read().collect()}
    assert rows == {(1, "v4"), (2, "w4")}


def test_pinned_reader_survives_retention_window(spark, tmp_path):
    """Reader-lease contract (r3 verdict §3): a reader pinned to manifest
    v keeps resolving v's file paths while up to retention-1 further
    commits land; one commit past the lease may GC them."""
    t = BucketedParquetTable(
        spark, str(tmp_path / "lease"), keys=["id"], n_buckets=8, retention=3
    )
    t.merge(_batch(spark, [(i, f"a{i}", "i", 1, i) for i in range(20)]))
    pin = t.version()
    pinned_manifest = t.manifest(pin)
    # two more commits land while the reader holds its pin (retention=3
    # keeps manifests {pin, pin+1, pin+2} and every dir they reference)
    t.merge(_batch(spark, [(1, "up1", "u", 2, 0)]))
    t.merge(_batch(spark, [(2, "up2", "u", 3, 0)]))
    assert t.manifest(pin) == pinned_manifest  # manifest file still there
    old = {(r.id, r.v) for r in t.read(version=pin).collect()}
    assert old == {(i, f"a{i}") for i in range(20)}  # pre-update snapshot
    new = {(r.id, r.v) for r in t.read().collect()}
    assert (1, "up1") in new and (2, "up2") in new
    # a third commit expires the lease: pin's manifest may now be GC'd
    t.merge(_batch(spark, [(3, "up3", "u", 4, 0)]))
    assert not os.path.exists(t._manifest_path(pin))


def test_sink_applies_batches(spark, table):
    sink = BucketedCdcApplySink(table)
    sink(_batch(spark, [(1, "a", "i", 1, 0), (2, "b", "i", 1, 1)]), 0)
    sink(_batch(spark, [(2, "b2", "u", 2, 0)]), 1)
    assert sink.batches_applied == 2
    assert {(r.id, r.v) for r in table.read().collect()} == {
        (1, "a"),
        (2, "b2"),
    }


def test_sink_retries_transient_errors_and_fails_fast_on_fatal(
    spark, table, caplog
):
    """A transient apply error is retried, logged at WARNING and
    counted; a deterministic one (is_fatal) raises on the first attempt;
    a transient one that persists raises after MAX_RETRIES retries."""
    import logging

    sink = BucketedCdcApplySink(table)
    real_merge = table.merge
    calls = []

    def failing(first_n, err):
        def merge(*args, **kwargs):
            calls.append(1)
            if len(calls) <= first_n:
                raise err
            return real_merge(*args, **kwargs)

        return merge

    batch = _batch(spark, [(1, "a", "i", 1, 0)])
    table.merge = failing(1, RuntimeError("transient hiccup"))
    with caplog.at_level(logging.WARNING):
        sink(batch, 0)
    assert len(calls) == 2 and sink.retries == 1
    assert sink.batches_applied == 1
    assert "transient hiccup" in caplog.text
    assert {(r.id, r.v) for r in table.read().collect()} == {(1, "a")}

    calls.clear()
    table.merge = failing(9, ValueError("deterministic"))
    with pytest.raises(ValueError, match="deterministic"):
        sink(batch, 1)
    assert len(calls) == 1 and sink.retries == 1

    calls.clear()
    table.merge = failing(9, RuntimeError("still down"))
    with pytest.raises(RuntimeError, match="still down"):
        sink(batch, 2)
    assert len(calls) == sink.MAX_RETRIES + 1
    assert sink.retries == 1 + sink.MAX_RETRIES
    assert sink.batches_applied == 1


def test_overwrite_then_merge(spark, table):
    snap = spark.createDataFrame(
        [(i, f"s{i}") for i in range(20)], "id long, v string"
    )
    table.overwrite(snap)
    assert table.read().count() == 20
    table.merge(_batch(spark, [(5, "changed", "u", 10, 0)]))
    got = {r.id: r.v for r in table.read().collect()}
    assert got[5] == "changed" and len(got) == 20


def test_bucket_assignment_stable_under_repartition(spark, table):
    b = _batch(spark, [(i, f"a{i}", "i", 1, i) for i in range(30)])
    table.merge(b.repartition(7))
    assert table.read().count() == 30
    col = table._bucket_of()
    a = {r[0] for r in b.select(col).distinct().collect()}
    c = {r[0] for r in b.repartition(3).select(col).distinct().collect()}
    assert a == c  # content-derived, retry/partitioning independent


@pytest.mark.slow
def test_bucketed_merge_equals_full_merge_random_logs(spark, tmp_path):
    """Randomized cross-check: a multi-batch changelog applied through
    the bucket-scoped table equals the same changelog through the
    plain full-table merge — including keys that hop bucket
    boundaries, re-inserts after delete, single-key batches, and
    PK-CHANGING updates whose delete lands in a different bucket than
    the insert (the touched-set bug class)."""
    import random

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField(OP_COL, T.StringType()),
            T.StructField(LSN_COL, T.LongType()),
            T.StructField(COUNTER_COL, T.LongType()),
            T.StructField(
                "_before",
                T.StructType([
                    T.StructField("id", T.LongType()),
                    T.StructField("v", T.StringType()),
                ]),
            ),
        ]
    )
    rnd = random.Random(99)
    full = spark.createDataFrame([], "id long, v string")
    t = BucketedParquetTable(
        spark, str(tmp_path / "rand"), keys=["id"], n_buckets=4
    )
    live: set[int] = set()
    lsn = 0
    for _ in range(4):
        rows = []
        for c in range(rnd.randrange(1, 8)):
            lsn += 1
            k = rnd.randrange(12)
            op = rnd.choice(["i", "u", "d", "move"])
            if op == "move" and live:
                old = rnd.choice(sorted(live))
                rows.append((k, f"v{lsn}", "u", lsn, c, {"id": old, "v": None}))
                live.discard(old)
                live.add(k)
            elif op == "d":
                rows.append((k, None, "d", lsn, c, None))
                live.discard(k)
            else:
                op = "i" if op == "move" else op
                rows.append((k, f"v{lsn}", op, lsn, c, None))
                live.add(k)
        b = spark.createDataFrame(rows, schema)
        t.merge(b)
        full = merge_batch(full, b, ["id"])
    got = {(r.id, r.v) for r in t.read().collect()}
    want = {(r.id, r.v) for r in full.collect()}
    assert got == want


def test_crashed_writer_leaves_table_consistent(spark, table):
    """A writer that dies after writing its version directory but
    before the manifest/pointer flip leaves readers on the old version;
    the next successful commit claims a fresh version number and the
    orphan directory is eventually GC'd."""
    table.merge(_batch(spark, [(1, "a", "i", 1, 0), (2, "b", "i", 1, 1)]))
    v = table.version()
    # simulate the crash: _v{v+1} data lands, no manifest, no pointer
    orphan = os.path.join(table.root, f"_v{v + 1}")
    os.makedirs(os.path.join(orphan, "bkt=0"), exist_ok=True)
    with open(os.path.join(orphan, "bkt=0", "junk"), "w") as f:
        f.write("partial")
    assert table.version() == v  # readers unaffected
    assert {(r.id, r.v) for r in table.read().collect()} == {(1, "a"), (2, "b")}
    # next commit overwrites/supersedes the orphan version number
    table.merge(_batch(spark, [(1, "a2", "u", 2, 0)]))
    assert table.version() == v + 1
    assert {(r.id, r.v) for r in table.read().collect()} == {(1, "a2"), (2, "b")}
    # junk from the crashed attempt is not referenced by any manifest
    m = table.manifest()
    live_dirs = {table._bucket_dir(ver, b) for b, ver in m.items()}
    assert os.path.join(orphan, "bkt=0") not in live_dirs or not os.path.exists(
        os.path.join(orphan, "bkt=0", "junk")
    )


@pytest.mark.slow
def test_pk_change_rewrites_old_keys_bucket(spark, table):
    """A PK-changing update (old key in _before) must touch the OLD
    key's bucket too: collapse rewrites it to delete(old)+insert(new)
    and the delete lands in the old bucket — regression for the bug
    where only after-image buckets were rewritten and the stale row
    survived."""
    from pyspark.sql import types as T

    table.merge(_batch(spark, [(1, "a", "i", 1, 0), (2, "b", "i", 1, 1)]))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField(OP_COL, T.StringType()),
            T.StructField(LSN_COL, T.LongType()),
            T.StructField(COUNTER_COL, T.LongType()),
            T.StructField(
                "_before",
                T.StructType([
                    T.StructField("id", T.LongType()),
                    T.StructField("v", T.StringType()),
                ]),
            ),
        ]
    )
    move = spark.createDataFrame(
        [(7, "moved", "u", 2, 0, {"id": 1, "v": "a"})], schema
    )
    table.merge(move)
    got = {(r.id, r.v) for r in table.read().collect()}
    assert got == {(7, "moved"), (2, "b")}  # key 1 gone, not resurrected


# ------------------------------------------------------ merge-on-read


@pytest.fixture()
def delta_table(spark, tmp_path):
    return BucketedParquetTable(
        spark, str(tmp_path / "dt"), keys=["id"], n_buckets=8,
        merge_mode="delta", max_deltas=4,
    )


def _apply_script(spark, table):
    """The same I/U/D + PK-change script both modes must agree on."""
    table.overwrite(
        spark.createDataFrame(
            [(i, f"a{i}") for i in range(40)], "id long, v string"
        )
    )
    table.merge(_batch(spark, [(3, "up3", "u", 2, 0), (7, None, "d", 2, 1)]))
    table.merge(_batch(spark, [(100, "new", "i", 3, 0), (3, "up3b", "u", 3, 1)]))
    # PK-changing update: 5 → 205 (delete lands in the OLD key's bucket)
    moved = spark.createDataFrame(
        [(205, "moved", "u", 4, 0, {"id": 5})],
        f"id long, v string, {OP_COL} string, {LSN_COL} long, "
        f"{COUNTER_COL} long, _before struct<id:long>",
    )
    table.merge(moved)
    table.merge(_batch(spark, [(100, None, "d", 5, 0), (9, "up9", "u", 5, 1)]))


@pytest.mark.slow
def test_delta_mode_matches_rewrite_mode(spark, tmp_path):
    """base + pending deltas ≡ eagerly merged state — the read-time
    last-writer-wins resolution is exactly equivalent to eager merging
    because collapse orders globally per key by (_lsn, _counter)."""
    rw = BucketedParquetTable(
        spark, str(tmp_path / "rw"), keys=["id"], n_buckets=8
    )
    dt = BucketedParquetTable(
        spark, str(tmp_path / "dt"), keys=["id"], n_buckets=8,
        merge_mode="delta", max_deltas=100,  # never auto-compact here
    )
    _apply_script(spark, rw)
    _apply_script(spark, dt)
    assert dt._manifest_doc()["deltas"]  # genuinely unfolded
    want = sorted((r.id, r.v) for r in rw.read().collect())
    got = sorted((r.id, r.v) for r in dt.read().collect())
    assert got == want
    # and after an explicit fold the state is unchanged
    dt.compact()
    assert dt._manifest_doc()["deltas"] == []
    assert sorted((r.id, r.v) for r in dt.read().collect()) == want


def test_delta_append_is_o_batch(spark, delta_table):
    """A delta append writes ONLY the batch's buckets under _d{v} and
    never touches base version dirs."""
    delta_table.overwrite(
        spark.createDataFrame(
            [(i, f"a{i}") for i in range(40)], "id long, v string"
        )
    )
    v0 = delta_table.version()
    base_dirs = set(os.listdir(delta_table.root))
    delta_table.merge(_batch(spark, [(3, "up", "u", 2, 0)]))
    v1 = delta_table.version()
    assert v1 == v0 + 1
    assert delta_table._manifest_doc()["deltas"] == [v1]
    # r9 layout: ONE sorted parquet file per append (bucket rides as a
    # data column; the manifest records the exact touched set) — the
    # old per-bucket bkt= dirs were one file create per touched bucket
    # per batch
    names = os.listdir(delta_table._delta_dir(v1))
    assert len([n for n in names if n.endswith(".parquet")]) == 1
    assert not [n for n in names if n.startswith(f"{BUCKET_COL}=")]
    assert len(delta_table._manifest_doc()["delta_buckets"][v1]) == 1
    # no new base version dir was written
    assert not os.path.isdir(os.path.join(delta_table.root, f"_v{v1}"))
    assert {
        n for n in os.listdir(delta_table.root) if n.startswith("_v")
    } == {n for n in base_dirs if n.startswith("_v")}
    # the base manifest entries are untouched
    assert set(delta_table.manifest().values()) == {v0}


def test_delta_append_of_wide_batch_is_one_spark_job(spark, tmp_path):
    """A batch with many input partitions and no shuffle appends with
    exactly ONE Spark job (no range exchange, no sampling pass), writes
    no commit markers, and still records the exact touched-bucket set."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = BucketedParquetTable(
        spark, str(tmp_path / "dt"), keys=["id"], n_buckets=8,
        merge_mode="delta",
    )
    t.overwrite(
        spark.createDataFrame(
            [(i, f"a{i}") for i in range(40)], "id long, v string"
        )
    )
    batch = spark.range(0, 220, numPartitions=8).selectExpr(
        "id",
        "IF(id < 5, NULL, concat('b', id)) AS v",
        f"CASE WHEN id < 5 THEN 'd' WHEN id < 40 THEN 'u' ELSE 'i' END"
        f" AS {OP_COL}",
        f"2L AS {LSN_COL}",
        f"id AS {COUNTER_COL}",
    )
    assert batch.rdd.getNumPartitions() >= 6
    sc = spark.sparkContext
    group = "append-delta-one-job"
    sc.setJobGroup(group, "append_delta job-count guard")
    try:
        v = t.append_delta(batch, batch_id=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    doc = t._manifest_doc()
    assert doc["deltas"] == [v]
    # delta_buckets is exact: the buckets of the batch's keys, and the
    # buckets found in the files written
    want = {
        r.b for r in batch.select(
            F.pmod(F.xxhash64("id"), F.lit(8)).cast("int").alias("b")
        ).distinct().collect()
    }
    assert set(doc["delta_buckets"][v]) == want
    d = t._delta_dir(v)
    names = os.listdir(d)
    assert names and all(n.endswith(".parquet") for n in names), names
    on_disk = set()
    for n in names:
        col = pq.read_table(os.path.join(d, n), columns=[BUCKET_COL])
        assert col.num_rows > 0
        on_disk |= set(pc.unique(col.column(0)).to_pylist())
    assert on_disk == want
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {i: f"b{i}" for i in range(5, 220)}
    # the marker-free write options were per-write: a plain session
    # write still commits with _SUCCESS
    plain = str(tmp_path / "plain")
    spark.range(3).write.parquet(plain)
    assert "_SUCCESS" in os.listdir(plain)


def test_delta_replay_is_idempotent(spark, delta_table):
    """A replayed micro-batch (same batch_id) must not append a second
    delta — the foreachBatch crash-replay contract."""
    delta_table.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )
    b = _batch(spark, [(1, "up", "u", 2, 0)])
    delta_table.merge(b, batch_id=7)
    v = delta_table.version()
    delta_table.merge(b, batch_id=7)  # replay
    assert delta_table.version() == v
    assert len(delta_table._manifest_doc()["deltas"]) == 1
    delta_table.merge(_batch(spark, [(2, "up2", "u", 3, 0)]), batch_id=8)
    got = {r.id: r.v for r in delta_table.read().collect()}
    assert got == {1: "up", 2: "up2"}


def test_delta_read_prunes_buckets(spark, delta_table):
    delta_table.overwrite(
        spark.createDataFrame(
            [(i, f"a{i}") for i in range(40)], "id long, v string"
        )
    )
    delta_table.merge(_batch(spark, [(3, "up", "u", 2, 0)]))
    # find key 3's bucket and read just it: the delta row must resolve
    doc = delta_table._manifest_doc()
    bkt = doc["delta_buckets"][doc["deltas"][0]]
    assert len(bkt) == 1
    sub = delta_table.read(buckets=bkt)
    got = {r.id: r.v for r in sub.collect()}
    assert got[3] == "up"
    # pruned read: every returned key hashes into the wanted bucket
    full = {r.id: r.v for r in delta_table.read().collect()}
    assert got == {k: v for k, v in full.items() if k in got}


@pytest.mark.slow
def test_delta_into_new_bucket_without_base(spark, tmp_path):
    """A delta-only table (no snapshot seed) and deltas introducing
    buckets the base never wrote both read correctly."""
    t = BucketedParquetTable(
        spark, str(tmp_path / "d0"), keys=["id"], n_buckets=8,
        merge_mode="delta", max_deltas=100,
    )
    t.merge(_batch(spark, [(1, "a", "i", 1, 0), (2, "b", "i", 1, 1)]))
    t.merge(_batch(spark, [(1, "a2", "u", 2, 0)]))
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {1: "a2", 2: "b"}
    t.compact()
    assert {r.id: r.v for r in t.read().collect()} == {1: "a2", 2: "b"}


def test_rewrite_merge_folds_pending_deltas_first(spark, tmp_path):
    """Mixing modes: an eager merge on a table with pending deltas must
    fold them (clearing the list) before merging — otherwise the next
    read re-applies the tail on top of the folded state."""
    t = BucketedParquetTable(
        spark, str(tmp_path / "mix"), keys=["id"], n_buckets=8,
        merge_mode="delta", max_deltas=100,
    )
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    t.merge(_batch(spark, [(1, "d1", "u", 2, 0)]))
    assert t._manifest_doc()["deltas"]
    eager = BucketedParquetTable(spark, t.root, keys=["id"])
    eager.merge(_batch(spark, [(2, "d2", "u", 3, 0)]))
    assert eager._manifest_doc()["deltas"] == []
    got = {r.id: r.v for r in eager.read().collect()}
    assert got == {1: "d1", 2: "d2"}


def test_derived_bucket_count_and_meta_wins(spark, tmp_path):
    """n_buckets=None derives from plan-size stats at the first write
    (floor 16); a reopened table always keeps the stored count."""
    t = BucketedParquetTable(
        spark, str(tmp_path / "auto"), keys=["id"], n_buckets=None
    )
    t.overwrite(
        spark.createDataFrame([(i, "x" * 10) for i in range(100)],
                              "id long, v string")
    )
    assert t.n_buckets == 16  # tiny seed → the floor
    reopened = BucketedParquetTable(
        spark, t.root, keys=["id"], n_buckets=None
    )
    assert reopened.n_buckets == 16
    # a large derived count comes straight from target_bucket_bytes —
    # stats need a file-backed frame (the real snapshot-seed shape);
    # python-local frames report unknown stats and take the floor
    seed = str(tmp_path / "seed")
    spark.createDataFrame(
        [(i, "x" * 50) for i in range(2000)], "id long, v string"
    ).write.parquet(seed)
    t2 = BucketedParquetTable(
        spark, str(tmp_path / "auto2"), keys=["id"], n_buckets=None,
        target_bucket_bytes=64,  # absurdly small to force derivation
    )
    t2.overwrite(spark.read.parquet(seed))
    assert t2.n_buckets > 16


def test_delta_mode_toast_partial_rows(spark, tmp_path):
    """Column-subset TOAST batches through the delta path: the carried
    column wins, absent columns keep the base value at read AND after
    compaction."""
    t = BucketedParquetTable(
        spark, str(tmp_path / "toast"), keys=["id"], n_buckets=4,
        merge_mode="delta", max_deltas=100,
    )
    t.overwrite(
        spark.createDataFrame([(1, "v1", "w1")], "id long, v string, w string")
    )
    partial = spark.createDataFrame(
        [(1, "v2", None, "u", 2, 0, True)],
        f"id long, v string, w string, {OP_COL} string, {LSN_COL} long, "
        f"{COUNTER_COL} long, _toasted boolean",
    )
    t.merge(partial)
    row = t.read().collect()[0]
    assert (row.v, row.w) == ("v2", "w1")  # w carried forward, not NULLed
    t.compact()
    row = t.read().collect()[0]
    assert (row.v, row.w) == ("v2", "w1")


def _two_mode_tables(spark, tmp_path):
    rw = BucketedParquetTable(
        spark, str(tmp_path / "rw2"), keys=["id"], n_buckets=4
    )
    dt = BucketedParquetTable(
        spark, str(tmp_path / "dt2"), keys=["id"], n_buckets=4,
        merge_mode="delta", max_deltas=100,
    )
    return rw, dt


@pytest.mark.slow
def test_delta_mixed_schema_tail_matches_eager(spark, tmp_path):
    """ADVICE r7 (medium): an UNMARKED column-subset batch in a mixed
    delta tail means "those columns untouched" (eager merge keeps the
    target value for columns absent from the batch); the union NULL-fill
    must not turn that into an overwrite-with-NULL. A full-column batch
    carrying a genuine NULL must still overwrite."""
    seed = spark.createDataFrame(
        [(1, "v1", "w1"), (2, "v2", "w2"), (3, "v3", "w3")],
        "id long, v string, w string",
    )
    full_null = spark.createDataFrame(  # genuine SET w = NULL on id=2
        [(2, "v2b", None, "u", 2, 0)],
        f"id long, v string, w string, {OP_COL} string, {LSN_COL} long, "
        f"{COUNTER_COL} long",
    )
    subset = spark.createDataFrame(  # column-subset batch: w untouched
        [(1, "v1b", "u", 3, 0)],
        f"id long, v string, {OP_COL} string, {LSN_COL} long, "
        f"{COUNTER_COL} long",
    )
    rw, dt = _two_mode_tables(spark, tmp_path)
    for t in (rw, dt):
        t.overwrite(seed)
        t.merge(full_null)
        t.merge(subset)
    assert dt._manifest_doc()["deltas"]  # genuinely a mixed pending tail
    want = sorted((r.id, r.v, r.w) for r in rw.read().collect())
    assert want == [(1, "v1b", "w1"), (2, "v2b", None), (3, "v3", "w3")]
    got = sorted((r.id, r.v, r.w) for r in dt.read().collect())
    assert got == want
    dt.compact()  # the fold reads through the same aligned union
    got = sorted((r.id, r.v, r.w) for r in dt.read().collect())
    assert got == want


@pytest.mark.slow
def test_delta_mixed_tail_with_toasted_frame(spark, tmp_path):
    """A _toasted frame and a narrower unmarked frame in one tail: the
    presence rewrite keeps both conventions exact."""
    rw, dt = _two_mode_tables(spark, tmp_path)
    seed = spark.createDataFrame(
        [(1, "v1", "w1"), (2, "v2", "w2")], "id long, v string, w string"
    )
    toasted = spark.createDataFrame(  # flagged: NULL w means "absent"
        [(2, "v2c", None, "u", 2, 0, True)],
        f"id long, v string, w string, {OP_COL} string, {LSN_COL} long, "
        f"{COUNTER_COL} long, _toasted boolean",
    )
    subset = spark.createDataFrame(
        [(1, "v1c", "u", 3, 0)],
        f"id long, v string, {OP_COL} string, {LSN_COL} long, "
        f"{COUNTER_COL} long",
    )
    for t in (rw, dt):
        t.overwrite(seed)
        t.merge(toasted)
        t.merge(subset)
    want = sorted((r.id, r.v, r.w) for r in rw.read().collect())
    assert want == [(1, "v1c", "w1"), (2, "v2c", "w2")]
    assert sorted((r.id, r.v, r.w) for r in dt.read().collect()) == want


def test_overwrite_resets_replay_watermark(spark, tmp_path):
    """r7 verdict item 5: a snapshot seed (overwrite) starts a new
    replay epoch — a re-checkpointed stream restarting at batch_id 0
    must land, not be skipped by the previous lineage's watermark."""
    t = BucketedParquetTable(
        spark, str(tmp_path / "epoch"), keys=["id"], n_buckets=4,
        merge_mode="delta", max_deltas=100,
    )
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.merge(_batch(spark, [(1, "u7", "u", 2, 0)]), batch_id=7)
    assert t._manifest_doc()["last_batch_id"] == 7
    # re-activation: fresh snapshot seed into the SAME table root
    t.overwrite(spark.createDataFrame([(1, "b")], "id long, v string"))
    assert t._manifest_doc()["last_batch_id"] is None
    t.merge(_batch(spark, [(1, "u0", "u", 3, 0)]), batch_id=0)
    assert {r.v for r in t.read().collect()} == {"u0"}
    # compact must NOT reset the watermark (same lineage continues)
    t.merge(_batch(spark, [(1, "u1", "u", 4, 0)]), batch_id=1)
    t.compact()
    assert t._manifest_doc()["last_batch_id"] == 1


def test_delta_mode_toast_aware_contract(spark, tmp_path):
    """r7 verdict item 10: delta mode derives partial-row handling from
    the batch's own markers; a contradicting explicit toast_aware is
    rejected loudly, an agreeing one is accepted."""
    t = BucketedParquetTable(
        spark, str(tmp_path / "contract"), keys=["id"], n_buckets=4,
        merge_mode="delta", max_deltas=100,
    )
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    plain = _batch(spark, [(1, "u", "u", 2, 0)])
    with pytest.raises(ValueError, match="toast_aware"):
        t.merge(plain, toast_aware=True)  # no markers: unrepresentable
    t.merge(plain, toast_aware=False)  # agrees with auto-detection
    marked = spark.createDataFrame(
        [(1, "u2", "u", 3, 0, False)],
        f"id long, v string, {OP_COL} string, {LSN_COL} long, "
        f"{COUNTER_COL} long, _toasted boolean",
    )
    with pytest.raises(ValueError, match="toast_aware"):
        t.merge(marked, toast_aware=False)  # markers say otherwise
    t.merge(marked, toast_aware=True)
    assert {r.v for r in t.read().collect()} == {"u2"}


@pytest.mark.slow
def test_incremental_compaction_no_full_table_fold(spark, tmp_path):
    """r7 verdict item 4: under uniform churn the incremental policy
    folds a staggered SUBSET of buckets per batch — never the whole
    table on one batch — while reads stay exactly the eager-merge
    state and the pending tail per bucket stays ≤ max_deltas."""
    n_buckets, md = 8, 4
    rw = BucketedParquetTable(
        spark, str(tmp_path / "rw"), keys=["id"], n_buckets=n_buckets
    )
    dt = BucketedParquetTable(
        spark, str(tmp_path / "dt"), keys=["id"], n_buckets=n_buckets,
        merge_mode="delta", max_deltas=md,  # compact_policy defaults
    )
    assert dt.compact_policy == "incremental"
    seed = spark.createDataFrame(
        [(i, f"a{i}") for i in range(200)], "id long, v string"
    )
    rw.overwrite(seed)
    dt.overwrite(seed)
    lsn = 2
    folds_per_batch = []
    for batch_no in range(12):
        # uniform churn: every batch touches every bucket
        rows = [(i, f"b{batch_no}_{i}", "u", lsn, i) for i in range(0, 200, 5)]
        lsn += 1
        b = _batch(spark, rows)
        rw.merge(b)
        before = dict(dt._manifest_doc()["folded"])
        dt.merge(b, batch_id=batch_no)
        after = dt._manifest_doc()["folded"]
        changed = {k for k in after if after.get(k) != before.get(k)}
        folds_per_batch.append(len(changed))
    # no batch folded the full table; folding did happen
    assert max(folds_per_batch) < n_buckets, folds_per_batch
    assert sum(folds_per_batch) > 0
    # per-bucket pending tail is bounded by the staggered ceiling
    doc = dt._manifest_doc()
    counts: dict[int, int] = {}
    for d in doc["deltas"]:
        for bk in doc["delta_buckets"][d]:
            if d > doc["folded"].get(bk, -1):
                counts[bk] = counts.get(bk, 0) + 1
    assert all(c < 2 * md for c in counts.values()), counts
    # state identical to eager merging
    want = sorted((r.id, r.v) for r in rw.read().collect())
    got = sorted((r.id, r.v) for r in dt.read().collect())
    assert got == want
    # a full maintenance fold converges and changes nothing
    dt.compact()
    assert dt._manifest_doc()["deltas"] == []
    assert sorted((r.id, r.v) for r in dt.read().collect()) == want


def test_compact_buckets_partial_fold_and_delta_gc(spark, tmp_path):
    """compact_buckets folds ONLY the asked buckets: their folded
    watermark advances, other buckets keep reading the pending tail,
    and a delta version leaves the manifest once every bucket it
    touches has folded it."""
    dt = BucketedParquetTable(
        spark, str(tmp_path / "dt"), keys=["id"], n_buckets=4,
        merge_mode="delta", max_deltas=100, compact_policy="off",
    )
    dt.overwrite(
        spark.createDataFrame(
            [(i, f"a{i}") for i in range(40)], "id long, v string"
        )
    )
    # one delta touching (very likely) several buckets
    dt.merge(_batch(
        spark, [(i, f"u{i}", "u", 2, i) for i in range(0, 40, 3)]
    ))
    doc = dt._manifest_doc()
    (d,) = doc["deltas"]
    touched = doc["delta_buckets"][d]
    assert len(touched) > 1
    half = touched[: len(touched) // 2]
    dt.compact_buckets(half)
    doc = dt._manifest_doc()
    assert doc["deltas"] == [d]  # still pending for the other buckets
    assert set(doc["folded"]) == set(half)
    # reads: all values are the updated ones either way
    got = {r.id: r.v for r in dt.read().collect()}
    for i in range(0, 40, 3):
        assert got[i] == f"u{i}"
    # folding the remainder retires the delta version entirely
    dt.compact_buckets([b for b in touched if b not in half])
    doc = dt._manifest_doc()
    assert doc["deltas"] == [] and doc["folded"] == {}
    got = {r.id: r.v for r in dt.read().collect()}
    assert got[3] == "u3" and got[1] == "a1" and len(got) == 40


def test_compact_policy_off_never_folds(spark, tmp_path):
    dt = BucketedParquetTable(
        spark, str(tmp_path / "off"), keys=["id"], n_buckets=4,
        merge_mode="delta", max_deltas=2, compact_policy="off",
    )
    dt.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    for i in range(5):
        dt.merge(_batch(spark, [(1, f"u{i}", "u", 2 + i, 0)]), batch_id=i)
    assert len(dt._manifest_doc()["deltas"]) == 5  # tail grows, reads fine
    assert {r.v for r in dt.read().collect()} == {"u4"}
    for bad in ("sometimes", "inline"):
        with pytest.raises(ValueError, match="compact_policy"):
            BucketedParquetTable(
                spark, str(tmp_path / "bad"), keys=["id"],
                compact_policy=bad,
            )


def test_concurrent_append_and_fold_converge(spark, tmp_path):
    """The async-compaction interleaving: a background fold commits
    while the streaming thread keeps appending — deltas appended
    mid-fold sit above every fold watermark, so the final state equals
    eager merging and nothing is lost."""
    import threading

    rw = BucketedParquetTable(
        spark, str(tmp_path / "rw"), keys=["id"], n_buckets=4
    )
    dt = BucketedParquetTable(
        spark, str(tmp_path / "dt"), keys=["id"], n_buckets=4,
        merge_mode="delta", max_deltas=2, compact_policy="off",
    )
    seed = spark.createDataFrame(
        [(i, "s") for i in range(80)], "id long, v string"
    )
    rw.overwrite(seed)
    dt.overwrite(seed)
    batches = [
        _batch(spark, [(i, f"b{n}_{i}", "u", 2 + n, i)
                       for i in range(0, 80, 4)])
        for n in range(6)
    ]
    for b in batches[:2]:
        rw.merge(b)
        dt.merge(b)
    errs = []

    def fold():
        try:
            dt.compact_buckets([0, 1, 2, 3])
        except Exception as e:  # surfaced below
            errs.append(e)

    t = threading.Thread(target=fold)
    t.start()
    for bi, b in enumerate(batches[2:]):
        rw.merge(b)
        dt.merge(b, batch_id=bi)
    t.join(60)
    assert not t.is_alive() and not errs, errs
    want = sorted((r.id, r.v) for r in rw.read().collect())
    got = sorted((r.id, r.v) for r in dt.read().collect())
    assert got == want
    # converge fully and re-check
    dt.compact()
    assert sorted((r.id, r.v) for r in dt.read().collect()) == want


@pytest.mark.slow
def test_async_sink_folds_in_background(spark, tmp_path):
    """BucketedCdcApplySink with async compaction: the apply path only
    appends (fold=False), a background thread folds due buckets, and
    the end state matches the eager rewrite table."""
    rw = BucketedParquetTable(
        spark, str(tmp_path / "rw"), keys=["id"], n_buckets=4
    )
    dt = BucketedParquetTable(
        spark, str(tmp_path / "dt"), keys=["id"], n_buckets=4,
        merge_mode="delta", max_deltas=2,
    )
    sink = BucketedCdcApplySink(dt)
    assert sink._background_fold
    seed = spark.createDataFrame(
        [(i, "s") for i in range(60)], "id long, v string"
    )
    rw.overwrite(seed)
    dt.overwrite(seed)
    for n in range(10):  # uniform churn: every batch touches all buckets
        b = _batch(
            spark, [(i, f"b{n}_{i}", "u", 2 + n, i) for i in range(0, 60, 3)]
        )
        rw.merge(b)
        sink(b, n)
        sink.wait_for_compaction()  # deterministic: join between batches
    assert sink.batches_applied == 10
    doc = dt._manifest_doc()
    assert doc["folded"], "background compaction never ran"
    want = sorted((r.id, r.v) for r in rw.read().collect())
    got = sorted((r.id, r.v) for r in dt.read().collect())
    assert got == want
    # replay of the last batch stays a no-op through the sink
    v = dt.version()
    sink(
        _batch(spark, [(0, "replay", "u", 11, 0)]), 9
    )
    assert {r.v for r in dt.read(
        [int(dt.spark.createDataFrame([(0,)], "id long").select(
            dt._bucket_of()).collect()[0][0])]
    ).filter(F.col("id") == 0).collect()} != {"replay"}
    assert dt.version() == v


def test_async_sink_surfaces_compaction_failure(spark, tmp_path):
    dt = BucketedParquetTable(
        spark, str(tmp_path / "dt"), keys=["id"], n_buckets=4,
        merge_mode="delta", max_deltas=1,
    )
    dt.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    sink = BucketedCdcApplySink(dt)

    def boom(buckets):
        raise RuntimeError("disk full (simulated)")

    dt.compact_buckets = boom
    sink(_batch(spark, [(1, "u0", "u", 2, 0)]), 0)
    sink.wait_for_compaction(timeout=30) if sink._compact_err is None else None
    with pytest.raises(RuntimeError, match="disk full"):
        # surfaced either by the explicit join or on the next batch
        if sink._compact_err is not None:
            sink(_batch(spark, [(1, "u1", "u", 3, 0)]), 1)
        else:
            raise RuntimeError("disk full (fold never ran)")


def test_trcli_compact_folds_bucketed_table(spark, tmp_path, monkeypatch):
    """`trcli compact --src <bucketed root>` (no --dst) folds the
    pending delta tail in place — the compact_policy='off' maintenance
    deployment (r7 verdict item 4)."""
    import sys

    dt = BucketedParquetTable(
        spark, str(tmp_path / "dt"), keys=["id"], n_buckets=4,
        merge_mode="delta", max_deltas=100, compact_policy="off",
    )
    dt.overwrite(
        spark.createDataFrame(
            [(i, f"a{i}") for i in range(20)], "id long, v string"
        )
    )
    dt.merge(_batch(spark, [(3, "u3", "u", 2, 0)]))
    dt.merge(_batch(spark, [(7, "u7", "u", 3, 0)]))
    assert len(dt._manifest_doc()["deltas"]) == 2

    import transferia_spark.session as sess_mod

    monkeypatch.setattr(sess_mod, "get_spark", lambda *a, **k: spark)
    sys.path.insert(0, str(tmp_path))  # no-op, keeps sys.path restorable
    from scripts.trcli import main as trcli_main

    monkeypatch.setattr(
        sys, "argv", ["trcli", "compact", "--src", dt.root]
    )
    assert trcli_main() == 0
    reopened = BucketedParquetTable(spark, dt.root, keys=["id"])
    assert reopened._manifest_doc()["deltas"] == []
    got = {r.id: r.v for r in reopened.read().collect()}
    assert got[3] == "u3" and got[7] == "u7" and len(got) == 20


def test_delta_mixed_conventions_same_payload(spark, tmp_path):
    """Code-review r8 finding 3: a _toasted frame and an UNMARKED frame
    with IDENTICAL payload columns in one tail — the union must still
    rewrite to explicit _present markers, or NULL-filling the flag
    breaks the toasted frame's NULL-means-absent contract."""
    rw, dt = _two_mode_tables(spark, tmp_path)
    seed = spark.createDataFrame(
        [(1, "v1", "w1"), (2, "v2", "w2")], "id long, v string, w string"
    )
    toasted = spark.createDataFrame(  # same payload cols as `plain`
        [(1, "v1b", None, "u", 2, 0, True)],  # NULL w = "absent"
        f"id long, v string, w string, {OP_COL} string, {LSN_COL} long, "
        f"{COUNTER_COL} long, _toasted boolean",
    )
    plain = spark.createDataFrame(  # full row, genuine NULL w
        [(2, "v2b", None, "u", 3, 0)],
        f"id long, v string, w string, {OP_COL} string, {LSN_COL} long, "
        f"{COUNTER_COL} long",
    )
    for t in (rw, dt):
        t.overwrite(seed)
        t.merge(toasted)
        t.merge(plain)
    want = sorted((r.id, r.v, r.w) for r in rw.read().collect())
    assert want == [(1, "v1b", "w1"), (2, "v2b", None)]
    got = sorted((r.id, r.v, r.w) for r in dt.read().collect())
    assert got == want
    dt.compact()
    assert sorted((r.id, r.v, r.w) for r in dt.read().collect()) == want


# ----------------------------------------------------- cross-process
# writer coordination (code-review r8 finding 2): `trcli compact` runs
# in its own PROCESS against a live streaming appender's root, where
# the in-process commit mutex protects nothing. Two table INSTANCES
# share no Python state, so they model the two processes exactly
# (the flock, _ALLOC high-water, and inflight ledger are the only
# coordination between them).


def test_alloc_high_water_unique_across_instances(spark, tmp_path):
    """Version numbers come from the persisted _ALLOC high-water, so
    two uncoordinated writer instances can never claim the same
    _v{n}/_d{n} directory name (pre-fix: both derived version()+1)."""
    root = str(tmp_path / "bt")
    a = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
    b = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
    seen = [a._alloc_version(), b._alloc_version(),
            a._alloc_version(), b._alloc_version()]
    assert len(set(seen)) == 4
    assert seen == sorted(seen)  # monotonic, never reused


def test_gc_spares_cross_process_inflight_claim(spark, tmp_path):
    """Another process's allocated-but-uncommitted dir (its parquet
    write in flight, referenced by no manifest) must survive this
    process's GC until the claim is released."""
    root = str(tmp_path / "bt")
    compactor = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
    stream = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
    n = compactor._alloc_version()
    claimed = os.path.join(root, f"_v{n}")
    os.makedirs(claimed)
    with open(os.path.join(claimed, "part-inflight.parquet"), "w") as f:
        f.write("x")
    # several streaming commits age every unreferenced version out of
    # the retention window — only the ledger protects the claim
    for lsn in range(3):
        stream.merge(_batch(spark, [(1, f"v{lsn}", "u", lsn, 0)]))
    assert os.path.isdir(claimed)
    compactor._release_claim(n)
    stream.merge(_batch(spark, [(1, "v9", "u", 9, 0)]))
    assert not os.path.isdir(claimed)  # released orphan is swept


def test_stale_claim_reclaimed_after_ttl(spark, tmp_path, monkeypatch):
    """A crashed writer's ledger entry expires after CLAIM_TTL and its
    orphan dir is reclaimed; live entries stay untouched."""
    root = str(tmp_path / "bt")
    t = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
    crashed = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
    n = crashed._alloc_version()
    orphan = os.path.join(root, f"_d{n}")
    os.makedirs(orphan)
    # backdate the claim past the TTL, as a crash + time would
    alloc = t._read_alloc()
    alloc["inflight"][str(n)] -= BucketedParquetTable.CLAIM_TTL + 60
    t._write_alloc(alloc)
    t.merge(_batch(spark, [(1, "v", "i", 1, 0)]))
    assert not os.path.isdir(orphan)
    assert str(n) not in t._read_alloc()["inflight"]  # ledger pruned


def test_fs_lock_closes_fd_when_flock_fails(spark, tmp_path, monkeypatch):
    """flock can fail (ENOLCK on NFS) or be interrupted while blocked
    on another process's lock — a commit path that retries must not
    leak one _LOCK fd per attempt."""
    import errno
    import fcntl as _fcntl

    t = BucketedParquetTable(
        spark, str(tmp_path / "bt"), keys=["id"], n_buckets=2
    )
    closed = []
    real_close = os.close
    monkeypatch.setattr(
        os, "close", lambda fd: (closed.append(fd), real_close(fd))[1]
    )

    def boom(fd, op):
        raise OSError(errno.ENOLCK, "no locks available")

    monkeypatch.setattr(_fcntl, "flock", boom)
    with pytest.raises(OSError, match="locks"):
        with t._fs_lock():
            pass  # pragma: no cover — flock raises before entry
    assert len(closed) == 1  # the just-opened fd was released
    assert t._fs_lock_fd is None and t._fs_lock_depth == 0


def test_commit_sections_mutually_exclude_across_instances(spark, tmp_path):
    """The manifest read-modify-write holds the _LOCK flock: while one
    instance (process stand-in) is inside its commit section, another
    instance's commit blocks instead of interleaving (the lost-delta
    race: both read manifest v, both write v+1, one update vanishes)."""
    import threading

    root = str(tmp_path / "bt")
    a = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
    b = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
    a.overwrite(spark.createDataFrame([(1, "s")], "id long, v string"))
    cm = a._fs_lock()
    cm.__enter__()  # A sits inside its commit section
    done = threading.Event()

    def other_commit():
        b.merge(_batch(spark, [(2, "w", "i", 1, 0)]))
        done.set()

    t = threading.Thread(target=other_commit, daemon=True)
    t.start()
    # B gets through planning/parquet but must NOT commit a manifest
    # while A holds the section
    assert not done.wait(3.0)
    ver_during = a.version()
    cm.__exit__(None, None, None)
    assert done.wait(30.0)
    t.join(5)
    assert a.version() > ver_during
    got = {(r.id, r.v) for r in a.read().collect()}
    assert got == {(1, "s"), (2, "w")}


def test_cross_instance_append_and_maintenance_fold(spark, tmp_path):
    """The finding's deployment: compact_policy="off" stream appending
    deltas while a SEPARATE instance (the trcli-compact process) folds
    concurrently. Every appended delta must survive into the final
    state — pre-fix the fold's manifest write could clobber a
    concurrently committed append."""
    import threading

    root = str(tmp_path / "dt")
    stream = BucketedParquetTable(
        spark, root, keys=["id"], n_buckets=4,
        merge_mode="delta", max_deltas=2, compact_policy="off",
    )
    seed = spark.createDataFrame(
        [(i, "s") for i in range(40)], "id long, v string"
    )
    stream.overwrite(seed)
    stream.merge(_batch(spark, [(i, f"b0_{i}", "u", 2, i)
                                for i in range(0, 40, 2)]))
    from transferia_spark.tasks.compact import compact_bucketed_table

    errs, folds = [], []

    def maintenance():
        try:
            for _ in range(3):
                folds.append(compact_bucketed_table(spark, root))
        except Exception as e:
            errs.append(e)

    t = threading.Thread(target=maintenance)
    t.start()
    for n in range(1, 5):
        stream.merge(_batch(spark, [(i, f"b{n}_{i}", "u", 2 + n, i)
                                    for i in range(0, 40, 2)]))
    t.join(120)
    assert not t.is_alive() and not errs, errs
    got = {(r.id, r.v) for r in stream.read().collect()}
    want = {(i, "s") for i in range(1, 40, 2)} | {
        (i, f"b4_{i}") for i in range(0, 40, 2)
    }
    assert got == want
    # a fresh reader (yet another "process") agrees after full fold
    compact_bucketed_table(spark, root)
    fresh = BucketedParquetTable(spark, root, keys=["id"], n_buckets=None)
    assert {(r.id, r.v) for r in fresh.read().collect()} == want


def test_gc_sweeps_outside_lock_and_reclaims_crash_trash(spark, tmp_path):
    """GC condemns doomed dirs with a rename under the commit lock and
    deletes them after release; a _trash dir left by a crash mid-sweep
    is picked up by the next commit's GC."""
    root = str(tmp_path / "bt")
    t = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
    # a crashed sweep's leftover
    leftover = os.path.join(root, "_trash_v99")
    os.makedirs(leftover)
    with open(os.path.join(leftover, "junk"), "w") as f:
        f.write("x")
    for lsn in range(4):  # age versions through the retention window
        t.merge(_batch(spark, [(1, f"v{lsn}", "u", lsn, 0)]))
    assert not os.path.isdir(leftover)
    # no _trash residue after normal operation either
    assert not [n for n in os.listdir(root) if n.startswith("_trash")]
    assert {(r.id, r.v) for r in t.read().collect()} == {(1, "v3")}


# ------------------------------------------------------------ rebucket
# A fixed creation-time bucket count is the long-horizon scale trap: a
# CDC target seeded small keeps absorbing rows and every touched-bucket
# rewrite grows with per-bucket size. rebucket() re-lays the table out
# under a new count in one atomic manifest flip.


def test_rebucket_preserves_rows_and_new_layout(spark, tmp_path):
    root = str(tmp_path / "bt")
    t = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
    t.merge(_batch(spark, [(i, f"a{i}", "i", 1, i) for i in range(60)]))
    t.merge(_batch(spark, [(3, "up", "u", 2, 0), (7, None, "d", 2, 1)]))
    want = {(r.id, r.v) for r in t.read().collect()}
    v_old = t.version()
    v = t.rebucket(16)
    assert t.n_buckets == 16
    assert {(r.id, r.v) for r in t.read().collect()} == want
    # manifest: every new bucket mapped, count recorded, deltas clear
    doc = t._manifest_doc()
    assert doc["n_buckets"] == 16
    assert sorted(doc["buckets"]) == list(range(16))
    assert doc["deltas"] == []
    # reopening resolves the new count (meta + manifest agree)
    fresh = BucketedParquetTable(spark, root, keys=["id"], n_buckets=None)
    assert fresh.n_buckets == 16
    # reader lease: the pre-rebucket manifest still reads (retention=2)
    assert {(r.id, r.v) for r in t.read(version=v_old).collect()} == want
    # and the table keeps merging under the new function
    t.merge(_batch(spark, [(100, "new", "i", 3, 0)]))
    assert (100, "new") in {(r.id, r.v) for r in t.read().collect()}
    assert v == t.version() - 1


def test_rebucket_shrink_rebuilds_manifest(spark, tmp_path):
    """A shrink must not leave stale manifest entries above the new
    count pointing at old rows (duplicate reads)."""
    t = BucketedParquetTable(
        spark, str(tmp_path / "bt"), keys=["id"], n_buckets=16
    )
    t.merge(_batch(spark, [(i, f"a{i}", "i", 1, i) for i in range(40)]))
    want = {(r.id, r.v) for r in t.read().collect()}
    t.rebucket(4)
    doc = t._manifest_doc()
    assert sorted(doc["buckets"]) == list(range(4))
    assert {(r.id, r.v) for r in t.read().collect()} == want


def test_rebucket_folds_pending_deltas_first(spark, tmp_path):
    t = BucketedParquetTable(
        spark, str(tmp_path / "bt"), keys=["id"], n_buckets=4,
        merge_mode="delta", compact_policy="off",
    )
    t.merge(_batch(spark, [(i, f"a{i}", "i", 1, i) for i in range(20)]),
            batch_id=0)
    t.merge(_batch(spark, [(3, "up", "u", 2, 0)]), batch_id=1)
    assert t._manifest_doc()["deltas"]  # tail pending
    want = {(r.id, r.v) for r in t.read().collect()}
    t.rebucket(8)
    doc = t._manifest_doc()
    assert doc["deltas"] == [] and doc["n_buckets"] == 8
    # the replay watermark survives: a rebucket is maintenance inside
    # ONE checkpoint lineage, not a new epoch
    assert doc["last_batch_id"] == 1
    assert {(r.id, r.v) for r in t.read().collect()} == want
    t.merge(_batch(spark, [(3, "later", "u", 3, 0)]), batch_id=1)  # replay
    assert (3, "up") in {(r.id, r.v) for r in t.read().collect()}
    t.merge(_batch(spark, [(3, "later", "u", 3, 0)]), batch_id=2)
    assert (3, "later") in {(r.id, r.v) for r in t.read().collect()}


def test_rebucket_auto_sizing(spark, tmp_path):
    t = BucketedParquetTable(
        spark, str(tmp_path / "bt"), keys=["id"], n_buckets=4
    )
    t.merge(_batch(spark, [(i, "x" * 50, "i", 1, i) for i in range(100)]))
    # the base fits comfortably in 4 × 1 GB: no-op
    assert t.recommended_n_buckets() == 4
    v = t.version()
    assert t.rebucket() == v and t.n_buckets == 4
    # shrink the per-bucket budget so the same base overflows it:
    # power-of-two growth sized to ~target per bucket
    total = t.base_bytes()
    assert total > 0
    t.target_bucket_bytes = max(1, total // 64)
    rec = t.recommended_n_buckets()
    assert rec > 4 and rec % 4 == 0 and (rec // 4) & (rec // 4 - 1) == 0
    assert rec * t.target_bucket_bytes >= t.base_bytes()
    t.rebucket()
    assert t.n_buckets == rec


def test_stale_writer_retries_after_cross_process_rebucket(spark, tmp_path):
    """Instance B (process stand-in) rebuckets while instance A still
    assumes the old count: A's next commit discards its mis-bucketed
    write and retries under the refreshed layout — both for the
    rewrite path and the delta path."""
    root = str(tmp_path / "bt")
    a = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
    a.merge(_batch(spark, [(i, f"a{i}", "i", 1, i) for i in range(20)]))
    b = BucketedParquetTable(spark, root, keys=["id"], n_buckets=None)
    b.rebucket(8)
    assert a.n_buckets == 4  # A is stale
    a.merge(_batch(spark, [(3, "up", "u", 2, 0)]))
    assert a.n_buckets == 8  # healed by the retry
    got = {(r.id, r.v) for r in b.read().collect()}
    assert (3, "up") in got and len(got) == 20
    # delta path: make A stale again via B
    a2 = BucketedParquetTable(
        spark, root, keys=["id"], merge_mode="delta", compact_policy="off"
    )
    b.rebucket(16)
    assert a2.n_buckets == 8
    a2.merge(_batch(spark, [(5, "dd", "u", 3, 0)]), batch_id=10)
    assert a2.n_buckets == 16
    assert (5, "dd") in {(r.id, r.v) for r in a2.read().collect()}


def test_reopen_resolves_manifest_count_over_meta(spark, tmp_path):
    """Crash window: _meta.json is rewritten BEFORE the rebucket's
    parquet + manifest land. A reopen must resolve the MANIFEST's
    recorded count — the atomic commit point — not the half-done
    meta."""
    import json as _json

    root = str(tmp_path / "bt")
    t = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
    t.merge(_batch(spark, [(1, "x", "i", 1, 0)]))
    meta_path = os.path.join(root, "_meta.json")
    with open(meta_path) as f:
        meta = _json.load(f)
    meta["n_buckets"] = 64  # the crashed rebucket's premature meta
    with open(meta_path, "w") as f:
        _json.dump(meta, f)
    fresh = BucketedParquetTable(spark, root, keys=["id"], n_buckets=None)
    assert fresh.n_buckets == 4
    assert {(r.id, r.v) for r in fresh.read().collect()} == {(1, "x")}


def test_rebucket_task_and_verb_surface(spark, tmp_path):
    from transferia_spark.tasks.compact import rebucket_bucketed_table

    root = str(tmp_path / "bt")
    t = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
    t.merge(_batch(spark, [(i, f"a{i}", "i", 1, i) for i in range(30)]))
    old_n, new_n, v = rebucket_bucketed_table(spark, root, n_buckets=8)
    assert (old_n, new_n) == (4, 8)
    fresh = BucketedParquetTable(spark, root, keys=["id"], n_buckets=None)
    assert fresh.n_buckets == 8 and fresh.read().count() == 30
    # auto mode on a fitting table: explicit no-op result
    old_n, new_n, _ = rebucket_bucketed_table(spark, root)
    assert old_n == new_n == 8


def test_stale_compact_after_rebucket_folds_everything(spark, tmp_path):
    """A stale instance's compact() must neither miss deltas in
    buckets above its old count nor stamp its stale count into the
    manifest (review: compact's pending scan and its empty-pairs
    bookkeeping commit both bypassed the layout guard)."""
    root = str(tmp_path / "bt")
    a = BucketedParquetTable(spark, root, keys=["id"], n_buckets=2,
                             merge_mode="delta", compact_policy="off")
    a.merge(_batch(spark, [(i, f"a{i}", "i", 1, i) for i in range(20)]),
            batch_id=0)
    a.compact()
    b = BucketedParquetTable(spark, root, keys=["id"], n_buckets=None,
                             merge_mode="delta", compact_policy="off")
    b.rebucket(8)
    # C appends a delta under the NEW layout (some bucket >= 2 is
    # touched with 20 spread keys)
    c = BucketedParquetTable(spark, root, keys=["id"], n_buckets=None,
                             merge_mode="delta", compact_policy="off")
    c.merge(_batch(spark, [(i, f"up{i}", "u", 2, i) for i in range(20)]),
            batch_id=1)
    cdoc = c._manifest_doc()
    touched = {b2 for d in cdoc["deltas"] for b2 in cdoc["delta_buckets"][d]}
    assert any(x >= 2 for x in touched)
    # the STALE instance folds: must refresh, fold the full tail, and
    # keep the manifest's 8-bucket count
    assert a.n_buckets == 2
    a.compact()
    assert a.n_buckets == 8
    doc = a._manifest_doc()
    assert doc["n_buckets"] == 8 and doc["deltas"] == []
    got = {(r.id, r.v) for r in a.read().collect()}
    assert got == {(i, f"up{i}") for i in range(20)}


def test_bucket_files_are_key_sorted(spark, tmp_path):
    """Commit writes cluster keys within each bucket file (row-group
    min/max pruning + delta encoding); the sort leads with the bucket
    column so the planner's partitionBy ordering requirement is
    satisfied by THIS sort, not a second unstable one."""
    import pyarrow.parquet as pq

    t = BucketedParquetTable(spark, str(tmp_path / "bt"),
                             keys=["id"], n_buckets=2)
    t.merge(_batch(spark, [(i, "v", "i", 1, i) for i in range(300)]))
    m = t.manifest()
    checked = 0
    for b, v in m.items():
        d = t._bucket_dir(v, b)
        if not os.path.isdir(d):
            continue
        for n in os.listdir(d):
            if n.endswith(".parquet"):
                ids = pq.read_table(os.path.join(d, n), columns=["id"])
                vals = ids.column("id").to_pylist()
                assert vals == sorted(vals)
                checked += 1
    assert checked >= 2


def test_rebucket_races_streaming_sink(spark, tmp_path):
    """A rebucket issued while the apply sink is mid-stream: appends
    that measured their batch against the old layout discard and
    retry under the new one (in-process the parquet write happens
    OUTSIDE the commit mutex, so the interleaving is real), background
    folds survive, and the final state is exactly the last-writer-wins
    outcome with the new bucket count."""
    import threading

    root = str(tmp_path / "bt")
    t = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4,
                             merge_mode="delta", max_deltas=2)
    t.overwrite(spark.createDataFrame(
        [(i, "seed") for i in range(40)], "id long, v string"
    ))
    sink = BucketedCdcApplySink(t)
    errs = []

    def stream():
        try:
            for i in range(6):
                sink(_batch(
                    spark, [(k, f"up{i}_{k}", "u", 10 + i, k)
                            for k in range(40)]
                ), i)
        except Exception as e:  # pragma: no cover — must not happen
            errs.append(e)

    th = threading.Thread(target=stream)
    th.start()
    t.rebucket(16)
    th.join(300)
    assert not th.is_alive() and not errs
    sink.wait_for_compaction(60)
    assert t.n_buckets == 16
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {k: f"up5_{k}" for k in range(40)}


def test_fold_vs_fold_overlap_detected_and_refolded(spark, tmp_path):
    """ADVICE r8 (medium): a maintenance fold that read its base before
    a concurrent fold committed the same buckets must NOT roll the base
    back (losing the other fold's rows after its deltas were pruned).
    The commit detects the stale base (StaleBaseFold) and refolds from
    the fresh manifest — deterministic interleave via a read-time hook
    on the maintenance instance."""
    root = str(tmp_path / "ff")
    dt1 = BucketedParquetTable(
        spark, root, keys=["id"], n_buckets=4,
        merge_mode="delta", compact_policy="off", retention=4,
    )
    dt2 = BucketedParquetTable(
        spark, root, keys=["id"], n_buckets=4,
        merge_mode="delta", compact_policy="off", retention=4,
    )
    dt1.overwrite(
        spark.createDataFrame([(i, "s") for i in range(40)], "id long, v string")
    )
    dt1.merge(_batch(spark, [(i, f"u1_{i}", "u", 2, i) for i in range(40)]))

    orig = dt1._read_deltas
    fired = []

    def hook(pairs, sigs=None):
        if not fired:
            fired.append(True)
            # the "streaming" instance appends AND folds while the
            # maintenance fold holds its stale base read
            dt2.merge(
                _batch(spark, [(i, f"u2_{i}", "u", 3, i) for i in range(40)])
            )
            dt2.compact()
        return orig(pairs, sigs)

    dt1._read_deltas = hook
    dt1.compact()  # pre-fix: silently rolled back to u1_*
    got = {r.id: r.v for r in dt1.read().collect()}
    assert got == {i: f"u2_{i}" for i in range(40)}
    # and the refold converged the bookkeeping: nothing left pending
    doc = dt1._manifest_doc()
    assert doc["deltas"] == []


def test_old_layout_manifest_fails_to_open(spark, tmp_path):
    """Only the current manifest layout is read: a manifest without the
    delta bookkeeping keys (or a flat {bucket: version} map) raises on
    open instead of being read as some other layout."""
    import json as _json

    root = str(tmp_path / "old")
    t = BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    mp = t._manifest_path(t.version())
    doc = _json.load(open(mp))
    for old in (
        {k: v for k, v in doc.items() if k != "delta_buckets"},
        {k: v for k, v in doc.items() if k != "n_buckets"},
        doc["buckets"],
    ):
        with open(mp, "w") as f:
            _json.dump(old, f)
        with pytest.raises(KeyError):
            BucketedParquetTable(spark, root, keys=["id"], n_buckets=4)


def test_drift_widened_columns_survive_delta_fold_and_read(spark, tmp_path):
    """code-review r12 pass 2: the widening contract holds in DELTA
    mode too — a drift-evolved batch's new column must surface through
    merge-on-read AND survive the fold into the base (previously both
    built their output from the stored target columns and silently
    dropped it)."""
    from transferia_spark.streaming.bucketed_table import (
        BucketedParquetTable,
    )

    t = BucketedParquetTable(
        spark, str(tmp_path / "t"), keys=["k"], n_buckets=4,
        merge_mode="delta",
    )
    t.overwrite(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ))
    evolved = spark.createDataFrame(
        [(2, "b2", "note2", "u", 10, 0), (3, "c", "note3", "i", 11, 0)],
        "k long, v string, note string, _op string, _lsn long, "
        "_counter long",
    )
    t.merge(evolved, fold=False)
    # merge-on-read: old rows null, new rows carry the column
    got = {(r.k, r.v, r.note) for r in t.read().collect()}
    assert got == {(1, "a", None), (2, "b2", "note2"), (3, "c", "note3")}
    # the fold persists it into the base
    t.compact()
    assert t._manifest_doc()["deltas"] == []
    got = {(r.k, r.v, r.note) for r in t.read().collect()}
    assert got == {(1, "a", None), (2, "b2", "note2"), (3, "c", "note3")}
