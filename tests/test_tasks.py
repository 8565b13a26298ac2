"""Operational tasks: checksum compare, dblog chunked snapshot, dbt
hook gating, custom transformer example."""

import pytest
from pyspark.sql import functions as F

from transferia_spark.cdc.changeitem import COUNTER_COL, LSN_COL, OP_COL
from transferia_spark.operators import build
from transferia_spark.session import load_tables
from transferia_spark.tasks import (
    chunked_snapshot_with_cdc,
    compare_tables,
    checksum_table,
)


def test_checksum_equal_tables_match(spark, sf_dir):
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    shuffled = li.repartition(13)  # different physical layout
    assert compare_tables(li, shuffled, sample_keys=["l_orderkey", "l_linenumber"]) == []


def test_checksum_detects_value_change(spark, sf_dir):
    c = load_tables(spark, sf_dir, ["customer"])["customer"]
    tampered = c.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") == 7, F.col("c_acctbal") + 0.01).otherwise(
            F.col("c_acctbal")
        ),
    )
    errs = compare_tables(c, tampered)
    assert any("content hash" in e for e in errs)


def test_checksum_detects_row_count(spark, sf_dir):
    c = load_tables(spark, sf_dir, ["customer"])["customer"]
    errs = compare_tables(c, c.filter("c_custkey != 1"))
    assert any("row count" in e for e in errs)


def test_checksum_report_fields(spark, sf_dir):
    r = checksum_table(
        load_tables(spark, sf_dir, ["region"])["region"], sample_keys=["r_regionkey"]
    )
    assert r.rows > 0 and r.columns and r.samples


def test_dblog_chunked_snapshot(spark):
    table = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], ["id", "val"]
    )
    # CDC while snapshotting: update id 5, delete id 6, insert id 200
    cdc = spark.createDataFrame(
        [
            (5, "v5_new", "u", 10, 0),
            (6, None, "d", 11, 0),
            (200, "fresh", "i", 12, 0),
        ],
        ["id", "val", OP_COL, LSN_COL, COUNTER_COL],
    )
    out = chunked_snapshot_with_cdc(table, cdc, keys=["id"], chunk_size=30)
    rows = {r.id: r.val for r in out.collect()}
    assert rows[5] == "v5_new"      # CDC value wins over chunk value
    assert 6 not in rows            # deleted during snapshot
    assert rows[200] == "fresh"     # born during snapshot
    assert rows[0] == "v0" and len(rows) == 100  # 100 - deleted + inserted


def test_dbt_stub_gated(spark):
    t = build("dbt", project_dir="/tmp/proj")
    df = spark.range(3)
    assert t.apply_df(df).count() == 3  # per-batch pass-through
    with pytest.raises(NotImplementedError):
        t.post_load()


def test_custom_access_log_filter(spark):
    lines = [
        '1.2.3.4 - alice [10/Oct/2026:13:55:36 +0000] "GET /api/x HTTP/1.1" 200 512',
        '5.6.7.8 - - [10/Oct/2026:13:55:37 +0000] "GET /health HTTP/1.1" 200 2',
        '9.9.9.9 - bob [10/Oct/2026:13:55:38 +0000] "POST /api/y HTTP/1.1" 503 -',
        "not a log line",
    ]
    df = spark.createDataFrame([(x,) for x in lines], ["value"])
    out = build("filter_access_log", min_status=500).apply_df(df).collect()
    assert len(out) == 1
    assert out[0].path == "/api/y" and out[0].status == 503 and out[0].bytes is None


def test_verify_transfer_roundtrip(spark, sf_dir, tmp_path):
    """verify_transfer ≈ tasks.VerifyDelivery: clean after activate,
    flags a divergent transformer chain."""
    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.plans.transfer import activate
    from transferia_spark.tasks.checksum import verify_transfer

    out = str(tmp_path / "vt")
    yaml_t = """
type: SNAPSHOT_ONLY
src:
  type: file
  params: {{path: {sf}, format: parquet, tables: [nation]}}
dst:
  type: file
  params: {{path: {out}, format: parquet}}
transformation:
  transformers:
    - filter_columns: {{exclude: [{drop}]}}
"""
    spec = transfer_from_yaml(yaml_t.format(sf=sf_dir, out=out, drop="n_comment"))
    activate(spark, spec)
    assert verify_transfer(spark, spec) == {"nation": []}

    diverged = transfer_from_yaml(yaml_t.format(sf=sf_dir, out=out, drop="n_regionkey"))
    errs = verify_transfer(spark, diverged)["nation"]
    assert errs and "columns differ" in errs[0]


# ------------------------------------------------------------- compact


def test_compact_dir_reduces_file_count(spark, tmp_path):
    from transferia_spark.tasks.compact import (
        compact_dir,
        data_file_count,
        dir_bytes,
    )

    src = str(tmp_path / "frag")
    spark.range(0, 10000).repartition(64).write.parquet(src)
    assert data_file_count(src) == 64
    dst = str(tmp_path / "table")
    compact_dir(spark, src, dst, target_file_bytes=dir_bytes(src) // 2)
    assert data_file_count(dst) <= 3
    got = spark.read.parquet(dst)
    assert got.count() == 10000
    assert got.agg({"id": "sum"}).collect()[0][0] == sum(range(10000))


def test_compact_table_in_place_atomic_swap(spark, tmp_path):
    """``dst == src``: the read finishes inside the write job, before
    the staged copy is swapped in; the target is a plain parquet
    directory with no hidden sibling but the lock left beside it."""
    import os

    from transferia_spark.tasks.compact import compact_dir, data_file_count

    t = str(tmp_path / "t")
    spark.range(0, 5000).repartition(32).write.parquet(t)
    compact_dir(spark, t, t, target_file_bytes=10**12)  # everything → 1 file
    assert data_file_count(t) == 1
    assert spark.read.parquet(t).count() == 5000
    assert sorted(os.listdir(tmp_path)) == [".t.lock", "t"]


def test_compact_partitioned_writes_hive_layout(spark, tmp_path):
    import os

    from transferia_spark.tasks.compact import compact_df

    df = spark.range(0, 1000).selectExpr("id", "id % 4 AS part")
    live = str(tmp_path / "p")
    compact_df(df, live, n_files=8, partition_cols=["part"])
    # real partitionBy directories, prunable by the scanner
    assert sorted(
        d for d in os.listdir(live) if d.startswith("part=")
    ) == ["part=0", "part=1", "part=2", "part=3"]
    got = spark.read.parquet(live)
    assert got.count() == 1000
    pruned = got.filter("part = 2")
    assert pruned.count() == 250


def test_compact_single_writer_enforced(spark, tmp_path):
    """A compaction racing another writer of the same table fails
    loudly instead of silently losing a commit. The lock is a
    flock, not a marker file: a lock file left by a killed writer
    blocks no one."""
    import fcntl
    import os

    import pytest

    from transferia_spark.durable import ConcurrentReplaceError
    from transferia_spark.tasks.compact import compact_df

    dst = str(tmp_path / "t")
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    compact_df(df, dst, n_files=1)

    # a held lock (another writer mid-replace, here a second open file
    # description) rejects the replace and leaves the table as it was
    lock = str(tmp_path / ".t.lock")
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        with pytest.raises(ConcurrentReplaceError, match="single-writer"):
            compact_df(df.union(df), dst, n_files=1)
        assert spark.read.parquet(dst).count() == 5
    finally:
        os.close(fd)  # the holder dies: its flock goes with it

    # a leftover lock file with no holder (a killed writer's) does not
    # block, and the lock is released on success → replaces keep working
    assert os.path.exists(lock)
    compact_df(df.union(df), dst, n_files=1)
    compact_df(df.union(df).union(df), dst, n_files=1)
    assert spark.read.parquet(dst).count() == 15


def test_interval_join_rejects_column_collision(spark):
    """ADVICE r3: a non-key right column sharing a left column's name
    fails fast instead of silently duplicating output columns."""
    import pytest

    from transferia_spark.streaming.joins import interval_join

    left = spark.createDataFrame([(1, "2024-01-01 00:00:00", "x")],
                                 "k int, ts string, v string")
    right = spark.createDataFrame([(1, "2024-01-01 00:10:00", "y")],
                                  "k int, rts string, v string")
    with pytest.raises(ValueError, match="collide"):
        interval_join(left, right, on=["k"], left_ts="ts", right_ts="rts")


def test_dbt_spark_native_model_runner(spark, tmp_path):
    """run_spark executes a real dbt project layout on Spark: ref DAG
    topo-ordered, source() bound to the freshly-loaded frames, config
    blocks stripped, each model a temp view."""
    import pytest

    from transferia_spark.operators.dbt import DbtTransformer, topo_order, parse_models

    proj = tmp_path / "proj"
    models = proj / "models"
    models.mkdir(parents=True)
    (proj / "dbt_project.yml").write_text(
        "name: demo\nversion: '1.0'\nmodel-paths: ['models']\n"
    )
    (models / "stg_orders.sql").write_text(
        "{{ config(materialized='view') }}\n"
        "SELECT o_orderkey, o_custkey, o_totalprice\n"
        "FROM {{ source('raw', 'orders') }}\n"
        "WHERE o_totalprice > 0"
    )
    (models / "customer_revenue.sql").write_text(
        "SELECT c.c_custkey, c.c_name,\n"
        "       SUM(o.o_totalprice) AS revenue\n"
        "FROM {{ ref('stg_orders') }} o\n"
        "JOIN {{ source('raw', 'customer') }} c ON c.c_custkey = o.o_custkey\n"
        "GROUP BY c.c_custkey, c.c_name"
    )
    (models / "top_customers.sql").write_text(
        "SELECT * FROM {{ ref('customer_revenue') }} WHERE revenue > 100"
    )

    orders = spark.createDataFrame(
        [(1, 10, 150.0), (2, 10, 50.0), (3, 20, 60.0), (4, 30, -5.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    customer = spark.createDataFrame(
        [(10, "alice"), (20, "bob"), (30, "carol")],
        "c_custkey long, c_name string",
    )
    t = DbtTransformer(project_dir=str(proj))
    out = t.run_spark(
        spark, {("raw", "orders"): orders, ("raw", "customer"): customer}
    )
    assert list(out) == ["stg_orders", "customer_revenue", "top_customers"]
    rev = {r.c_name: r.revenue for r in out["customer_revenue"].collect()}
    assert rev == {"alice": 200.0, "bob": 60.0}  # carol's -5 filtered in staging
    assert [r.c_name for r in out["top_customers"].collect()] == ["alice"]

    # unknown ref and cycles fail loudly like dbt's parse stage
    (models / "bad.sql").write_text("SELECT * FROM {{ ref('nope') }}")
    with pytest.raises(ValueError, match="unknown model"):
        topo_order(parse_models(str(proj)))
    (models / "bad.sql").write_text("SELECT * FROM {{ ref('loop_b') }}")
    (models / "loop_b.sql").write_text("SELECT * FROM {{ ref('bad') }}")
    with pytest.raises(ValueError, match="cycle"):
        topo_order(parse_models(str(proj)))
