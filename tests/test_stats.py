"""Metrics parity layer (≈ pkg/stats): registry semantics, batch
observe harvesting, streaming listener fed by a real query."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from transferia_spark.stats import (
    MAX_TABLES,
    MetricsRegistry,
    ObservedBatch,
    make_streaming_listener,
    timed_push,
)


def test_registry_counters_gauges_timers():
    reg = MetricsRegistry()
    reg.counter_add("sinker.transactions.total")
    reg.counter_add("sinker.transactions.total", 2)
    reg.gauge_set("source.rows_per_second", 42.0)
    with timed_push(reg):
        time.sleep(0.01)
    snap = reg.snapshot()
    assert snap["counters"]["sinker.transactions.total"] == 3
    assert snap["gauges"]["source.rows_per_second"] == 42.0
    t = snap["timers"]["sinker.time.push"]
    assert t["count"] == 1 and t["total_s"] >= 0.01


def test_table_series_cap():
    reg = MetricsRegistry()
    for i in range(MAX_TABLES + 50):
        reg.table_rows(f"t{i}", "rows", 1)
    n = sum(
        1 for k in reg.snapshot()["counters"] if k.startswith("sinker.table.")
    )
    assert n == MAX_TABLES
    # existing series keep counting past the cap
    reg.table_rows("t0", "rows", 9)
    assert reg.snapshot()["counters"]["sinker.table.rows.t0"] == 10


def test_observed_batch_one_scan(spark):
    reg = MetricsRegistry()
    ob = ObservedBatch(reg, table="ns.users")
    df = ob.attach(spark.range(100).select(F.col("id")))
    assert df.count() == 100  # the action
    got = ob.harvest()
    assert got["rows"] == 100
    snap = reg.snapshot()
    assert snap["counters"]["sinker.table.rows.ns.users"] == 100
    assert snap["counters"]["sinker.transactions.total"] == 1


def test_streaming_listener_harvests_progress(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for i in range(25):
            f.write(json.dumps({"id": i}) + "\n")

    reg = MetricsRegistry()
    listener = make_streaming_listener(reg)
    spark.streams.addListener(listener)
    try:
        stream = (
            spark.readStream.schema("id long").json(src)
            .observe("transferia_metrics", F.count(F.lit(1)).alias("rows_pushed"))
        )
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener events are async — poll for the harvest
        deadline = time.time() + 30
        while time.time() < deadline:
            snap = reg.snapshot()
            if snap["counters"].get("source.count", 0) >= 25:
                break
            time.sleep(0.2)
        snap = reg.snapshot()
        assert snap["counters"]["worker.queries.started"] >= 1
        assert snap["counters"]["source.count"] >= 25
        assert (
            snap["counters"].get("observed.transferia_metrics.rows_pushed", 0)
            >= 25
        )
        assert "sinker.time.push" in snap["timers"]
    finally:
        spark.streams.removeListener(listener)


def test_pipeline_restart_counts_each_event_once(spark, tmp_path):
    """A restarted pipeline reuses its listener: every query start and
    every input row is counted once, not once per start."""
    from transferia_spark.streaming.pipeline import ReplicationPipeline

    src = tmp_path / "in"
    src.mkdir()

    def land(name, ids):
        (src / name).write_text(
            "".join(json.dumps({"id": i}) + "\n" for i in ids)
        )

    reg = MetricsRegistry()
    pipe = ReplicationPipeline(
        stream=spark.readStream.schema("id long").json(str(src)),
        sink=lambda df, _: df.count(),
        checkpoint_dir=str(tmp_path / "ckpt"),
        registry=reg,
    )
    try:
        land("b0.json", range(25))
        pipe.run_available()
        land("b1.json", range(25, 35))
        pipe.run_available()
        # listener events are async — wait for both terminations, then
        # give a duplicate delivery time to land
        deadline = time.time() + 30
        while time.time() < deadline and reg.snapshot()["counters"].get(
            "worker.queries.terminated", 0
        ) < 2:
            time.sleep(0.2)
        time.sleep(1.0)
        c = reg.snapshot()["counters"]
        assert c["worker.queries.started"] == 2
        assert c["worker.queries.terminated"] == 2
        assert c["source.count"] == 35
    finally:
        spark.streams.removeListener(pipe._listener)
