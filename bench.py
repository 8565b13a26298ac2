"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + collect-to-count); the
headline metric is total wall-clock across the suite. A snapshot
pipeline throughput probe (read → transform chain → write parquet) is
included as `snapshot_pipeline`, mirroring the reference's primary KPI
(rows/s of an initial transfer, docs/benchmarks.md).
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from transferia_spark import get_spark  # noqa: E402
from transferia_spark.operators import Transformation, build  # noqa: E402
from transferia_spark.schema.colschema import TableID  # noqa: E402
from transferia_spark.session import load_tables  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# queries() entries that form the headline suite (correctness-gated
# elsewhere; here we time them)
HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q4ish",
    "tpch_q5ish",
    "tpch_q6",
    "tpch_q14ish",
    "tpch_q16ish",
    "tpch_q7ish",
    "tpch_q10ish",
    "tpch_q18ish",
    "tpch_q22ish",
    "tpch_q12ish",
    "tpch_q15ish",
    "tpch_q19ish",
    "tpch_q2ish",
    "tpch_q8",
    "tpch_q9ish",
    "tpch_q11ish",
    "tpch_q13ish",
    "tpch_q17ish",
    "tpch_q20ish",
    "tpch_q21ish",
    "asof_join",
    "range_join",
    "rollup_agg",
    "set_ops",
    "percentile_stats",
    "salted_join",
    "two_phase_agg",
    "bm25_rank",
    "scalar_funcs",
    "interval_join",
    "window_topk",
    "events_hourly_rollup",
    "events_sliding_rollup",
    "cdc_collapse",
    "cdc_merge",
    "snapshot_handoff",
    "cdc_merge_bucketed",
    "transform_chain",
    # training-data pipeline surface (documents: 5k rows / embeddings:
    # 2k × 64-dim at sf0.1)
    "dedup_exact",
    "dedup_blocks",
    "mix_sources",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "ann_brute_force",
    "ann_lsh_bucketed",
    "ann_ivf",
    "ann_sq8",
    "dedup_cluster",
    "dedup_keep_best",
    "decontaminate",
    "quota_cap",
    "global_shuffle",
    "pack_sequences",
    "corpus_pipeline",
    "repetition_score",
    "chunk_documents",
    "lang_id",
    "quality_score",
    "token_count",
    "fingerprint",
    "lm_familiarity",
    "media_decode",
    "audio_energy",
    "frame_sample",
    "image_resize",
    # round-4 additions: YDB key-range storage fan-out and the
    # pure-Python protobuf wire round-trip
    "ydb_scan",
    "delta_scan",
    "dbt_models",
    "parser_protobuf",
]

# r4 verdict item 4: the suite covers EVERY queries() entry — HEADLINE
# pins the ordering of the long-tracked core (so round-over-round
# comparisons stay aligned), and everything else appends automatically
# in declaration order. Exclusions need a reason here.
EXCLUDED = {
    # two full Structured Streaming query lifecycles + a driver-side
    # binlog recording of the whole events table: ~40 s of fixed
    # harness latency at sf0.1 that times Spark query startup, not an
    # operator; its correctness is driver-scored every round
    "replicate_yaml": "streaming-lifecycle harness, not operator throughput",
    "replicate_multi_table": "same: two streaming-query lifecycles",
    "replicate_controls": "same: three streaming-query lifecycles "
    "(the DDL abort-and-restart is part of the scenario)",
    "dedup_stream_ingest": "same: a streaming-query lifecycle over the "
    "band index; the batch ingest path is benched as "
    "dedup_incremental_store",
}


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(os.path.dirname(os.path.abspath(__file__)), "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def bench_snapshot_pipeline(spark, sf_dir: str) -> tuple[float, int]:
    """The engine's bread-and-butter path: scan → transformer chain →
    the engine's own file sink (the reference's 'initial transfer' KPI).
    Going through FileSink measures the shipping write path."""
    from transferia_spark.sinks.base import build_sink

    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    chain = (
        Transformation()
        .add(build("filter_rows", filters=["l_quantity > 1"]))
        .add(build("mask_field", columns=["l_returnflag"], salt="s"))
        .add(build("convert_to_string", columns=["l_shipdate"]))
    )
    out = chain.apply(TableID("", "lineitem"), li)[0][1]
    tmp = tempfile.mkdtemp(prefix="bench_sink_")
    sink = build_sink("file", path=tmp, format="parquet")
    # compile the write path once (parquet committer + codegen) so the
    # measurement is steady-state throughput, matching the reference's
    # rows/s KPI convention (docs/benchmarks.md prefers sustained rates)
    li.limit(1024).write.mode("overwrite").parquet(os.path.join(tmp, "_warm"))
    t0 = time.time()
    sink.write(out, TableID("", "lineitem"))
    dt = time.time() - t0
    n = sink.read_back(spark, TableID("", "lineitem")).count()
    shutil.rmtree(tmp, ignore_errors=True)
    return dt, n


def _rate(rows: int, dt: float) -> int | None:
    """Rows per second of a probe, or None when it timed no rows — at a
    scale whose backlog is empty (sf0.001 holds only the 1000 warm-up
    events) a rate of 0 would read as a stalled pipeline."""
    return round(rows / dt) if rows and dt > 0 else None


def bench_cdc_pipeline(
    spark,
    sf_dir: str,
    n_buckets: int = 16,
    n_batches: int = 8,
    max_deltas: int = 8,
    seed_mult: int = 1,
    wide_cols: int = 0,
) -> tuple[float, int]:
    """Steady-state CDC replication throughput (r5 verdict item 8): one
    PRE-STARTED streaming query (waljson decode → collapse → bucketed
    MERGE) drains a backlog in bounded micro-batches; the clock starts
    when the backlog lands and stops at the final offset ack — so the
    number excludes Spark query startup and times exactly the per-batch
    replication path the reference's bufferer cadence (333 ms) covers.

    Parameterized over (n_buckets × batch count × target size ×
    payload width) so the merge-on-read work has a measured curve, not
    a single point (r6 verdict item 9): each batch pays O(|batch|) plus
    a background fold of the buckets that came due."""
    from transferia_spark.streaming.bucketed_table import (
        BucketedCdcApplySink,
        BucketedParquetTable,
    )
    from transferia_spark.streaming.pipeline import ReplicationPipeline
    from transferia_spark.streaming.wal_source import (
        WalJsonDataSource,
        wal_output_schema,
    )

    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="bench_cdc_")
    wal = os.path.join(tmp, "wal")
    os.makedirs(wal)
    ack = os.path.join(tmp, "ack.json")
    tables = load_tables(spark, sf_dir, ["customer", "events"])
    cust = tables["customer"].select("c_custkey", "c_name", "c_acctbal")
    # wide-payload variant (r14): N extra double columns ride every
    # event — the decode plane's per-cell cost (where the arrow
    # RecordBatch fast path lives) is invisible on the 3-column rows
    wide_names = [f"w{i:02d}" for i in range(wide_cols)]
    for i, w in enumerate(wide_names):
        cust = cust.withColumn(
            w, (F.col("c_acctbal") + F.lit(float(i))).cast("double")
        )
    if seed_mult > 1:
        # scale the TARGET ONLY (r7 verdict item 3): the churn stream
        # stays identical, so an O(batch) per-batch cost should not
        # move with table size. Replicated keys
        # shift into a disjoint range; the original keys (rep 0) keep
        # matching the stream's user_ids.
        cust = cust.withColumn(
            "rep",
            F.explode(F.array(*[F.lit(i) for i in range(seed_mult)])),
        ).withColumn(
            "c_custkey",
            F.when(F.col("rep") == 0, F.col("c_custkey")).otherwise(
                F.col("c_custkey")
                + F.col("rep").cast("long") * F.lit(1_000_000_000).cast("long")
            ),
        ).drop("rep")
    target = BucketedParquetTable(
        spark, os.path.join(tmp, "target"), keys=["c_custkey"],
        n_buckets=n_buckets, max_deltas=max_deltas,
    )
    target.overwrite(cust)

    evs = sorted(
        tables["events"]
        .select("event_id", "user_id", "value", "event_type")
        .collect(),
        key=lambda r: r.event_id,
    )

    def line(r, lsn):
        op = {"signup": "I", "error": "D"}.get(r.event_type, "U")
        if op == "D":
            return {"action": "D", "lsn": lsn,
                    "identity": [{"name": "c_custkey", "value": r.user_id}]}
        return {"action": op, "lsn": lsn, "columns": [
            {"name": "c_custkey", "value": r.user_id},
            {"name": "c_name", "value": f"u{r.user_id}"},
            {"name": "c_acctbal", "value": r.value},
            *({"name": w, "value": float(r.value) + i}
              for i, w in enumerate(wide_names)),
        ]}

    warm, backlog = evs[:1000], evs[1000:]
    with open(os.path.join(wal, "000.jsonl"), "w") as f:
        for i, r in enumerate(warm):
            f.write(json.dumps(line(r, i + 1)) + "\n")
    base = len(warm)
    stage = os.path.join(tmp, "staged.jsonl")
    with open(stage, "w") as f:
        for i, r in enumerate(backlog):
            f.write(json.dumps(line(r, base + i + 1)) + "\n")

    spark.dataSource.register(WalJsonDataSource)
    ddl = "c_custkey long, c_name string, c_acctbal double" + "".join(
        f", {w} double" for w in wide_names
    )
    stream = (
        spark.readStream.format("waljson")
        .schema(wal_output_schema(ddl))
        .option("path", wal)
        .option("ack_file", ack)
        # bounded catch-up batches over the backlog, sized from the
        # larger of the two sets: at a scale whose backlog is empty the
        # 1000-event warm-up would otherwise run one event per batch
        .option(
            "max_events_per_batch",
            str(max(1, max(len(warm), len(backlog)) // n_batches)),
        )
        .load()
    )
    ckpt = os.path.join(tmp, "ckpt")
    pipe = ReplicationPipeline(
        stream=stream,
        sink=BucketedCdcApplySink(target),
        checkpoint_dir=ckpt,
        trigger={"processingTime": "50 milliseconds"},
    )
    q = pipe.start("bench_cdc")

    def committed_end() -> int:
        """End offset of the last COMPLETED batch, from the checkpoint
        commit log. (The reader's ack_file lags one batch by design:
        Spark calls source.commit(N) when batch N+1 starts.)"""
        try:
            done = [
                int(n) for n in os.listdir(os.path.join(ckpt, "commits"))
                if n.isdigit()
            ]
            if not done:
                return 0
            with open(os.path.join(ckpt, "offsets", str(max(done)))) as f:
                return int(json.loads(f.read().splitlines()[-1])["lsn"])
        except (FileNotFoundError, ValueError, KeyError, IndexError):
            return 0

    deadline = time.time() + 300
    while committed_end() < base and time.time() < deadline:
        time.sleep(0.05)
    t0 = time.time()
    os.rename(stage, os.path.join(wal, "001.jsonl"))  # backlog "arrives"
    final = base + len(backlog)
    while committed_end() < final and time.time() < deadline:
        time.sleep(0.05)
    dt = time.time() - t0
    drained = committed_end() >= final
    q.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    if not drained:
        raise RuntimeError("cdc bench did not drain the backlog in time")
    return dt, len(backlog)


def bench_cdc_merge_sweep(spark, sf_dir: str) -> dict[str, float]:
    """Merge-layer sweep (r6 verdict item 9): uniform-key churn applied
    directly through ``BucketedParquetTable.merge`` — no stream decode
    in the measurement — at (churn fraction × bucket count) points,
    over an orders-seeded target (10× the customer table). Delta cost
    tracks batch size — the curve, not a single point."""
    import tempfile

    from pyspark.sql import functions as F

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    orders = load_tables(spark, sf_dir, ["orders"])["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def churn(frac: float):
        return (
            orders.sample(frac, seed=1)
            .withColumn("o_totalprice", F.col("o_totalprice") + 1)
            .withColumn("_op", F.lit("u"))
            .withColumn("_counter", F.lit(0).cast("long"))
            .localCheckpoint()  # isolate merge cost from batch lineage
        )

    big, small = churn(0.08), churn(0.02)
    points = {
        "delta_8pct_b16": (big, 16),
        "delta_2pct_b16": (small, 16),
        "delta_8pct_b64": (big, 64),
    }
    out: dict[str, float] = {}
    for label, (batch, n_buckets) in points.items():
        root = tempfile.mkdtemp(prefix=f"sweep_{label}_")
        t = BucketedParquetTable(
            spark, root, keys=["o_orderkey"], n_buckets=n_buckets,
            max_deltas=4,
        )
        t.overwrite(orders)
        t0 = time.time()
        for i in range(4):  # 4 batches: delta folds once (max_deltas=4)
            t.merge(batch.withColumn("_lsn", F.lit(10 + i)), batch_id=i)
        out[label] = round(time.time() - t0, 3)
        shutil.rmtree(root, ignore_errors=True)
    return out


def bench_mysql_decode(n_rows: int = 400_000) -> float:
    """Rows/s of the MySQL text-protocol row decoder (driver-side pure
    Python/Arrow — no Spark): the per-stream snapshot decode rate one
    executor core sustains (r8 verdict item 3: the per-row Python
    comprehension was the slowest-per-byte code on the snapshot path;
    the Arrow-columnar rewrite measures ~5x it). One warmup pass, then
    the median of 3."""
    import statistics

    from pyspark.sql import types as T

    from transferia_spark.sources.mysql_select import rows_to_frames

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("bal", T.DoubleType()),
            T.StructField("ok", T.BooleanType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    rows = [
        [str(i).encode(), f"name_{i}".encode(), f"{i}.25".encode(),
         b"1" if i % 2 else b"0", b"2024-01-02 03:04:05"]
        for i in range(n_rows)
    ]
    rates = []
    for i in range(4):
        t0 = time.time()
        total = sum(len(f) for f in rows_to_frames(iter(rows), schema))
        dt = time.time() - t0
        assert total == n_rows
        if i:  # first pass warms Arrow/pandas imports
            rates.append(n_rows / dt)
    return statistics.median(rates)


def bench_cdc_size_sweep(spark, sf_dir: str) -> dict:
    """Table-size sweep (r7 verdict item 3): a FIXED ~2k-row churn
    batch merged into 1×/10×/40×-seeded orders targets — the curve the
    merge-on-read design argument rests on: the per-batch cost stays
    flat as the table grows. Also records the per-batch latency series
    at the largest size: with staggered per-bucket compaction there
    must be no every-Nth-batch full-fold spike (r7 verdict item 4)."""
    from pyspark.sql import functions as F

    from transferia_spark.streaming.bucketed_table import (
        BucketedCdcApplySink,
        BucketedParquetTable,
    )

    orders = load_tables(spark, sf_dir, ["orders"])["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # the SAME batch at every size: keys = rep-0 keys, present in every
    # seed (key space: o_orderkey*64 + rep keeps replicas disjoint)
    batch = (
        orders.limit(2000)
        .withColumn("o_orderkey", F.col("o_orderkey") * F.lit(64).cast("long"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        .withColumn("_op", F.lit("u"))
        .withColumn("_counter", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    out: dict = {}
    for mult in (1, 10, 40):
        seed = (
            orders.withColumn(
                "rep", F.explode(F.array(*[F.lit(i) for i in range(mult)]))
            )
            .withColumn(
                "o_orderkey",
                F.col("o_orderkey") * F.lit(64).cast("long")
                + F.col("rep").cast("long"),
            )
            .drop("rep")
        )
        root = tempfile.mkdtemp(prefix=f"size_delta_x{mult}_")
        t = BucketedParquetTable(
            spark, root, keys=["o_orderkey"], n_buckets=16, max_deltas=8,
        )
        t.overwrite(seed)
        # measure the SHIPPING apply path: the foreachBatch sink, whose
        # compaction runs in its background thread, so the per-batch
        # series is what a stream actually pays
        sink = BucketedCdcApplySink(t)
        series = []
        for i in range(8):
            t0 = time.time()
            sink(batch.withColumn("_lsn", F.lit(10 + i)), i)
            series.append(round(time.time() - t0, 3))
        sink.wait_for_compaction()
        out[f"delta_x{mult}_per_batch"] = round(sum(series) / len(series), 3)
        if mult == 40:
            out["delta_x40_batch_series"] = series
        shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    mod = _load_entry()
    queries = mod.queries()
    spark = get_spark("bench")
    # warm the JVM + file index once with a trivial action, and the
    # Python worker pool (Arrow kernels pay daemon startup on first use)
    load_tables(spark, SF_DIR, ["region"])["region"].count()
    spark.range(32).mapInPandas(
        lambda it: it, "id long"
    ).count()

    suite = HEADLINE + [
        n for n in queries if n not in HEADLINE and n not in EXCLUDED
    ]
    timings: dict[str, float] = {}
    for name in suite:
        fn = queries[name]
        t0 = time.time()
        df = fn(spark, SF_DIR)
        n = df.count()
        timings[name] = round(time.time() - t0, 3)
        _ = n

    snap_dt, snap_rows = bench_snapshot_pipeline(spark, SF_DIR)
    timings["snapshot_pipeline"] = round(snap_dt, 3)
    # merge-on-read: O(|batch|) delta appends + background per-bucket
    # folds — the steady-state CDC path (r6 verdict item 1)
    dl_dt, dl_rows = bench_cdc_pipeline(spark, SF_DIR)
    timings["cdc_pipeline_delta"] = round(dl_dt, 3)
    # stream-level probe against a 20×-seeded target: the per-batch
    # cost must not grow with the table (r7 verdict item 3)
    dl_big_dt, dl_big_rows = bench_cdc_pipeline(spark, SF_DIR, seed_mult=20)
    timings["cdc_pipeline_delta_big"] = round(dl_big_dt, 3)
    # bulk catch-up: the SAME backlog in ONE availableNow batch —
    # separates the engine's throughput from the per-micro-batch fixed
    # cost (job scheduling, commit, offset ack) that dominates the
    # 8-batch numbers at sf0.1's tiny batch sizes; at production batch
    # sizes the steady-state rate approaches this bound
    blk_dt, blk_rows = bench_cdc_pipeline(spark, SF_DIR, n_batches=1)
    timings["cdc_pipeline_bulk"] = round(blk_dt, 3)
    # wide-payload steady state: the same backlog with 30 extra double
    # columns per event — makes the decode plane's per-cell cost (the
    # r13 arrow RecordBatch fast path) visible in BENCH history; the
    # 3-column rows above are fixed-cost-dominated (r13 verdict next #5)
    wd_dt, wd_rows = bench_cdc_pipeline(spark, SF_DIR, wide_cols=30)
    timings["cdc_pipeline_wide"] = round(wd_dt, 3)
    # (churn × bucket count) sweep so the merge-on-read cost has a
    # curve, not a single point (r6 verdict item 9) — measured at the
    # merge layer, free of stream-decode noise
    sweep = bench_cdc_merge_sweep(spark, SF_DIR)
    # TABLE SIZE sweep with per-batch latency series (r7 verdict
    # items 3+4)
    size_sweep = bench_cdc_size_sweep(spark, SF_DIR)

    total = round(sum(timings.values()), 3)
    # r14 verdict item 3: keep the one-line JSON robust against tail
    # captures. 2-decimal per-query values + compact separators shrink
    # the line ~35%, and "queries" (the only long member) goes FIRST so
    # the scalar summary fields — including the headline "value" the
    # driver parses — sit at the END of the line, inside any plausible
    # tail window (r13's capture kept the last 2,000 chars and lost the
    # head). Keys are unchanged; only float precision moved (3 → 2
    # decimals, well below the host's run-to-run noise floor).
    timings = {k: round(v, 2) for k, v in timings.items()}
    result = {
        "queries": timings,
        "metric": "headline_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": SF_DIR,
        "snapshot_rows_per_sec": _rate(snap_rows, snap_dt),
        "cdc_delta_rows_per_sec": _rate(dl_rows, dl_dt),
        "cdc_delta_big_rows_per_sec": _rate(dl_big_rows, dl_big_dt),
        "cdc_bulk_rows_per_sec": _rate(blk_rows, blk_dt),
        "cdc_wide_rows_per_sec": _rate(wd_rows, wd_dt),
        "cdc_sweep": sweep,
        "cdc_size_sweep": size_sweep,
        "mysql_decode_rows_per_sec": round(bench_mysql_decode()),
    }
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
