"""Physical-plan regression tests: the properties that make queries
scale — pushdown, pruning, broadcast choice, shuffle count — asserted
on `.explain` output so a refactor that silently loses one fails CI.

These mirror the checks a human runs with `.explain("formatted")`
after touching an operator (filters reached the parquet scan? did the
dim broadcast? did the map-side stage stay shuffle-free?).
"""

import pytest
import re

from pyspark.sql import functions as F

from transferia_spark.operators.dedup import DedupMinHashLSH, DedupSimHash
from transferia_spark.session import load_tables

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _simple_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tpch_q6_filters_push_to_scan(spark):
    li = load_tables(spark, SF, ["lineitem"])["lineitem"]
    q = li.filter(
        (F.col("l_shipdate") >= "1994-01-01")
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).select("l_extendedprice")
    plan = _plan(q)
    assert "PushedFilters:" in plan
    # the scan must push the comparisons, not just IsNotNull
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "GreaterThan" in pushed or "LessThan" in pushed
    # column pruning: only the 4 referenced columns are read
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema and "l_comment" not in read_schema


def test_star_join_broadcasts_dims(spark):
    t = load_tables(spark, SF, ["region", "nation", "customer", "orders", "lineitem"])
    q = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.sum("l_extendedprice").alias("rev"))
    )
    plan = _simple_plan(q)
    assert "BroadcastHashJoin" in plan  # small dims broadcast, fact never shuffles for them


def test_minhash_signatures_have_no_shuffle(spark):
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3) for i in range(64)],
        ["doc_id", "text"],
    )
    t = DedupMinHashLSH("text", "doc_id", n=3, k=32, bands=8)
    plan = _simple_plan(t.signatures(docs))
    assert "Exchange" not in plan, "signature computation must be map-side only"


def test_simhash_fingerprints_have_no_shuffle(spark):
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(64)], ["doc_id", "text"]
    )
    t = DedupSimHash("text", "doc_id")
    plan = _simple_plan(t.fingerprints(docs))
    assert "Exchange" not in plan


def test_minhash_pairs_shuffle_count(spark):
    """End-to-end minhash with the r5 hot-key guard: the visible
    exchanges are the hot-key count, the guarded bucket groupBy, and
    the final pair distinct — three, all over the NARROW (band, id)
    projection (the text/signature pipeline sits behind a lazy
    localCheckpoint and is computed exactly once; the projection's own
    distinct exchange lives inside the checkpointed lineage)."""
    docs = spark.createDataFrame(
        [(i, f"common prefix words here variant {i % 7}") for i in range(64)],
        ["doc_id", "text"],
    )
    from transferia_spark.schema.colschema import TableID

    t = DedupMinHashLSH("text", "doc_id", n=3, k=32, bands=8)
    out = t.apply(TableID("", "d"), docs)[0][1]
    n_exchanges = len(re.findall(r"\bExchange hashpartitioning", _simple_plan(out)))
    assert n_exchanges <= 3, f"expected <=3 hash exchanges, saw {n_exchanges}"


def test_ann_brute_force_broadcasts_queries_not_corpus(spark):
    from transferia_spark.operators.similarity import AnnBruteForce

    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 2.0, 0.5]) for i in range(64)],
        ["vec_id", "embedding"],
    )
    from transferia_spark.schema.colschema import TableID

    t = AnnBruteForce("embedding", "vec_id", query_pred="vec_id < 4", k=3)
    out = t.apply(TableID("", "e"), emb)[0][1]
    plan = _simple_plan(out)
    assert "Broadcast" in plan
    # the corpus side must not hash-shuffle for the join itself; the only
    # hash exchange allowed is the top-k window by query_id
    n_exchanges = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchanges <= 1, plan


def test_cdc_merge_is_single_full_outer_join(spark):
    from transferia_spark.cdc.merge import apply_changelog
    from transferia_spark.cdc.synthetic import events_changelog

    ev = load_tables(spark, SF, ["events"])["events"]
    base = ev.select(
        F.col("user_id").alias("user_id"), F.col("value").alias("value")
    ).dropDuplicates(["user_id"])
    merged = apply_changelog(base, events_changelog(ev), keys=["user_id"])
    plan = _simple_plan(merged)
    assert plan.count("FullOuter") == 1


def test_clustered_merge_is_one_exchange(spark):
    """r10: the bucketed table's delta fold is a ONE-exchange plan —
    union target∪net, one repartition on the bucket column, then a
    groupBy(bkt, keys) that Catalyst proves needs no further shuffle
    (the join formulation shuffled the touched table twice: key join +
    bucket write)."""
    from transferia_spark.cdc.merge import merge_batch_clustered

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        target = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("old").alias("v")
        )
        batch = spark.range(100).select(
            F.col("id").alias("k"), F.lit("new").alias("v"),
            F.lit("i").alias("_op"), F.col("id").alias("_lsn"),
            F.lit(0).alias("_counter"),
        )
        merged = merge_batch_clustered(
            target, batch, ["k"], "bkt",
            lambda df: F.pmod(F.xxhash64(F.col("k")), F.lit(8)).cast("int"),
            8,
        )
        plan = _simple_plan(merged.sortWithinPartitions("bkt", "k"))
        # the TARGET rows cross exactly ONE exchange (the bucket
        # repartition) — the pairing groupBy(bkt, keys) and the sorted
        # write both run on its partitioning with no further shuffle;
        # the only other exchange permitted is collapse's small-side
        # agg UNDER the union (absent here: the Range fixture's known
        # partitioning satisfies it)
        assert len(re.findall(r"Exchange hashpartitioning\(bkt", plan)) == 1
        assert plan.count("Exchange hashpartitioning") <= 2
        above = plan.split("Exchange hashpartitioning(bkt", 1)[0]
        assert above.count("Exchange") == 0  # nothing re-shuffles above it
        rows = {r.k: r.v for r in merged.collect()}
        assert len(rows) == 1000 and rows[5] == "new" and rows[500] == "old"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_corpus_window_ops_single_exchange(spark):
    """quota_cap / global_shuffle / pack_sequences each shuffle exactly
    once (on their partition key) — the window never introduces a
    second exchange or a global sort."""
    from transferia_spark.operators import build

    docs = spark.createDataFrame(
        [(i, f"src{i % 5}", "some words here for tokens") for i in range(64)],
        "doc_id long, source string, text string",
    )
    for op in (
        build("quota_cap", group_col="source", id_col="doc_id", cap=5),
        build("global_shuffle", id_col="doc_id", n_shards=4),
        build("pack_sequences", text_col="text", id_col="doc_id",
              budget=64, n_shards=4),
    ):
        plan = _simple_plan(op.apply_df(docs))
        n = len(re.findall(r"\bExchange hashpartitioning", plan))
        assert n == 1, f"{op.TYPE}: expected 1 hash exchange, saw {n}"
        assert "Exchange rangepartitioning" not in plan  # no global sort


def test_dedup_cluster_round_plan_is_join_plus_partial_agg(spark):
    """One label-propagation round = one shuffle join + one
    min-aggregation with a map-side partial (the shape that bounds a
    round's cost at scale)."""
    from transferia_spark.operators.corpus import DedupCluster

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    t = DedupCluster(text_col="text", id_col="doc_id", max_rounds=1)
    labels = t.cluster_pairs(pairs)
    plan = _simple_plan(labels)
    # localCheckpoint truncates lineage: the surviving plan is a scan
    assert "Scan ExistingRDD" in plan


def test_asof_join_is_union_window_not_join(spark):
    """asof_join = ONE hash exchange on the key over the union (plus
    the right side's pre-agg exchange) — never a join operator, never
    a cartesian."""
    from transferia_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 5.0)], "k long, t double")
    right = spark.createDataFrame([(1, 4.0, 9)], "k long, rt double, v long")
    plan = _simple_plan(asof_join(left, right, ["k"], ["k"], "t", "rt", ["v"]))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_range_join_is_equi_join_on_bin(spark):
    """range_join plans as a hash/sort-merge equi-join keyed on the
    bin — no BroadcastNestedLoopJoin, no cartesian."""
    from transferia_spark.operators.joins import range_join

    pts = spark.range(100).select(
        (F.col("id") % 5).alias("k"), (F.col("id") * 1.0).alias("x")
    )
    ivl = spark.range(20).select(
        (F.col("id") % 5).alias("ik"),
        (F.col("id") * 7.0).alias("lo"),
        (F.col("id") * 7.0 + 5.0).alias("hi"),
    )
    plan = _simple_plan(
        range_join(pts, ivl, ["k"], ["ik"], "x", "lo", "hi", 8.0)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_stats_broadcast_corpus_never_shuffles_on_content(spark):
    """bm25: corpus stats and term df are broadcast; the only hash
    exchanges key on (doc, term)/doc aggregation — nothing shuffles on
    text content."""
    from transferia_spark.operators import build

    docs = spark.createDataFrame(
        [(i, "merge window stream data table") for i in range(64)],
        "doc_id long, text string",
    )
    out = build(
        "bm25_rank", text_col="text", id_col="doc_id",
        terms=["merge", "window"], top_k=5,
    ).apply_df(docs)
    plan = _simple_plan(out)
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_mix_sources_corpus_map_side_only(spark):
    """mix_sources: the corpus side joins a broadcast count table and
    filters map-side — the only hash exchange is the tiny per-source
    count aggregate."""
    from transferia_spark.operators import build

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], "doc_id long, source string"
    )
    out = build(
        "mix_sources", id_col="doc_id", source_col="source",
        weights={"s0": 1.0, "s1": 2.0}, total=100,
    ).apply_df(docs)
    plan = _simple_plan(out)
    assert "BroadcastHashJoin" in plan
    # the single hashpartitioning exchange belongs to the count agg
    assert plan.count("Exchange hashpartitioning") <= 1


def test_dedup_blocks_single_content_shuffle(spark):
    """dedup_blocks: block hashing is map-side; shuffles are the
    per-hash doc count and the doc-id joins — no content re-shuffle,
    no broadcast of the (unbounded) popular set."""
    from transferia_spark.operators import build

    docs = spark.createDataFrame(
        [(i, "one two three four five six seven eight nine") for i in range(32)],
        "doc_id long, text string",
    )
    out = build(
        "dedup_blocks", text_col="text", id_col="doc_id",
        block_words=4, min_docs=2,
    ).apply_df(docs)
    plan = _simple_plan(out)
    assert "CartesianProduct" not in plan


def test_partitioned_sink_output_prunes_partitions(spark, tmp_path):
    """FileSink(partition_by=...) output supports partition pruning: a
    filter on the partition column appears as a PartitionFilter at the
    scan, and non-matching directories are never read."""
    from transferia_spark.schema.colschema import TableID
    from transferia_spark.sinks.files import FileSink

    df = spark.range(0, 1000).selectExpr("id", "id % 4 AS bucket")
    sink = FileSink(path=str(tmp_path), partition_by=["bucket"])
    tid = TableID("", "t")
    sink.write(df, tid)
    back = sink.read_back(spark, tid).filter(F.col("bucket") == 2)
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(bucket" in plan
    assert back.count() == 250


def test_ann_sq8_candidate_pass_broadcasts_queries(spark):
    """SQ8's candidate pass scans the corpus once with the query codes
    broadcast — the corpus must not hash-shuffle for the candidate
    join; allowed hash exchanges are the two per-query windows
    (candidate top-R, final top-k) and the tiny survivor re-join."""
    from transferia_spark.operators.similarity import AnnScalarQuant
    from transferia_spark.schema.colschema import TableID

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3), 0.5]) for i in range(64)],
        ["vec_id", "embedding"],
    )
    t = AnnScalarQuant("embedding", "vec_id", query_pred="vec_id < 4", k=3)
    out = t.apply(TableID("", "e"), emb)[0][1]
    plan = _simple_plan(out)
    assert "Broadcast" in plan
    # corpus never hash-partitions on vectors: every hashpartitioning
    # exchange keys on query_id/neighbor_id (windows + survivor joins)
    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+)", plan):
        assert m.group(1).strip().split("#")[0] in ("query_id", "neighbor_id"), plan


@pytest.mark.slow
def test_no_plan_antipatterns_across_all_driver_queries(spark):
    """Sweeping net over the ENTIRE driver surface: no query's physical
    plan may contain a CartesianProduct (unbounded pair enumeration) or
    BatchEvalPython (row-at-a-time Python UDF — everything Python-side
    must be Arrow-batched). Bounded BroadcastNestedLoopJoins are allowed
    (small-side ANN candidate joins); genuine cartesians are not."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "spark_entry_audit", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    sf = "/root/testdata/sf0.001"
    bad: dict[str, list[str]] = {}
    for name, fn in m.queries().items():
        df = fn(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = [p for p in ("CartesianProduct", "BatchEvalPython") if p in plan]
        if hits:
            bad[name] = hits
    assert not bad, f"plan anti-patterns: {bad}"


def test_dedup_incremental_join_keys_on_band_not_text(spark):
    """The ingest-batch join hashes on the band key only — the text
    column must never enter an exchange, and the candidate join is a
    hash join on _bk (no cartesian, no nested loop over docs)."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 9} epsilon") for i in range(64)],
        ["doc_id", "text"],
    )
    from transferia_spark.operators import build

    t = build("dedup_incremental", text_col="text", id_col="doc_id",
              n=3, k=32, bands=8)
    new = docs.filter("doc_id % 5 = 0")
    old = docs.filter("doc_id % 5 != 0")
    out = t.pairs_with_index(new, t.band_index(old))
    plan = _simple_plan(out)
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), plan


def test_embed_ann_pipeline_adds_no_exchange(spark):
    """r5 verdict item 9: composing embed_documents (hash provider)
    into ann_ivf must not shuffle the corpus before cell assignment —
    the embedding is per-row Catalyst work fused into the scan, so the
    composed DAG has exactly as many Exchanges as ann_ivf over a
    pre-embedded table, and no exchange ever carries the text column."""
    from transferia_spark.operators import build

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 9} epsilon zeta") for i in range(64)],
        ["doc_id", "text"],
    )
    embed = build("embed_documents", text_col="text", id_col="doc_id", dims=6)
    ann = build(
        "ann_ivf", vec_col="embedding", id_col="vec_id",
        query_pred="vec_id < 4", centroid_stride=8, nprobe=2, k=5,
    )
    vecs = embed.apply_df(docs).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    composed_plan = _simple_plan(ann.apply_df(vecs))
    # pre-embedded baseline: same vectors, materialized first
    pre = vecs.localCheckpoint()
    baseline_plan = _simple_plan(ann.apply_df(pre))
    assert composed_plan.count("Exchange") == baseline_plan.count("Exchange")
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", composed_plan):
        assert "text" not in m.group(1), composed_plan
