"""Training-data pipeline operators: dedup, similarity, text stats,
multimodal. Oracle parity is covered by driver_sim/test_entry_queries;
these tests cover semantics the oracles don't reach: pair joins,
skew caps, stub gating, and known-answer fixtures."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from transferia_spark.operators import build
from transferia_spark.operators.multimodal import attach_payload


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat today"),  # near dup of 0
        (3, "completely different text about spark query engines here now"),
        (4, "x"),  # too short for shingles
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_keeps_min_id(docs):
    out = build("dedup_exact", columns=["text"], id_col="doc_id").apply_df(docs)
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [0, 2, 3, 4]  # doc 1 deduped into doc 0


def test_minhash_lsh_finds_exact_dup_pair(docs):
    out = build(
        "dedup_minhash_lsh", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    ).apply_df(docs)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (0, 1) in pairs  # identical docs always collide in every band
    assert all(a < b for a, b in pairs)


def test_minhash_arrow_kernel_equals_catalyst_fold(spark):
    """The numpy signature kernel is the fast path; the Catalyst fold
    is the executable spec. They must agree bit-for-bit on every band
    key (all arithmetic is int64 mod P in both)."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 5} epsilon zeta {i % 3}")
         for i in range(200)],
        "doc_id long, text string",
    )
    t = build(
        "dedup_minhash_lsh", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    )
    kernel = {r["doc_id"]: r["_bands"] for r in t.signatures(docs).collect()}
    fold = {r["doc_id"]: r["_bands"] for r in t._signatures_fold(docs).collect()}
    assert kernel == fold and len(kernel) == 200


@pytest.mark.slow
def test_kernels_equal_fold_on_unicode_and_edge_shapes(spark):
    """The r14 across-docs kernels hash characters in numpy
    (utf-32-le codepoints) — they must stay bit-identical to the
    Catalyst per-char fold on non-ASCII text (astral plane included),
    repeated/whitespace-heavy tokens, single-shingle docs and long
    words, for BOTH minhash band keys and simhash fingerprints."""
    texts = [
        "héllo wörld straße tokyo 日本語 テスト 漢字",
        "emoji 🎉 mix 🚀 text ascii tail",
        "  spaced\tout\ntokens  here   now extra pad ",
        "a b c",  # exactly n words → one shingle
        ("long" * 600) + " tail word here",  # 2400-char word
        "ΑΣ ΒΗΤΑ γάμμα δέλτα Ωμέγα σίγμα",
        "repeat repeat repeat repeat repeat repeat",
        "mixed 中文 and english العربية и русский",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    mh = build(
        "dedup_minhash_lsh", text_col="text", id_col="doc_id", n=3, k=8,
        bands=4,
    )
    kernel = {r["doc_id"]: r["_bands"] for r in mh.signatures(docs).collect()}
    fold = {
        r["doc_id"]: r["_bands"] for r in mh._signatures_fold(docs).collect()
    }
    assert kernel == fold and len(kernel) == len(texts)
    sh = build("dedup_simhash", text_col="text", id_col="doc_id")
    kfp = {
        r["doc_id"]: r["simhash"]
        for r in sh._fingerprints_kernel(docs).collect()
    }
    ffp = {
        r["doc_id"]: r["simhash"]
        for r in sh._fingerprints_fold(docs).collect()
    }
    assert kfp == ffp and len(kfp) == len(texts)


def test_simhash_arrow_kernel_equals_catalyst_fold(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma {i % 7} delta") for i in range(200)],
        "doc_id long, text string",
    )
    t = build("dedup_simhash", text_col="text", id_col="doc_id")
    kernel = {r["doc_id"]: r["simhash"]
              for r in t._fingerprints_kernel(docs).collect()}
    fold = {r["doc_id"]: r["simhash"]
            for r in t._fingerprints_fold(docs).collect()}
    assert kernel == fold and len(kernel) == 200


def test_minhash_bucket_cap_drops_hot_buckets(docs):
    # cap of 1 means every band bucket with >1 member is dropped: no pairs
    out = build(
        "dedup_minhash_lsh",
        text_col="text",
        id_col="doc_id",
        max_bucket=1,
    ).apply_df(docs)
    assert out.count() == 0


def test_bucket_pairs_hot_key_guard_two_pass(spark):
    """r4 verdict: a degenerate bucket key (one shingle shared by every
    doc) must be dropped BEFORE the collect aggregation — the plan
    carries a LeftAnti hot-key guard upstream of the pair aggregate —
    and the pair output on normal data is unchanged vs the old
    single-pass filter."""
    from transferia_spark.operators.dedup import _bucket_pairs

    rows = (
        # degenerate key: every doc shares bucket 999
        [(i, 999) for i in range(50)]
        # normal keys: two small honest buckets
        + [(1, 5), (2, 5), (3, 7), (4, 7), (5, 7)]
    )
    df = spark.createDataFrame(rows, "doc_id long, _bk long")

    guarded = _bucket_pairs(df, "_bk", ["doc_id"], max_bucket=10)
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan  # hot keys leave before any collect buffer
    pairs = {(r._pa.doc_id, r._pb.doc_id) for r in guarded.collect()}
    assert pairs == {(1, 2), (3, 4), (3, 5), (4, 5)}

    # unguarded output on the SAME data includes the hot bucket's pairs
    unguarded = _bucket_pairs(df, "_bk", ["doc_id"], max_bucket=None)
    assert unguarded.count() == 50 * 49 // 2 + 4
    # equivalence on data with no hot keys: guard changes nothing
    cool = df.filter(F.col("_bk") != 999)
    a = {(r._pa.doc_id, r._pb.doc_id)
         for r in _bucket_pairs(cool, "_bk", ["doc_id"], 10).collect()}
    b = {(r._pa.doc_id, r._pb.doc_id)
         for r in _bucket_pairs(cool, "_bk", ["doc_id"], None).collect()}
    assert a == b == {(1, 2), (3, 4), (3, 5), (4, 5)}


def test_dedup_incremental_matches_full_run_restricted_to_new(spark):
    """The index path must find exactly the full-corpus LSH pairs that
    touch a new doc — no more (phantom pairs), no fewer (missed dups)."""
    rows = [
        (i, f"the quick brown fox jumps over the lazy dog variant {i % 4}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    full = build(
        "dedup_minhash_lsh", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    ).apply_df(df)
    expected = {
        (r.id_a, r.id_b)
        for r in full.collect()
        if r.id_a % 5 == 0 or r.id_b % 5 == 0
    }
    t = build(
        "dedup_incremental", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    )
    new = df.filter("doc_id % 5 = 0")
    old = df.filter("doc_id % 5 != 0")
    got = t.pairs_with_index(new, t.band_index(old)).collect()
    assert {(r.id_a, r.id_b) for r in got} == expected
    for r in got:
        assert r.is_cross == ((r.id_a % 5 == 0) != (r.id_b % 5 == 0))


@pytest.mark.slow
def test_split_leakage_safe_coassigns_near_dups(spark):
    """Every near-dup cluster lands wholly in one split, and the split
    is deterministic across invocations."""
    rows = [
        (i, f"shared boilerplate text block number {i // 3} with tail")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    t = build(
        "split_leakage_safe", text_col="text", id_col="doc_id",
        val_pct=20, test_pct=20, n=3, k=32, bands=8,
    )
    out = t.apply_df(df).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    assert {r.split for r in out} >= {"train"}  # assignment happened
    again = {(r.doc_id, r.split) for r in t.apply_df(df).collect()}
    assert again == {(r.doc_id, r.split) for r in out}


def test_embed_documents_hash_provider_shuffle_free_and_bounded(spark):
    df = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(20)], ["doc_id", "text"]
    )
    t = build("embed_documents", text_col="text", id_col="doc_id", dims=8)
    out = t.apply_df(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map-side Catalyst
    rows = {r.doc_id: r.embedding for r in out.collect()}
    assert len(rows) == 20 and all(len(v) == 8 for v in rows.values())
    assert all(-1.0 <= c <= 1.0 for v in rows.values() for c in v)
    # deterministic: same text → same vector; different → different
    again = {r.doc_id: r.embedding for r in out.collect()}
    assert again == rows
    assert rows[0] != rows[1]


def test_embed_documents_callable_provider_batches_inference(spark, tmp_path):
    """The injected encoder runs in mapInPandas with explicit inference
    micro-batches: every call sees ≤ batch_size texts (recorded via a
    file-append log — executors are separate processes), and the
    emitted vectors are exactly the encoder's output."""
    log = str(tmp_path / "calls.log")

    def encoder(texts):
        with open(log, "a") as f:
            f.write(f"{len(texts)}\n")
        return [[float(len(t)), 1.0] for t in texts]

    df = spark.createDataFrame(
        [(i, "x" * (i % 7 + 1)) for i in range(50)], ["doc_id", "text"]
    ).coalesce(2)
    t = build(
        "embed_documents", text_col="text", id_col="doc_id",
        provider="callable", encoder=encoder, batch_size=8,
    )
    rows = {r.doc_id: list(r.embedding) for r in t.apply_df(df).collect()}
    assert rows == {i: [float(i % 7 + 1), 1.0] for i in range(50)}
    sizes = [int(x) for x in open(log)]
    assert sum(sizes) == 50 and max(sizes) <= 8


def test_embed_documents_st_provider_gated(spark):
    t = build(
        "embed_documents", text_col="text", id_col="doc_id", provider="st"
    )
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(NotImplementedError, match="sentence-transformers"):
        t.apply_df(df)


def test_embed_documents_feeds_cosine_dedup(spark):
    """Composition: hash embeddings feed the embedding-cosine dedup —
    identical texts get identical vectors, so they surface as perfect
    duplicates."""
    df = spark.createDataFrame(
        [(0, "same text"), (1, "same text"), (2, "entirely different words")],
        ["doc_id", "text"],
    )
    emb = build(
        "embed_documents", text_col="text", id_col="doc_id", dims=16
    ).apply_df(df).withColumnRenamed("doc_id", "vec_id")
    pairs = build(
        "dedup_embedding_cosine", vec_col="embedding", id_col="vec_id",
        min_bp=9999,
    ).apply_df(emb)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(0, 1)}


def test_simhash_identical_docs_same_fingerprint(docs):
    t = build("dedup_simhash", text_col="text", id_col="doc_id")
    fps = {r.doc_id: r.simhash for r in t.fingerprints(docs).collect()}
    assert fps[0] == fps[1]
    assert 0 <= fps[0] < 2**32
    pairs = {(r.id_a, r.id_b): r.hamming for r in t.apply_df(docs).collect()}
    assert pairs[(0, 1)] == 0


def test_ngram_jaccard_exact_dup_is_10000(docs):
    out = build(
        "dedup_ngram_jaccard", text_col="text", id_col="doc_id", n=3, min_bp=100
    ).apply_df(docs)
    bp = {(r.id_a, r.id_b): r.jaccard_bp for r in out.collect()}
    assert bp[(0, 1)] == 10000
    assert 0 < bp[(0, 2)] < 10000  # near dup: high but not perfect


@pytest.fixture(scope="module")
def size_diverse_docs(spark):
    """Docs with very different distinct-shingle counts plus unicode,
    so the r15 length-ratio pre-filter has pairs on BOTH sides of the
    min·10⁴ ≥ min_bp·max boundary and the kernel sees non-ASCII."""
    base = "the quick brown fox jumps over the lazy dog"
    long_tail = " ".join(f"w{i}" for i in range(300))
    rows = [
        (0, base),
        (1, base + " today"),
        (2, base + " " + long_tail),           # huge superset of 0
        (3, "naïve café déjà vu über straße"),  # unicode
        (4, "naïve café déjà vu über straße again"),
        (5, "short one two"),
        (6, " ".join(f"v{i}" for i in range(80)) + " " + base),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_ngram_jaccard_postings_kernel_matches_fold(size_diverse_docs):
    """The optional numpy postings kernel must emit exactly the same
    (id, _sz, _s) multiset as the Catalyst fold (it is a cross-check,
    not the default — the exploded-row Python boundary was measured
    slower, r15)."""
    t = build(
        "dedup_ngram_jaccard", text_col="text", id_col="doc_id", n=3,
        min_bp=100,
    )
    kern = sorted(map(tuple, t._postings_kernel(size_diverse_docs).collect()))
    fold = sorted(map(tuple, t._postings_fold(size_diverse_docs).collect()))
    assert kern == fold and len(fold) > 0


def test_ngram_jaccard_ratio_prefilter_is_lossless(size_diverse_docs):
    """The r15 pre-shuffle length-ratio filter may only drop pairs that
    could never reach min_bp: the full pair set (with scores) must
    equal a reference computed WITHOUT the pre-filter."""
    t = build(
        "dedup_ngram_jaccard", text_col="text", id_col="doc_id", n=3,
        min_bp=2000,
    )
    got = {
        (r.id_a, r.id_b): r.jaccard_bp
        for r in t.apply_df(size_diverse_docs).collect()
    }
    # reference: same postings, no ratio pruning
    from transferia_spark.operators.dedup import _bucket_pairs

    ref_pairs = (
        _bucket_pairs(
            t._postings_fold(size_diverse_docs), "_s", ["doc_id", "_sz"],
            t.max_bucket,
        )
        .groupBy(
            F.col("_pa.doc_id").alias("id_a"),
            F.col("_pb.doc_id").alias("id_b"),
            F.col("_pa._sz").alias("_sza"),
            F.col("_pb._sz").alias("_szb"),
        )
        .agg(F.count(F.lit(1)).alias("_inter"))
        .select(
            "id_a",
            "id_b",
            F.floor(
                F.col("_inter") * 10000
                / (F.col("_sza") + F.col("_szb") - F.col("_inter"))
            ).cast("long").alias("jaccard_bp"),
        )
        .filter(F.col("jaccard_bp") >= 2000)
    )
    ref = {(r.id_a, r.id_b): r.jaccard_bp for r in ref_pairs.collect()}
    assert got == ref
    # and the fixture really exercises the pre-filter: doc 2 is a big
    # superset of doc 0, so (0, 2) must be ratio-pruned while (0, 1)
    # survives with a high score
    assert (0, 1) in got and (0, 2) not in got


def test_embedding_cosine_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.001, 0.0]),  # ~parallel to 0
        (2, [0.0, 1.0, 0.0]),    # orthogonal
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = build(
        "dedup_embedding_cosine", vec_col="embedding", id_col="vec_id", min_bp=9000
    ).apply_df(df)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert pairs == {(0, 1)}


def test_ann_brute_force_rank_order(spark):
    rows = [(i, [float(i), 1.0]) for i in range(12)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = build(
        "ann_brute_force",
        vec_col="embedding",
        id_col="vec_id",
        query_pred="vec_id = 11",
        k=3,
    ).apply_df(df)
    got = [(r.neighbor_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got == [(10, 1), (9, 2), (8, 3)]  # nearest directions first


def test_ann_lsh_candidates_subset_of_bucket(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    t = build(
        "ann_lsh_bucketed",
        vec_col="embedding",
        id_col="vec_id",
        query_pred="vec_id < 3",
        dim=64,
        n_planes=6,
        k=5,
    )
    buckets = {r.vec_id: r.bucket for r in t.bucketed(df).collect()}
    out = t.apply_df(df).collect()
    assert len(out) > 0
    for r in out:
        assert buckets[r.query_id] == buckets[r.neighbor_id]


def test_lang_id_heuristic(spark):
    rows = [
        (0, "the cat is in the house and it is warm"),
        (1, "der hund ist nicht zu haus und das ist gut"),
        (2, "日本語のテキストです漢字が多い文章ですここにある"),
        (3, "zzz qqq www"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.lang_pred for r in build("lang_id", text_col="text").apply_df(df).collect()}
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "zh"
    assert out[3] == "und"


def test_quality_score_components(spark):
    df = spark.createDataFrame(
        [(0, "the cat sat on the mat and then the dog came in too")], ["doc_id", "text"]
    )
    r = build("quality_score", text_col="text").apply_df(df).collect()[0]
    assert r.n_words == 13
    assert r.score_bp == 4000 + 3000 + 2000 + 1000  # all components pass


def test_token_count(spark):
    df = spark.createDataFrame([(0, "Hello, world! abc123 x")], ["doc_id", "text"])
    r = build("token_count", text_col="text").apply_df(df).collect()[0]
    assert r.ws_tokens == 4
    # hello , world ! abc 123 x
    assert r.re_tokens == 7


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha  beta\tgamma   delta")],
        ["doc_id", "text"],
    )
    rows = build("fingerprint", text_col="text").apply_df(df).collect()
    by_id = {r.doc_id: (r.full_hash, r.min_window_hash) for r in rows}
    assert by_id[0] == by_id[1]  # normalization collapses whitespace


def test_media_decode_meta_and_stub(docs):
    media = attach_payload(docs, text_col="text", id_col="doc_id")
    out = build("media_decode", mode="meta").apply_df(media)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[0].n_bytes == len(
        "the quick brown fox jumps over the lazy dog today".encode()
    )
    assert rows[0].kind == "image" and rows[1].kind == "audio"
    assert 64 <= rows[0].width < 64 + 512

    with pytest.raises(Exception) as ei:
        build("media_decode", mode="rgb").apply_df(media).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_frame_sample_stride(docs):
    media = attach_payload(docs, text_col="text", id_col="doc_id")
    out = build("frame_sample", stride=4).apply_df(media)
    pdf = out.toPandas()
    audio = pdf[pdf.doc_id == 1]
    n_bytes = len("the quick brown fox jumps over the lazy dog today".encode())
    expected = list(range(0, max(1, n_bytes // 32), 4)) or [0]
    assert sorted(audio.frame_idx.tolist()) == expected
    # images use a sentinel frame size → exactly one frame
    assert pdf[pdf.doc_id == 0].frame_idx.tolist() == [0]


def test_dedup_preserves_determinism_under_repartition(docs):
    shuffled = docs.repartition(7)
    a = build("dedup_exact", columns=["text"], id_col="doc_id").apply_df(docs)
    b = build("dedup_exact", columns=["text"], id_col="doc_id").apply_df(shuffled)
    assert sorted(r.doc_id for r in a.collect()) == sorted(
        r.doc_id for r in b.collect()
    )


def test_bm25_ranks_term_density(spark):
    """A document saturated with the query terms outranks one with a
    single mention; docs without any term never appear; top_k caps."""
    docs = spark.createDataFrame(
        [
            (1, "merge merge merge stream merge window merge"),
            (2, "merge of the tables happened yesterday evening quietly"),
            (3, "nothing relevant here at all just filler text"),
            (4, "window stream window stream window stream window"),
        ],
        "doc_id long, text string",
    )
    out = build(
        "bm25_rank", text_col="text", id_col="doc_id",
        terms=["merge", "window", "stream"], top_k=2,
    ).apply_df(docs)
    rows = out.collect()
    assert [r.doc_id for r in rows] == sorted(
        (r.doc_id for r in rows),
        key=lambda d: -[r.score_bp for r in rows if r.doc_id == d][0],
    )
    assert len(rows) == 2
    assert {r.doc_id for r in rows} <= {1, 2, 4}
    scores = {r.doc_id: r.score_bp for r in rows}
    assert max(scores, key=scores.get) in (1, 4)


def test_bm25_topk_is_heap_not_global_sort(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = build(
        "bm25_rank", text_col="text", id_col="doc_id",
        terms=["merge", "window"], top_k=5,
    ).apply_df(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # per-partition heaps


def test_dedup_blocks_scores_shared_paragraphs(spark):
    """Two docs sharing an exact 8-word block are both flagged; a doc
    with unique blocks scores 0; short docs have no blocks."""
    blk = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, blk + " " + "alpha beta gamma delta epsilon zeta eta theta"),
            (2, blk + " " + "iota kappa lambda mu nu xi omicron pi"),
            (3, "unique words only here nothing shared at all"),
            (4, "tiny doc"),
            # the shared paragraph repeated 3x: every occurrence counts
            # (ADVICE r3 — multiplicity, not distinct hashes), but a
            # within-doc repeat alone must NOT make a block popular
            (5, " ".join([blk] * 3)),
            (6, " ".join(["solo self repeat block words number only eight"] * 2)),
        ],
        "doc_id long, text string",
    )
    out = build(
        "dedup_blocks", text_col="text", id_col="doc_id",
        block_words=8, min_docs=2,
    ).apply_df(docs)
    rows = {r.doc_id: (r.n_blocks, r.dup_blocks, r.dup_ratio_bp) for r in out.collect()}
    assert rows[1] == (2, 1, 5000)
    assert rows[2] == (2, 1, 5000)
    assert rows[3] == (1, 0, 0)
    assert rows[4] == (0, 0, 0)
    assert rows[5] == (3, 3, 10000)  # all three occurrences are dups
    assert rows[6] == (2, 0, 0)  # self-repeat: 1 distinct doc < min_docs


@pytest.mark.slow
def test_audio_energy_frames(spark):
    from transferia_spark.operators.multimodal import attach_payload

    docs = spark.createDataFrame(
        [(1, "abcd" * 16), (3, "zz")], "doc_id long, text string"
    )
    media = attach_payload(docs, text_col="text", id_col="doc_id")
    out = build("audio_energy", frame_len=32).apply_df(media)
    rows = out.collect()
    # both ids are odd -> kind=audio; doc 1 has 64 bytes = 2 frames
    assert {(r.doc_id, r.frame_idx) for r in rows} == {(1, 0), (1, 1), (3, 0)}
    abcd = [ord(c) for c in "abcd" * 8]
    want_energy = sum(x * x for x in abcd)
    by = {(r.doc_id, r.frame_idx): r for r in rows}
    assert by[(1, 0)].energy == want_energy == by[(1, 1)].energy
    assert by[(1, 0)].peak == ord("d")
    assert by[(3, 0)].energy == 2 * ord("z") ** 2
    assert by[(1, 0)].zero_crossings == 0  # all-positive int8 samples


def test_image_resize_dims_and_stub_payload(spark):
    from transferia_spark.operators.multimodal import ImageResize, attach_payload

    assert ImageResize.target_dims(1024, 512, 256) == (256, 128)
    assert ImageResize.target_dims(512, 1024, 256) == (128, 256)
    assert ImageResize.target_dims(100, 50, 256) == (100, 50)  # no upscale
    assert ImageResize.target_dims(10000, 3, 256) == (256, 1)

    docs = spark.createDataFrame(
        [(0, "x" * 400), (2, "y" * 100), (1, "audio doc skipped")],
        "doc_id long, text string",
    )
    media = attach_payload(docs, text_col="text", id_col="doc_id")
    out = build("image_resize", max_side=16).apply_df(media)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {0, 2}  # kind == image only (even ids)
    for r in rows.values():
        assert max(r.out_w, r.out_h) <= 16
        assert len(r.payload) <= r.out_w * r.out_h


def test_image_resize_real_mode_gated(spark):
    from transferia_spark.operators.multimodal import ImageResize

    op = ImageResize(mode="lanczos")
    try:
        op._resample(b"xx", 1, 1, 2, 1)
        raise AssertionError("expected NotImplementedError")
    except NotImplementedError as e:
        assert "codec" in str(e)


def test_audio_energy_real_wav_decode(spark):
    """The ``wav`` decoder is a REAL RIFF decode (stdlib wave module):
    a 16-bit PCM file with known samples yields hand-computed integer
    features; a stereo file takes its first channel."""
    import io
    import struct
    import wave

    from transferia_spark.operators.multimodal import AudioEnergy

    samples = [100, -200, 300, -32768]

    def make_wav(vals, nch=1):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(struct.pack(f"<{len(vals)}h", *vals))
        return buf.getvalue()

    s = AudioEnergy.decode_samples(make_wav(samples), "wav")
    assert list(s) == samples
    # stereo: [L0,R0,L1,R1] → first channel
    stereo = AudioEnergy.decode_samples(
        make_wav([1, -1, 2, -2], nch=2), "wav"
    )
    assert list(stereo) == [1, 2]

    # end-to-end through Spark with real WAV payloads
    media = spark.createDataFrame(
        [(1, bytearray(make_wav(samples)), "audio")],
        "doc_id long, payload binary, kind string",
    )
    out = build("audio_energy", frame_len=2, decoder="wav").apply_df(media)
    by = {(r.doc_id, r.frame_idx): r for r in out.collect()}
    assert by[(1, 0)].energy == 100**2 + 200**2
    assert by[(1, 1)].energy == 300**2 + 32768**2
    assert by[(1, 1)].peak == 32768
    assert by[(1, 0)].zero_crossings == 1

    # unknown decoder stays gated
    try:
        AudioEnergy.decode_samples(b"x", "mp3")
        raise AssertionError("expected NotImplementedError")
    except NotImplementedError as e:
        assert "codec" in str(e)


def test_image_resize_nearest_is_real_resample(spark):
    """``nearest`` mode is genuine nearest-neighbor resampling (pure
    numpy): a 4×4 raster downsamples to the exact source pixels PIL's
    NEAREST picks (index map floor(y·in/out))."""
    from transferia_spark.operators.multimodal import ImageResize

    raster = bytes(range(16))  # 4x4: row r, col c → 4r + c
    op = ImageResize(mode="nearest")
    out = op._resample(raster, 2, 2, 4, 4)
    # ys = xs = [0, 2] → pixels (0,0),(0,2),(2,0),(2,2) = 0,2,8,10
    assert list(out) == [0, 2, 8, 10]
    # upsample wider than tall: ys=[0,0], xs=[0,1,2,3] over a 2x2 input
    out2 = op._resample(bytes([5, 6, 7, 8]), 4, 2, 2, 2)
    assert list(out2) == [5, 5, 6, 6, 7, 7, 8, 8]
    # short payloads are zero-padded to the declared raster
    out3 = op._resample(bytes([9]), 1, 1, 2, 2)
    assert list(out3) == [9]


def test_image_resize_pil_feature_detected(spark):
    """The Pillow path is feature-detected: with PIL absent it raises
    the install remedy; with PIL present it round-trips a real image."""
    from transferia_spark.operators.multimodal import ImageResize

    op = ImageResize(mode="pil")
    try:
        import PIL  # noqa: F401

        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("L", (4, 4), color=7).save(buf, format="PNG")
        out = op._resample(buf.getvalue(), 2, 2, 4, 4)
        img = Image.open(io.BytesIO(out))
        assert img.size == (2, 2)
    except ImportError:
        try:
            op._resample(b"xx", 1, 1, 2, 2)
            raise AssertionError("expected NotImplementedError")
        except NotImplementedError as e:
            assert "Pillow" in str(e)


def test_lm_familiarity_common_text_scores_higher(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the rug"),
            (3, "zqx vbn wfp jkl qwe rty"),  # all-rare tokens
        ],
        "doc_id long, text string",
    )
    out = build("lm_familiarity", text_col="text", id_col="doc_id").apply_df(docs)
    rows = {r.doc_id: r for r in out.collect()}
    mean = {d: rows[d].familiarity_sum / rows[d].n_tok for d in rows}
    assert mean[1] > mean[3] and mean[2] > mean[3]
    assert rows[1].n_tok == 6


def test_repetition_score_gopher_ngram_rules(spark):
    """Top-2-gram coverage and duplicated-5-gram coverage, the two
    Gopher A1 rules beyond quality_gopher's line/word signals."""
    docs = spark.createDataFrame(
        [
            # "ab cd" occurs 3x (most frequent 2-gram, len 5)
            (1, "ab cd ab cd ab cd"),
            (2, "all words here are totally distinct tokens"),
            # one repeated 5-gram: "a b c d e" twice (len 9)
            (3, "a b c d e a b c d e"),
            (4, "x"),       # no 2-grams at all
            (5, ""),        # empty doc
        ],
        "doc_id long, text string",
    )
    out = build(
        "repetition_score", text_col="text", id_col="doc_id"
    ).apply_df(docs)
    rows = {r.doc_id: (r.top_ngram_bp, r.dup_ngram_bp) for r in out.collect()}
    # doc 1: text len 17; top 2-gram "ab cd" cnt=3 len=5 → 15/17 → 8823bp
    assert rows[1][0] == 3 * 5 * 10000 // 17
    # doc 2: every 2-gram unique → cnt=1; top = 1*len of longest 2-gram
    assert 0 < rows[2][0] < 5000 and rows[2][1] == 0
    # doc 3: len 19; dup 5-gram "a b c d e" cnt=2 len=9 → 18*10000//19
    assert rows[3][1] == 2 * 9 * 10000 // 19
    assert rows[4] == (0, 0) and rows[5] == (0, 0)
    # coverage caps at 10000
    assert all(v <= 10000 for pair in rows.values() for v in pair)


def test_chunk_documents_positions_and_overlap(spark):
    """Chunk grid: stride = chunk_tokens - overlap; last chunk short;
    one-chunk docs; empty docs yield one empty chunk."""
    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    out = build(
        "chunk_documents", text_col="text", id_col="doc_id",
        chunk_tokens=4, overlap=2,
    ).apply_df(docs)
    rows = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tok) for r in out.collect()}
    # doc 1: stride 2 → starts 0,2,4,6 (ceil((10-2)/2) = 4 chunks)
    assert rows[(1, 0)] == ("w1 w2 w3 w4", 4)
    assert rows[(1, 1)] == ("w3 w4 w5 w6", 4)
    assert rows[(1, 3)] == ("w7 w8 w9 w10", 4)
    assert (1, 4) not in rows
    # every word appears in some chunk; overlap duplicates interior words
    assert rows[(2, 0)] == ("a b", 2) and (2, 1) not in rows
    assert rows[(3, 0)] == ("", 0)
    with pytest.raises(ValueError):
        build("chunk_documents", text_col="text", id_col="doc_id",
              chunk_tokens=4, overlap=4)


def test_chunk_documents_no_shuffle(spark):
    """Chunking is one map-side pass — no Exchange in the plan."""
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    out = build(
        "chunk_documents", text_col="text", id_col="doc_id", chunk_tokens=2
    ).apply_df(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_chunk_documents_property_full_coverage(spark):
    """Property over random docs/params: chunks cover every word, chunk
    word-counts match n_tok, and with overlap=0 concatenating chunks
    reconstructs the normalized document exactly."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        docs=st.lists(
            st.lists(st.text("abcd", min_size=1, max_size=3),
                     min_size=0, max_size=30),
            min_size=1, max_size=5),
        ct=st.integers(1, 8),
        ov=st.integers(0, 4),
    )
    def run(docs, ct, ov):
        if ov >= ct:
            return
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = build("chunk_documents", text_col="text", id_col="doc_id",
                    chunk_tokens=ct, overlap=ov).apply_df(df)
        got = {}
        for r in out.collect():
            got.setdefault(r.doc_id, []).append(
                (r.chunk_idx, r.chunk_text, r.n_tok))
        stride = ct - ov
        for i, ws in enumerate(docs):
            chunks = sorted(got[i])
            # chunk grid: each chunk's words match the positional slice
            for idx, text, n_tok in chunks:
                want = ws[idx * stride: idx * stride + ct]
                assert text.split(" ") == want or (text == "" and not want)
                assert n_tok == max(0, min(ct, len(ws) - idx * stride))
            # coverage: the last chunk reaches the final word
            last = chunks[-1][0]
            assert last * stride + ct >= len(ws)
            if ov == 0 and ws:
                rebuilt = " ".join(t for _, t, _ in chunks if t)
                assert rebuilt == " ".join(ws)

    run()


@pytest.mark.slow
def test_band_index_store_two_ingest_lifecycle(spark, tmp_path):
    """r5 verdict item 7: the band index is a PERSISTED artifact.
    Ingest base → A → B, each reading the index from disk: the union of
    the two ingests' pair sets must equal the full-corpus LSH pairs
    touching A∪B — proving the on-disk index path loses nothing across
    ingests — and re-checking without appending must not self-pair."""
    from transferia_spark.operators.dedup import BandIndexStore

    rows = [
        (i, f"the quick brown fox jumps over the lazy dog variant {i % 4}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    base = df.filter("doc_id % 5 > 1")
    batch_a = df.filter("doc_id % 5 = 0")
    batch_b = df.filter("doc_id % 5 = 1")
    t = build(
        "dedup_incremental", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    )
    store = BandIndexStore(spark, str(tmp_path / "idx"), n_shards=8)
    assert not store.exists()
    store.ingest(t, base)  # seeds the index; no prior index → in-batch pairs only
    pa = {(r.id_a, r.id_b) for r in store.ingest(t, batch_a).collect()}
    pb = {(r.id_a, r.id_b) for r in store.ingest(t, batch_b).collect()}

    full = build(
        "dedup_minhash_lsh", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    ).apply_df(df)
    want = {
        (r.id_a, r.id_b)
        for r in full.collect()
        if r.id_a % 5 in (0, 1) or r.id_b % 5 in (0, 1)
    }
    assert pa | pb == want
    assert pa.isdisjoint(pb)

    # compaction folds the three appends into one version; same content
    v = store.compact()
    assert v == 1
    idx_rows = store.read().count()
    assert idx_rows == t.band_index(df).count()

    # pruned read: a batch touching few band keys scans a strict subset
    # of shard directories
    nb = t.band_index(batch_a)
    pruned_files = set(store.read_for(nb).inputFiles())
    all_files = set(store.read().inputFiles())
    assert pruned_files and pruned_files.issubset(all_files)


def test_band_index_store_schema_meta(spark, tmp_path):
    """r14 optimization: _meta.json persists the index data schema so
    every pruned read / compact reopens with an explicit schema (no
    per-open footer inference job). Pins: the schema lands in the meta
    on first ingest and the explicit-schema read returns exactly the
    band rows."""
    import json
    import os

    from transferia_spark.operators.dedup import BandIndexStore

    rows = [(i, f"the quick brown fox variant {i % 3} here") for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    t = build(
        "dedup_incremental", text_col="text", id_col="doc_id", n=3, k=16, bands=4
    )
    root = str(tmp_path / "idx")
    store = BandIndexStore(spark, root, n_shards=4)
    store.ingest(t, df)

    meta_path = os.path.join(root, "_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    assert "schema" in meta  # persisted on first append

    want_schema = [(f.name, f.dataType) for f in t.band_index(df).schema.fields]
    expect = {(r[0], r[1]) for r in t.band_index(df).collect()}
    got_df = store.read()
    assert [(f.name, f.dataType) for f in got_df.schema.fields] == want_schema
    assert {(r[0], r[1]) for r in got_df.collect()} == expect
    # the pruned read rides the same explicit-schema reader
    pruned = store.read_for(t.band_index(df.limit(3)))
    assert [(f.name, f.dataType) for f in pruned.schema.fields] == want_schema


def test_band_index_store_empty_seed_then_ingest(spark, tmp_path):
    """An empty seed leaves a version dir with no shard files. The next
    ingest's lazy pairs must not see that batch's own append: the
    snapshot of an empty version is an empty frame of the stored
    schema, not a directory read that lists files written later."""
    from transferia_spark.operators.dedup import BandIndexStore

    rows = [
        (i, f"the quick brown fox jumps over the lazy dog variant {i % 4}")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    t = build(
        "dedup_incremental", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    )
    store = BandIndexStore(spark, str(tmp_path / "idx"), n_shards=4)
    assert store.ingest(t, df.limit(0)).count() == 0
    assert store.exists()
    empty = store.read()
    assert empty.columns == ["doc_id", "_bk"] and empty.count() == 0

    pairs = store.ingest(t, df)  # lazy: evaluated after the append
    got = {(r.id_a, r.id_b, r.is_cross) for r in pairs.collect()}
    full = build(
        "dedup_minhash_lsh", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    ).apply_df(df)
    assert got == {(r.id_a, r.id_b, False) for r in full.collect()}
    assert store.read().count() == t.band_index(df).count()


def test_band_index_ingest_sink_streaming(spark, tmp_path):
    """STREAMING near-dup ingest: documents arrive as a rate-limited
    file stream, each micro-batch checks against and extends the
    persisted band index through foreachBatch — the union of all
    batches' pairs equals the full-corpus LSH pairs (minus the
    never-checked seed-internal... here every doc streams, so ALL
    pairs), and a replayed batch is a no-op."""
    import json as _json

    from transferia_spark.operators.dedup import (
        BandIndexIngestSink,
        BandIndexStore,
    )

    rows = [
        (i, f"the quick brown fox jumps over the lazy dog variant {i % 4}")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # stream source: two JSON files arriving in order → two micro-batches
    src = tmp_path / "docs_stream"
    src.mkdir()
    t = build(
        "dedup_incremental", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    )
    store = BandIndexStore(spark, str(tmp_path / "idx"), n_shards=8)
    sink = BandIndexIngestSink(
        store, t, str(tmp_path / "pairs"), compact_every=2
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    for wave, lo, hi in (("a", 0, 15), ("b", 15, 30)):
        with open(src / f"{wave}.json", "w") as f:
            for i, txt in rows[lo:hi]:
                f.write(_json.dumps({"doc_id": i, "text": txt}) + "\n")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.id_a, r.id_b) for r in sink.pairs(spark).select("id_a", "id_b").collect()
    }
    full = build(
        "dedup_minhash_lsh", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    ).apply_df(df)
    assert got == {(r.id_a, r.id_b) for r in full.collect()}

    # compact_every=2 fired after batch 1: the index folded to v1
    assert store._version() == 1
    # replay: calling the sink again for an already-marked batch is a
    # no-op (no duplicate index rows, same pairs)
    n_index = store.read().count()
    sink(df.limit(5), 0)
    assert store.read().count() == n_index
    got2 = {
        (r.id_a, r.id_b) for r in sink.pairs(spark).select("id_a", "id_b").collect()
    }
    assert got2 == got


def test_ingest_sink_crash_replay_fabricates_nothing(spark, tmp_path):
    """Self-review r6: a crash BETWEEN the index append and the batch
    marker re-runs the batch with its own rows already indexed — the
    self-index join then re-finds within-batch pairs with is_cross=True
    and pairs docs with themselves. The replay must produce exactly the
    clean batch's pair set (diagonal filtered, per-pair min(is_cross)),
    and compaction sheds the duplicated band rows."""
    from transferia_spark.operators.dedup import (
        BandIndexIngestSink,
        BandIndexStore,
    )

    rows = [
        (i, f"the quick brown fox jumps over the lazy dog variant {i % 3}")
        for i in range(12)
    ]
    batch = spark.createDataFrame(rows, ["doc_id", "text"])
    t = build(
        "dedup_incremental", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    )

    # clean run for the expected pair set
    clean_store = BandIndexStore(spark, str(tmp_path / "idx_clean"), n_shards=4)
    clean_sink = BandIndexIngestSink(clean_store, t, str(tmp_path / "p_clean"))
    clean_sink(batch, 0)
    want = {
        (r.id_a, r.id_b, r.is_cross)
        for r in clean_sink.pairs(spark).collect()
    }
    assert want and all(not c for _, _, c in want)  # all within-batch

    # crashed run: the append landed, the marker did not
    store = BandIndexStore(spark, str(tmp_path / "idx"), n_shards=4)
    store.append(t.band_index(batch))  # what ingest() did before the crash
    sink = BandIndexIngestSink(store, t, str(tmp_path / "pairs"))
    sink(batch, 0)  # replay
    got = {
        (r.id_a, r.id_b, r.is_cross) for r in sink.pairs(spark).collect()
    }
    assert got == want  # no self-pairs, no is_cross=True phantoms

    # compaction sheds the doubled band rows
    n_before = store.read().count()
    assert n_before == 2 * t.band_index(batch).count()
    store.compact()
    assert store.read().count() == t.band_index(batch).count()


def test_band_index_compact_retention_lease(spark, tmp_path):
    """r6 verdict item 2: compact() must not rmtree the version a live
    reader resolved — the trailing ``retention`` version dirs stay on
    disk (deferred GC), so a reader that resolved vN completes its scan
    after compact lands vN+1."""
    import os as _os

    from transferia_spark.operators.dedup import BandIndexStore

    rows = [
        (i, f"the quick brown fox jumps over the lazy dog variant {i % 4}")
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    t = build(
        "dedup_incremental", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    )
    store = BandIndexStore(spark, str(tmp_path / "idx"), n_shards=4,
                           retention=2)
    store.append(t.band_index(df))
    reader = store.read()  # lazy: resolves v0's file paths
    n_expected = t.band_index(df).count()
    v1 = store.compact()
    assert v1 == 1
    # v0 is still on disk (the lease) — the old reader completes
    assert _os.path.isdir(store._vdir(0))
    assert reader.count() == n_expected
    # the next compact ages v0 out of the window
    store.append(t.band_index(df.limit(4)))
    store.compact()
    assert not _os.path.isdir(store._vdir(0))
    assert _os.path.isdir(store._vdir(1)) and _os.path.isdir(store._vdir(2))


@pytest.mark.slow
def test_band_index_single_shard_store_matches_sharded(spark, tmp_path):
    """r15: a derived single-shard store (tiny index → n_shards=1,
    read_for skips the touched-shard job) must produce exactly the
    pair sets a multi-shard store does, across a compact."""
    from transferia_spark.operators.dedup import BandIndexStore

    rows = [
        (i, f"the quick brown fox jumps over the lazy dog variant {i % 4}")
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    t = build(
        "dedup_incremental", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    )

    def lifecycle(n_shards, root):
        store = BandIndexStore(spark, root, n_shards=n_shards)
        store.append(t.band_index(df.filter("doc_id % 3 != 0")))
        pa = store.ingest(t, df.filter("doc_id % 3 = 0"))
        store.compact()
        pb = store.ingest(t, df.filter("doc_id % 3 = 1").limit(0).unionByName(
            df.filter("doc_id = 0").selectExpr("doc_id + 100 as doc_id", "text")
        ))
        return store, sorted(
            map(tuple, pa.unionByName(pb).select("id_a", "id_b", "is_cross").collect())
        )

    one_store, one = lifecycle(1, str(tmp_path / "one"))
    _, many = lifecycle(4, str(tmp_path / "many"))
    assert one_store.n_shards == 1
    assert one == many and len(one) > 0
    # read_for on the single-shard store is the full (lazy) read
    nb = t.band_index(df.limit(3))
    assert one_store.read_for(nb).count() == one_store.read().count()


@pytest.mark.slow
def test_ingest_sink_watermark_bounded_files(spark, tmp_path):
    """r6 verdict item 3: a long stream must not accrete one marker
    file per batch — the replay guard is ONE atomic high-watermark
    file, and replay idempotency is preserved."""
    import os as _os

    from transferia_spark.operators.dedup import (
        BandIndexIngestSink,
        BandIndexStore,
    )

    rows = [
        (i, f"the quick brown fox jumps over the lazy dog variant {i % 3}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    t = build(
        "dedup_incremental", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    )
    store = BandIndexStore(spark, str(tmp_path / "idx"), n_shards=4)
    sink = BandIndexIngestSink(store, t, str(tmp_path / "pairs"))
    for b in range(10):
        sink(df.filter(F.col("doc_id") % 10 == b), b)
    # bookkeeping files in the store root are CONSTANT in batch count
    control = [
        n for n in _os.listdir(store.root)
        if not n.startswith("_v") and not n.endswith(".parquet")
    ]
    assert len(control) <= 3  # _VERSION, _meta.json, _INGESTED
    assert sink._watermark() == 9
    # replays of any committed batch are no-ops
    n_index = store.read().count()
    for b in (0, 5, 9):
        sink(df.limit(3), b)
    assert store.read().count() == n_index


def test_band_index_meta_wins_and_derived_shards(spark, tmp_path):
    """The shard function is part of the on-disk layout: reopening with
    a different n_shards must adopt the stored count (a mismatch would
    silently mis-prune read_for), and n_shards=None derives one."""
    from transferia_spark.operators.dedup import BandIndexStore

    rows = [
        (i, f"the quick brown fox jumps over the lazy dog variant {i % 4}")
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    t = build(
        "dedup_incremental", text_col="text", id_col="doc_id", n=3, k=32, bands=8
    )
    store = BandIndexStore(spark, str(tmp_path / "idx"), n_shards=8)
    store.append(t.band_index(df))
    reopened = BandIndexStore(spark, str(tmp_path / "idx"), n_shards=999)
    assert reopened.n_shards == 8
    # pruned reads through the reopened handle stay correct
    nb = t.band_index(df.limit(5))
    assert reopened.read_for(nb).count() > 0
    derived = BandIndexStore(spark, str(tmp_path / "idx2"), n_shards=None)
    derived.append(t.band_index(df))  # python-local frame → the floor
    assert derived.n_shards >= 16
    assert BandIndexStore(spark, str(tmp_path / "idx2")).n_shards == derived.n_shards
