"""Small-files compaction — the operational task every long-running
file/CDC sink needs at scale.

A streaming sink writing a micro-batch every 333 ms (the reference's
bufferer cadence, ``sink_factory.go:215-224``) produces ~260k files/day
per table; parquet scan planning, footer reads, and NameNode/S3 LIST
costs then dominate reads. The fix is periodic rewrite into
target-sized files — what Delta's OPTIMIZE / Iceberg's rewrite_data_files
do; here it is a plain task from one parquet directory to another, or
to the same one (compaction in place).

Scale notes:
- File count is computed from the actual on-disk byte size divided by
  ``target_file_bytes`` (not row counts — row width varies), so output
  files land near the 256 MB sweet spot where scan-task overhead
  amortizes but tasks still parallelize.
- ``coalesce`` (no shuffle) when only merging. With ``partition_cols``
  the output is a real Hive-style ``partitionBy`` layout, and rows are
  spread over (partition value, spread-bucket) so each directory gets
  ~target-sized files instead of one giant file per value.
- The rewrite replaces ``dst`` whole through ``durable.replacing``:
  it is staged in a hidden sibling and swapped in, so readers never
  see a half-written table, and in place the read of ``src`` finishes
  inside the write job, before the swap. A replace is SINGLE-WRITER:
  a concurrent one fails with ``ConcurrentReplaceError``, so pause the
  writer of a table before compacting it in place.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from transferia_spark import durable


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, f))
    return total


def data_file_count(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def compact_dir(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    partition_cols: list[str] | None = None,
    compression_ratio: float = 1.0,
) -> None:
    """Rewrite the parquet data under ``src`` into the directory ``dst``
    as ~``target_file_bytes`` files; ``dst == src`` compacts in place.

    ``compression_ratio`` corrects for recompression (output bytes ≈
    input bytes × ratio); 1.0 is right when src is already parquet
    with the same codec.
    """
    n_files = max(1, round(dir_bytes(src) * compression_ratio / target_file_bytes))
    compact_df(spark.read.parquet(src), dst, n_files, partition_cols)


def compact_df(
    df: DataFrame,
    dst: str,
    n_files: int,
    partition_cols: list[str] | None = None,
) -> None:
    if partition_cols:
        from pyspark.sql import functions as F

        # spread each partition value over enough buckets that its
        # directory gets ~n_files/|values| files of ~target size (one
        # cheap distinct-count; hash spread is content-derived so a
        # task retry recomputes identically)
        n_vals = df.select(*partition_cols).distinct().count()
        per_part = max(1, round(n_files / max(1, n_vals)))
        spread = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(per_part)
        )
        writer = df.repartition(
            max(n_files, n_vals), *partition_cols, spread
        ).write.partitionBy(*partition_cols)
    else:
        writer = df.coalesce(n_files).write
    with durable.replacing(dst) as stage:
        writer.parquet(stage)


def is_bucketed_table_root(path: str) -> bool:
    """A BucketedParquetTable layout: keyed ``_meta.json`` + the
    ``_CURRENT`` manifest pointer."""
    try:
        import json as _json

        with open(os.path.join(path, "_meta.json")) as f:
            meta = _json.load(f)
        return "keys" in meta and os.path.exists(
            os.path.join(path, "_CURRENT")
        )
    except (FileNotFoundError, ValueError):
        return False


def compact_bucketed_table(
    spark: SparkSession,
    root: str,
    buckets: list[int] | None = None,
) -> int:
    """Maintenance fold for a merge-on-read BucketedParquetTable (the
    ``compact_policy="off"`` deployment — r7 verdict item 4's
    out-of-band job): fold the pending delta tail into the base, whole
    table or just the given buckets. Keys and bucket count come from
    the stored ``_meta.json`` (the meta-wins contract), so the verb
    needs only the root. Safe to run while a delta-mode stream
    appends — ACROSS PROCESSES: the table's manifest commits hold an
    ``fcntl`` lock on ``<root>/_LOCK``, version names are allocated
    through the persisted ``_ALLOC`` high-water (this process and the
    streaming one can never claim the same dir), the fold's in-flight
    parquet write is ledger-protected from the streaming process's GC,
    and the per-bucket watermark commit preserves deltas landing
    mid-fold (code-review r8 finding 2)."""
    import json as _json

    from transferia_spark.streaming.bucketed_table import (
        BucketedParquetTable,
    )

    with open(os.path.join(root, "_meta.json")) as f:
        keys = _json.load(f)["keys"]
    t = BucketedParquetTable(
        spark, root, keys=keys, n_buckets=None, compact_policy="off"
    )
    if buckets is None:
        return t.compact()
    return t.compact_buckets(buckets)


def rebucket_bucketed_table(
    spark: SparkSession,
    root: str,
    n_buckets: int | None = None,
    target_bucket_bytes: int | None = None,
) -> tuple[int, int, int]:
    """Maintenance re-layout for a BucketedParquetTable that outgrew
    its creation-time bucket count: fold the delta tail, rewrite every
    row under the new bucket function, one atomic commit (see
    ``BucketedParquetTable.rebucket``). ``n_buckets=None`` sizes from
    the measured base (~``target_bucket_bytes`` per bucket, growth
    only) and is a no-op while the table still fits. Safe to run
    against a live stream's table: writers block on the table lock for
    the rewrite, and one mid-batch when the layout flips discards and
    retries under the new count. Returns
    ``(old_n_buckets, new_n_buckets, version)``."""
    import json as _json

    from transferia_spark.streaming.bucketed_table import (
        BucketedParquetTable,
    )

    with open(os.path.join(root, "_meta.json")) as f:
        keys = _json.load(f)["keys"]
    kwargs = {}
    if target_bucket_bytes is not None:
        kwargs["target_bucket_bytes"] = target_bucket_bytes
    t = BucketedParquetTable(
        spark, root, keys=keys, n_buckets=None, compact_policy="off",
        **kwargs,
    )
    old_n = t.n_buckets
    v = t.rebucket(n_buckets)
    return old_n, t.n_buckets, v
