"""Hash-bucketed versioned parquet table: bucket-scoped CDC MERGE.

The repo's one CDC apply target: ``BucketedCdcApplySink`` MERGEs every
micro-batch into a ``BucketedParquetTable``. A whole-table rewrite per
micro-batch is O(table) I/O — a 100 TB target cannot re-stream 100 TB
every 333 ms — so this table bounds each batch's I/O the way
Delta/Iceberg/Hudi do, with a manifest instead of a log:

- rows hash into ``n_buckets`` by primary key
  (``pmod(xxhash64(keys), n))`` — the same PK-hash sharding the
  reference uses for parallel snapshots (``sharding_storage.go:195``)
- a MERGE touches only the buckets whose keys appear in the batch:
  read those buckets' current files, merge, write ONLY those buckets
  into the new version directory
- ``_manifest_v{n}.json`` maps every bucket to the version directory
  that last rewrote it; ``_CURRENT`` names the live manifest and flips
  atomically (``os.replace``), so readers always see a consistent
  bucket set and a crashed writer leaves the table untouched

Per-batch cost: O(|batch| + size of touched buckets), independent of
table size when key locality is decent. Worst case (a batch touching
every bucket) degrades to the full rewrite — no worse than before.
One logical writer per root, but writer PROCESSES coordinate: commits
hold an ``fcntl`` lock on ``_LOCK`` and version claims persist in
``_ALLOC``, so an out-of-band ``trcli compact`` safely overlaps the
streaming appender. Size ``n_buckets`` so a bucket
(table_size / n_buckets) fits comfortably in one executor's scan
budget (~1 GB buckets → n_buckets = table_size_gb), or pass
``n_buckets=None`` to derive the count from the first write's
Catalyst size statistics (the repo's size-derived-shards pattern).

Merge-on-read (``merge_mode="delta"``): under uniform-key churn the
rewrite mode degrades to a full-table rewrite per micro-batch — the
r6-measured scale killer (steady-state CDC ~4.6k rows/s vs 327k
snapshot). Delta mode makes the per-batch write O(|batch|), the way
ClickHouse's ReplacingMergeTree absorbs the reference's CDC batches
(cheap append now, collapse later — ``clickhouse/sink_shard.go:183``)
and Delta/Hudi's deferred-merge modes do:

- ``merge()`` appends the batch under ``_d{v}`` as a few files sorted
  by (bucket, keys), the bucket riding as a data column; the manifest
  records each delta's schema signature (``delta_sigs``) and exact
  touched-bucket set (``delta_buckets``)
- ``read()`` resolves last-writer-wins at scan time: base buckets
  ∪ pending deltas through the same ``merge_batch`` plan, ordered by
  the events' own ``(_lsn, _counter)`` — correctness is identical to
  eager merging because collapse orders globally per key
- ``compact_buckets()`` folds pending deltas into the touched base
  buckets; the ``incremental`` policy runs it per bucket once that
  bucket's pending count reaches a staggered threshold

Amortized write cost drops from O(touched buckets) per batch to
O(|batch| + touched/max_deltas); reads between compactions pay one
extra key-shuffle over the delta tail (< 2·max_deltas batches).

On disk: ``_meta.json`` (keys, bucket count, schema), ``_CURRENT``,
``_manifest_v{n}.json`` (``buckets``, ``deltas``, ``folded``,
``delta_sigs``, ``delta_buckets``, ``last_batch_id``, ``n_buckets``),
``_v{n}/bkt={b}/`` base files and ``_d{n}/`` delta files. This is the
only layout the table reads; a manifest missing any of those keys
fails to open.
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import shutil
import threading
import time

try:  # POSIX advisory locks; absent on non-POSIX test hosts
    import fcntl
except ImportError:  # pragma: no cover
    fcntl = None  # type: ignore[assignment]

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transferia_spark.cdc.merge import merge_batch

BUCKET_COL = "bkt"  # no leading underscore: `_…=3` dirs are invisible
# to Spark's file discovery (treated as metadata)

#: per-write Hadoop options of the delta write: no ``_SUCCESS``, and no
#: ``.crc`` (a raw, uncached local filesystem for this write only)
_DELTA_WRITE_OPTIONS = {
    "mapreduce.fileoutputcommitter.marksuccessfuljobs": "false",
    "fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "fs.file.impl.disable.cache": "true",
}


class BucketLayoutChanged(RuntimeError):
    """Another process changed the table's bucket count (``rebucket``)
    between this writer's parquet write and its manifest commit — the
    written files are bucketed by the OLD function and were discarded.
    Writers catch this, refresh the layout from disk and retry the
    batch; a maintenance fold treats it as nothing-left-to-fold."""


class StaleBaseFold(RuntimeError):
    """A concurrent fold committed one of this fold's touched buckets
    between the base read and the manifest commit — committing would
    roll that bucket's base back to a state missing the rows the other
    fold already applied (and then prune the deltas carrying them:
    silent data loss). The written parquet was discarded;
    :meth:`BucketedParquetTable.compact_buckets` retries from a fresh
    manifest read (ADVICE r8: fold-vs-fold overlap between a
    maintenance ``trcli compact`` and the streaming process's
    background incremental compactor)."""


def _tag_frame_presence(df: DataFrame) -> DataFrame:
    """Rewrite a delta frame's partial-row convention to an explicit
    ``_present`` column-name list scoped to THIS frame's payload
    columns, so a union that widens the frame (allowMissingColumns
    NULL-fill) cannot turn "column absent from the batch" into
    "column set to NULL". Exact under every marker convention:

    - ``_present`` rows keep their list; NULL (= full row) becomes the
      frame's own payload list — full relative to the frame, absent
      beyond it;
    - ``_toasted`` rows enumerate their non-NULL columns (the marker's
      NULL-means-absent contract); unflagged rows are full;
    - unmarked frames are full rows of their own columns.
    """
    from transferia_spark.cdc.changeitem import (
        PRESENT_COL,
        TOASTED_COL,
        column_present,
        payload_columns,
    )

    cols = sorted(payload_columns(df))
    own = F.array(*[F.lit(c) for c in cols])
    if PRESENT_COL in df.columns:
        marker = F.coalesce(F.col(PRESENT_COL), own)
    elif TOASTED_COL in df.columns:
        marker = F.concat(
            *[
                F.when(column_present(df, c), F.array(F.lit(c))).otherwise(
                    F.array().cast("array<string>")
                )
                for c in cols
            ]
        )
    else:
        marker = own
    return df.withColumn(PRESENT_COL, marker).drop(TOASTED_COL)


def _widen_to_batch(target: DataFrame, batch: DataFrame) -> DataFrame:
    """Widening-only drift at the table: a batch (or delta tail)
    carrying NEW payload columns — schema_file evolved mid-stream,
    recorded DDL or registry-driven — widens the target with nullable
    holes instead of the merge silently narrowing to the stored
    schema (merge output columns are the TARGET's). Used by the eager
    merge, the delta fold and the merge-on-read resolution
    (code-review r12: the last two dropped drift-added columns);
    _commit's _save_meta then records the widened schema, so untouched
    buckets' older files read back with null for the new columns
    (Spark fills missing parquet columns by name)."""
    from transferia_spark.cdc.changeitem import payload_columns

    have = set(target.columns)
    widen = [
        f for f in batch.schema.fields
        if f.name in set(payload_columns(batch)) - have
    ]
    if not widen:
        return target
    return target.select(
        "*",
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in widen],
    )


class BucketedParquetTable:
    """Versioned, PK-hash-bucketed parquet table with atomic manifest
    swap and bucket-scoped merges."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        keys: list[str],
        n_buckets: int | None = 64,
        retention: int = 2,
        merge_mode: str = "rewrite",
        max_deltas: int = 8,
        target_bucket_bytes: int = 1 << 30,
        compact_policy: str = "incremental",
    ):
        """``retention`` is the number of trailing manifest versions kept
        on disk — it IS the reader lease: a reader that resolved manifest
        ``v`` may keep reading ``v``'s file paths while at most
        ``retention - 1`` further commits land. Size it to cover the
        longest concurrent read (a long scan overlapping a fast CDC
        writer needs a larger window); GC after each commit only drops
        version dirs no retained manifest references.

        ``n_buckets=None`` derives the bucket count at the first write
        from Catalyst's plan-size statistics (~``target_bucket_bytes``
        per bucket, floor 16) — a reopened table always keeps the
        stored count (the meta-wins contract: the bucket function is
        part of the on-disk layout).

        ``merge_mode`` picks the write path ``merge()`` uses:
        ``"rewrite"`` (eager bucket-scoped MERGE) or ``"delta"``
        (O(|batch|) append + read-time resolution). Reads resolve
        pending deltas regardless of the writer's mode.

        ``compact_policy`` controls when delta mode folds its tail:

        - ``"incremental"`` (default): after each append, fold ONLY
          the buckets whose pending-delta count reached a per-bucket
          staggered threshold in [max_deltas, 2·max_deltas) — under
          uniform churn every batch folds ~n_buckets/max_deltas
          buckets instead of the whole table every max_deltas-th
          batch (average fold period ~1.5·max_deltas); the worst-case
          pending tail a read pays is < 2·max_deltas (the reference's
          targets fold in background merges,
          clickhouse/sink_shard.go:183; the apply SINK additionally
          runs these folds in a background thread);
        - ``"off"``: never fold on the write path; run ``compact()``
          from a maintenance pass (the read path is correct for
          arbitrarily long tails, it just re-merges them per scan)."""
        if merge_mode not in ("rewrite", "delta"):
            raise ValueError(
                f"merge_mode must be 'rewrite' or 'delta', got {merge_mode!r}"
            )
        if compact_policy not in ("incremental", "off"):
            raise ValueError(
                "compact_policy must be 'incremental' or 'off', "
                f"got {compact_policy!r}"
            )
        self.spark = spark
        self.root = root
        self.keys = keys
        self.n_buckets = n_buckets
        self.retention = max(1, retention)
        self.merge_mode = merge_mode
        self.max_deltas = max(1, max_deltas)
        self.target_bucket_bytes = target_bucket_bytes
        self.compact_policy = compact_policy
        self._schema_json: dict | None = None
        # Writer coordination is TWO-LEVEL. In-process: the mutex
        # serializes the streaming apply thread and the background
        # compactor (the async sink shape). Cross-PROCESS: a
        # ``trcli compact`` maintenance pass runs in its own process
        # against the same root (tasks/compact.py), where a
        # threading lock protects nothing — every manifest
        # read-modify-write additionally holds an fcntl.flock on
        # ``_LOCK``, directory versions are allocated through the
        # persisted ``_ALLOC`` high-water file (two processes can
        # never claim the same ``_v{n}``/``_d{n}`` name), and
        # allocated-but-uncommitted dirs are recorded in ``_ALLOC``'s
        # inflight ledger so the OTHER process's GC never reclaims a
        # parquet write in flight (code-review r8 finding 2). After a
        # crash the ledger entry expires (``CLAIM_TTL``) and the
        # orphan dir — referenced by no manifest — is swept as before.
        # Lock order is always mutex → flock; the flock is reentrant
        # per instance (depth-counted under the mutex).
        self._commit_mutex = threading.RLock()
        self._inflight: set[int] = set()
        self._fs_lock_fd: int | None = None
        self._fs_lock_depth = 0
        # adaptive full-churn shortcut (r10): when the last PROBED
        # batch touched ≥ threshold of the buckets, the next batches
        # skip the touched-probe job (touched = all buckets — always
        # correct, merely rewrites a few extra buckets) and re-probe
        # every rewrite_probe_every batches to re-calibrate. A small
        # batch over a big table probes once, sees low coverage, and
        # the shortcut never engages — scale-safe by construction.
        self.rewrite_full_threshold = 0.8
        self.rewrite_probe_every = 8
        self._full_churn_budget = 0
        self._full_churn_streak = 0
        os.makedirs(root, exist_ok=True)
        # the bucket function is part of the ON-DISK layout: reopening
        # with a different n_buckets would silently mis-bucket merges
        # (keys hash to manifest-absent buckets → lost updates), so the
        # stored metadata wins and a key mismatch is an error
        meta = self._load_meta()
        if meta is not None:
            if meta["keys"] != list(keys):
                raise ValueError(
                    f"table at {root} is keyed by {meta['keys']}, got {keys}"
                )
            self.n_buckets = int(meta["n_buckets"])
            self._schema_json = meta.get("schema")
        # the CURRENT manifest's recorded count wins over meta: the
        # manifest flip is the atomic commit point of a rebucket, and
        # _meta.json is rewritten BEFORE the new layout's parquet even
        # lands, so a crash in between must not resurrect that count
        self.n_buckets = self._manifest_doc()["n_buckets"]
        self._last_alloc = self.version()

    #: an ``_ALLOC`` inflight claim older than this is a crashed
    #: writer's leftover; its dir is referenced by no manifest and GC
    #: may reclaim it. Generous on purpose — a live fold only loses
    #: protection if its single parquet write outlasts this.
    CLAIM_TTL = 24 * 3600.0

    @contextlib.contextmanager
    def _fs_lock(self):
        """Cross-process advisory lock on the table root (reentrant
        per instance; callers already hold ``_commit_mutex``, which
        makes the depth counter safe). Serializes manifest
        read-modify-writes and version allocation against writers in
        OTHER processes — e.g. a ``trcli compact`` maintenance pass
        folding while the streaming process appends deltas."""
        if fcntl is None:  # pragma: no cover — non-POSIX fallback
            yield
            return
        if self._fs_lock_depth == 0:
            # open per outermost acquisition (closing the fd releases
            # the flock and avoids leaking one fd per table instance —
            # commits are parquet-write-scale, an open() is noise)
            fd = os.open(
                os.path.join(self.root, "_LOCK"),
                os.O_CREAT | os.O_RDWR,
            )
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
            except BaseException:
                # flock can fail (ENOLCK on NFS) or be interrupted
                # while blocked on another process — a retrying commit
                # path must not leak one fd per attempt
                os.close(fd)
                raise
            self._fs_lock_fd = fd
        self._fs_lock_depth += 1
        try:
            yield
        finally:
            self._fs_lock_depth -= 1
            if self._fs_lock_depth == 0:
                os.close(self._fs_lock_fd)
                self._fs_lock_fd = None

    @property
    def _alloc_path(self) -> str:
        return os.path.join(self.root, "_ALLOC")

    def _read_alloc(self) -> dict:
        try:
            with open(self._alloc_path) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {"last": -1, "inflight": {}}

    def _write_alloc(self, doc: dict) -> None:
        tmp = self._alloc_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, self._alloc_path)

    def _alloc_version(self) -> int:
        """Reserve the next data-directory version — unique across
        threads AND processes: the persisted high-water in ``_ALLOC``
        only ever advances, so a concurrent maintenance process can
        never claim a number this process is writing (and vice
        versa). The claim is recorded in the inflight ledger until
        the commit references the dir (or the write fails)."""
        with self._commit_mutex, self._fs_lock():
            alloc = self._read_alloc()
            n = max(self.version(), self._last_alloc, alloc["last"]) + 1
            self._last_alloc = n
            self._inflight.add(n)
            alloc["last"] = n
            alloc["inflight"][str(n)] = time.time()
            self._write_alloc(alloc)
            return n

    def _release_claim(self, n: int) -> None:
        """Drop a version claim (committed or failed). Callers hold
        the mutex+flock on the commit path; the failure path takes
        them here."""
        with self._commit_mutex, self._fs_lock():
            self._inflight.discard(n)
            alloc = self._read_alloc()
            if alloc["inflight"].pop(str(n), None) is not None:
                self._write_alloc(alloc)

    # ---------------------------------------------------------- layout

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.root, "_meta.json")

    def _load_meta(self) -> dict | None:
        try:
            with open(self._meta_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _save_meta(self, schema) -> None:
        self._schema_json = json.loads(schema.json())
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "keys": list(self.keys),
                    "n_buckets": self.n_buckets,
                    "schema": self._schema_json,
                },
                f,
            )
        os.replace(tmp, self._meta_path)

    def _stored_schema(self):
        from pyspark.sql import types as T

        if self._schema_json is None:
            return None
        return T.StructType.fromJson(self._schema_json)

    def _refresh_layout(self) -> None:
        """Re-resolve the on-disk layout after another process changed
        it (``rebucket``): current-manifest count wins, then meta —
        the same resolution order as opening the table."""
        meta = self._load_meta()
        if meta is not None:
            self.n_buckets = int(meta["n_buckets"])
            self._schema_json = meta.get("schema")
        self.n_buckets = self._manifest_doc()["n_buckets"]

    def _check_layout(self, doc: dict, cleanup_dir: str, claim: int):
        """Inside a locked commit section: if the manifest records a
        DIFFERENT bucket count than this writer used, the just-written
        parquet is bucketed by the wrong function — discard it and
        raise for the caller's refresh-retry."""
        cur_n = doc["n_buckets"]
        if cur_n != self.n_buckets:
            shutil.rmtree(cleanup_dir, ignore_errors=True)
            self._release_claim(claim)
            raise BucketLayoutChanged(
                f"table at {self.root} was re-bucketed to {cur_n} "
                f"buckets while this writer assumed {self.n_buckets}"
            )

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def version(self) -> int:
        try:
            with open(self._pointer) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def exists(self) -> bool:
        return self.version() >= 0

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self.root, f"_manifest_v{v}.json")

    def _manifest_doc(self, v: int | None = None) -> dict:
        """Full manifest document: ``buckets`` (bucket → base version),
        ``deltas`` (pending delta versions, oldest first),
        ``last_batch_id`` (replay watermark) and ``folded`` (bucket →
        highest delta version already folded into that bucket's base —
        the per-bucket compaction watermark; a delta applies to a
        bucket only when its version exceeds the bucket's entry).
        Before the first commit the document is empty and carries
        the instance's own bucket count."""
        v = self.version() if v is None else v
        if v < 0:
            return {
                "buckets": {}, "deltas": [], "last_batch_id": None,
                "folded": {}, "delta_sigs": {}, "delta_buckets": {},
                "n_buckets": self.n_buckets,
            }
        with open(self._manifest_path(v)) as f:
            raw = json.load(f)
        return {
            "buckets": {
                int(b): int(ver) for b, ver in raw["buckets"].items()
            },
            "deltas": [int(d) for d in raw["deltas"]],
            "last_batch_id": raw["last_batch_id"],
            "folded": {int(b): int(d) for b, d in raw["folded"].items()},
            # delta version → schema signature, recorded at append time
            # so reads can group same-schema versions into ONE parquet
            # scan (a fold over an 8-deep tail was paying 8 separate
            # read plans)
            "delta_sigs": {int(d): s for d, s in raw["delta_sigs"].items()},
            # delta version → exact touched-bucket set
            "delta_buckets": {
                int(d): [int(b) for b in bs]
                for d, bs in raw["delta_buckets"].items()
            },
            # the bucket count this manifest's layout was committed
            # under — the rebucket commit point
            "n_buckets": int(raw["n_buckets"]),
        }

    def manifest(self, v: int | None = None) -> dict[int, int]:
        return self._manifest_doc(v)["buckets"]

    def _bucket_dir(self, ver: int, bucket: int) -> str:
        return os.path.join(self.root, f"_v{ver}", f"{BUCKET_COL}={bucket}")

    def _delta_dir(self, ver: int) -> str:
        return os.path.join(self.root, f"_d{ver}")

    @staticmethod
    def _scan_delta_buckets(path: str) -> list[int]:
        """Exact touched-bucket set of a just-written delta: one
        driver-side pyarrow read of each file's bucket column (local
        one-column reads of micro-batch-sized files — no Spark job).
        Zero-row files are deleted on the way: Spark writes task 0's
        file even when that task got no rows, and a committed delta
        holds only files with rows."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        try:
            names = os.listdir(path)
        except FileNotFoundError:
            return []
        touched: set[int] = set()
        for name in names:
            if not name.endswith(".parquet"):
                continue
            with pq.ParquetFile(os.path.join(path, name)) as f:
                if f.metadata.num_rows:
                    col = f.read(columns=[BUCKET_COL]).column(0)
                    touched.update(pc.unique(col).to_pylist())
                    continue
            os.remove(os.path.join(path, name))
        return sorted(touched)

    def _pending_pairs(
        self, doc: dict, wanted: list[int] | set[int]
    ) -> list[tuple[int, list[int]]]:
        """``[(delta_version, buckets of `wanted` still pending it)]``
        honoring the per-bucket ``folded`` watermarks — manifest
        lookups only, no listing and no Spark job."""
        folded = doc["folded"]
        wanted_set = set(wanted)
        out: list[tuple[int, list[int]]] = []
        for d in doc["deltas"]:
            bs = [
                b
                for b in doc["delta_buckets"][d]
                if b in wanted_set and d > folded.get(b, -1)
            ]
            if bs:
                out.append((d, bs))
        return out

    def _bucket_of(self) -> F.Column:
        if self.n_buckets is None:
            raise ValueError(
                f"table at {self.root} has no bucket count yet — "
                "n_buckets=None resolves at the first write"
            )
        from transferia_spark.cdc.exprcache import cached_exprs

        n_bk = self.n_buckets
        ks = tuple(self.keys)
        return cached_exprs(
            ("bktexpr", ks, n_bk),
            lambda: F.pmod(
                F.xxhash64(*[F.col(k) for k in ks]), F.lit(n_bk)
            ).cast("int"),
        )

    def _ensure_buckets(self, df: DataFrame) -> None:
        """Resolve ``n_buckets=None`` from the first written frame's
        Catalyst plan-size statistics (~target_bucket_bytes per bucket,
        floor 16 so a small seed still leaves merge-amplification and
        pruning headroom as the table grows)."""
        if self.n_buckets is not None:
            return
        from transferia_spark.operators.corpus import derive_n_shards

        derived = derive_n_shards(
            df, target_bytes=self.target_bucket_bytes, fallback=16
        )
        self.n_buckets = min(max(16, derived), 65536)

    # ------------------------------------------------------------ read

    def read(
        self, buckets: list[int] | None = None, version: int | None = None
    ) -> DataFrame:
        """Read the current version, or a pinned ``version`` — valid as
        long as the pin is within the ``retention`` window (the reader
        lease): GC keeps every version dir referenced by the trailing
        ``retention`` manifests, so a reader holding manifest ``v`` sees
        stable paths while up to ``retention - 1`` commits land.

        Pending deltas resolve at scan time (merge-on-read): the base
        buckets and the delta tail flow through the same ``merge_batch``
        plan an eager merge would have used, ordered by the events' own
        ``(_lsn, _counter)`` — one key-shuffle over base ∪ deltas,
        bucket-pruned on both sides when ``buckets`` is given."""
        doc = self._manifest_doc(version)
        if version is None:
            # a current-version read on a long-lived instance must see
            # schema WIDENING another process committed (drift restart
            # appends nullable columns via _save_meta), same healing
            # contract as the bucket count below; one tiny JSON read
            # next to the manifest read this method already does
            meta = self._load_meta()
            if meta is not None and meta.get("schema"):
                self._schema_json = meta["schema"]
        m = doc["buckets"]
        # the bucket-id space is the MANIFEST's: a pinned version reads
        # under the count it was committed with, and a current-version
        # read on a long-lived instance heals a count another process's
        # rebucket changed underneath it
        doc_n = doc["n_buckets"]
        if version is None and doc_n != self.n_buckets:
            self._refresh_layout()
        # buckets with PENDING delta rows (a delta already folded into a
        # bucket's base no longer applies there) — ONE pass over the
        # tail, reused for the read's own pairs
        all_pairs = (
            self._pending_pairs(doc, range(doc_n)) if doc["deltas"] else []
        )
        delta_touched = {b for _, bs in all_pairs for b in bs}
        if not m and not delta_touched and buckets is None:
            raise FileNotFoundError(f"no current version in {self.root}")
        wanted = (
            sorted(set(m) | delta_touched) if buckets is None else buckets
        )
        wanted_set = set(wanted)
        pairs = [
            (d, kept)
            for d, bs in all_pairs
            if (kept := [b for b in bs if b in wanted_set])
        ]
        paths = [
            self._bucket_dir(m[b], b)
            for b in wanted
            if b in m and os.path.isdir(self._bucket_dir(m[b], b))
        ]
        # steady full-churn reads (every bucket at ONE version, the
        # version dir holding exactly those buckets) collapse to the
        # parent dir: one path instead of n_buckets paths (py4j
        # converts each path per read — profiled r12), with the
        # discovered partition column dropped. Stale sibling bucket
        # dirs from a superseded commit disqualify the shortcut.
        if len(paths) > 4 and len({m[b] for b in wanted if b in m}) == 1:
            v0 = m[next(b for b in wanted if b in m)]
            parent = os.path.join(self.root, f"_v{v0}")
            try:
                entries = set(os.listdir(parent))
            except OSError:
                entries = set()
            if {os.path.basename(p) for p in paths} == {
                e for e in entries if e.startswith(f"{BUCKET_COL}=")
            }:
                paths = [parent]
        schema = self._stored_schema()
        if not paths:
            # table exists but the wanted buckets hold no BASE rows
            # (fully deleted, or delta-only so far) — an empty frame
            # with the table schema, matching ParquetTable's
            # empty-after-delete behavior
            if schema is not None:
                base = self.spark.createDataFrame([], schema)
            elif pairs:
                raise FileNotFoundError(
                    f"table at {self.root} has pending deltas but no "
                    "stored schema — corrupt _meta.json?"
                )
            else:
                raise FileNotFoundError(
                    f"no data for buckets {wanted} in {self.root}"
                )
        elif schema is not None:
            # explicit schema: the footer schema-inference job cost one
            # Spark job on EVERY micro-batch merge (profiled r11); the
            # stored schema is authoritative — commits _save_meta it
            base = self.spark.read.schema(schema).parquet(*paths)
            if BUCKET_COL in base.columns:
                # parent-dir shortcut: partition discovery appended
                # the bucket dir column — data columns only here
                base = base.drop(BUCKET_COL)
        else:
            base = self.spark.read.parquet(*paths)
            if BUCKET_COL in base.columns:
                base = base.drop(BUCKET_COL)
        ddf = self._read_deltas(pairs, doc)
        if ddf is None:
            return base
        from transferia_spark.cdc.merge import merge_batch

        return merge_batch(_widen_to_batch(base, ddf), ddf, self.keys)

    def _read_deltas(
        self, pairs: list[tuple[int, list[int]]], doc: dict
    ) -> DataFrame | None:
        """Union the pending delta tail — ``pairs`` is
        ``[(delta_version, pending buckets)]`` from
        :meth:`_pending_pairs` — aligning versions by name — a later
        delta may carry different meta columns (``_toasted`` vs none)
        or a column subset.

        Deltas read with an EXPLICIT schema rebuilt from the append
        signature — no schema-inference footer job — and a per-version
        ``bkt IN (pending)`` filter: a bucket already folded for this
        delta must NOT re-apply (the fold dropped its meta columns, so
        re-reading would regress the base).

        Mixed payload column sets are aligned with an explicit
        ``_present`` marker per frame, NOT bare ``allowMissingColumns``
        NULL-fill: an unmarked column-subset batch means "those columns
        untouched" under the eager per-batch merge (``c not in has``
        keeps the target value), but a NULL-filled union would let the
        filled NULLs overwrite base values at read/compact time — a
        silent divergence from the rewrite-mode oracle (ADVICE r7)."""
        # group versions that share BOTH the schema signature and the
        # pending-bucket set into one multi-path scan: per-key ordering
        # comes from the rows' own (_lsn, _counter), never from file
        # order, so mixing versions in one read is sound — and a fold
        # over an 8-deep tail pays 1 read plan instead of 8. The bucket
        # filter is part of the plan, so only same-filter versions may
        # share a scan.
        groups: dict[tuple, list[int]] = {}
        for d, bs in pairs:
            key = (doc["delta_sigs"][d], tuple(sorted(bs)))
            groups.setdefault(key, []).append(d)
        frames = []
        for (sig, bs), members in groups.items():
            schema = T.StructType(
                [
                    T.StructField(n, T._parse_datatype_string(ts), True)
                    for n, ts in json.loads(sig)
                ]
                + [T.StructField(BUCKET_COL, T.IntegerType(), True)]
            )
            full = {b for d in members for b in doc["delta_buckets"][d]}
            f = self.spark.read.schema(schema).parquet(
                *[self._delta_dir(d) for d in members]
            )
            if set(bs) != full:
                # prune to still-pending buckets (sorted files →
                # row-group stats make this a cheap skip-scan)
                f = f.filter(F.col(BUCKET_COL).isin(list(bs)))
            frames.append(f.drop(BUCKET_COL))
        if not frames:
            return None
        from transferia_spark.cdc.changeitem import (
            PRESENT_COL,
            TOASTED_COL,
            payload_columns,
        )

        payload_sets = [set(payload_columns(f)) for f in frames]
        union_payload = set().union(*payload_sets)

        def _convention(f: DataFrame) -> str:
            if PRESENT_COL in f.columns:
                return "present"
            if TOASTED_COL in f.columns:
                return "toasted"
            return "full"

        conventions = {_convention(f) for f in frames}
        # rewrite to explicit per-frame _present markers when EITHER
        # the payload column sets differ (NULL-fill would turn "column
        # absent from the batch" into "set to NULL") OR the partial-row
        # conventions differ (NULL-filling one frame's _toasted flag —
        # or its _present list — under another frame's columns breaks
        # that frame's absence contract even with identical payloads;
        # code-review r8 finding 3)
        if (
            any(s != union_payload for s in payload_sets)
            or len(conventions) > 1
        ):
            frames = [_tag_frame_presence(f) for f in frames]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def _read_or_empty(self, buckets: list[int], schema) -> DataFrame:
        try:
            return self.read(buckets)
        except FileNotFoundError:
            return self.spark.createDataFrame([], schema)

    # ----------------------------------------------------------- write

    def merge(
        self,
        batch: DataFrame,
        toast_aware: bool | None = None,
        batch_id: int | None = None,
        fold: bool = True,
    ) -> int:
        """Apply one ChangeItem batch.

        ``merge_mode="rewrite"``: eager — rewrite only touched buckets.
        ``merge_mode="delta"``: O(|batch|) append; under the
        ``incremental`` policy the buckets that came due fold after it
        unless ``fold=False``. ``batch_id`` (when the caller is a
        streaming sink) is a replay watermark: a batch at or below the
        last appended id is already durable and skips."""
        if self.merge_mode == "delta":
            # delta mode resolves partial rows at READ time from the
            # batch's own markers (_toasted/_present ride the delta
            # files); an explicit toast_aware that contradicts the
            # markers is unrepresentable there — rejecting it loudly
            # beats silently dropping it (r7 verdict item 10)
            from transferia_spark.cdc.changeitem import has_partial_rows

            if toast_aware is not None and toast_aware != has_partial_rows(
                batch
            ):
                raise ValueError(
                    "merge_mode='delta' derives partial-row handling "
                    "from the batch's own _toasted/_present markers at "
                    f"read time; toast_aware={toast_aware} contradicts "
                    "the batch (markers "
                    f"{'present' if has_partial_rows(batch) else 'absent'}"
                    ") and cannot be honored — attach or drop the "
                    "markers instead of passing toast_aware"
                )
            try:
                v = self.append_delta(batch, batch_id=batch_id)
            except BucketLayoutChanged:
                # a cross-process rebucket landed mid-write: re-resolve
                # the layout and re-bucket the batch (once — rebuckets
                # are rare maintenance events, not races)
                self._refresh_layout()
                v = self.append_delta(batch, batch_id=batch_id)
            # fold=False: the caller runs compaction itself (the apply
            # sink folds in a background thread between batches)
            if fold and self.compact_policy == "incremental":
                due = self._buckets_due()
                if due:
                    v = self.compact_buckets(due)
            return v
        # eager path: fold any pending deltas FIRST (clearing them) —
        # merging on top of a delta-resolved read without clearing
        # would re-apply the tail on the next read (double-apply)
        if self._manifest_doc()["deltas"]:
            self.compact()
        try:
            return self._merge_rewrite(batch, toast_aware=toast_aware)
        except BucketLayoutChanged:
            self._refresh_layout()
            return self._merge_rewrite(batch, toast_aware=toast_aware)

    def _merge_rewrite(
        self, batch: DataFrame, toast_aware: bool | None = None
    ) -> int:
        """Eager bucket-scoped MERGE; rewrites only touched buckets."""
        from transferia_spark.cdc.changeitem import META_COLS
        from pyspark.sql import types as T

        derived_now = self.n_buckets is None
        self._ensure_buckets(batch)
        stored = self._stored_schema()
        if stored is not None:
            # normalize key dtypes to the table's: xxhash64 is
            # TYPE-SENSITIVE, so an int batch key vs a bigint stored
            # key would compute `touched` buckets that disagree with
            # the buckets _commit assigns to the merged (widened) rows
            # — committed rows the manifest never points at
            types = {f.name: f.dataType for f in stored.fields}
            for k in self.keys:
                if k in types and batch.schema[k].dataType != types[k]:
                    batch = batch.withColumn(k, F.col(k).cast(types[k]))
        if self._full_churn_budget > 0:
            # adaptive full-churn shortcut: the last probe saw ≥
            # threshold coverage, so skip the touched-probe job
            # entirely (one Spark job per batch instead of two; the
            # batch flows ONCE, straight into the merge plan).
            # touched = every bucket is always CORRECT — unchanged
            # buckets rewrite byte-identical content — and under real
            # full churn it is also exact. An empty batch here rewrites
            # identical content once — deliberately NOT guarded by
            # isEmpty: measured, the first-row probe on a Python-
            # datasource-backed frame costs a full job wave and ate the
            # shortcut's entire win. The waste is bounded: a stream
            # with no new offsets plans no batches at all, so empties
            # only arise from filtered/replayed bursts, and the
            # re-probe (≤ rewrite_probe_every-1 batches away) sees low
            # coverage and disengages.
            self._full_churn_budget -= 1
            return self._merge_touched(
                batch, list(range(self.n_buckets)), stored, toast_aware,
            )
        # the batch feeds two jobs (touched-bucket collect + the merge
        # write); persist so an upstream transformation chain isn't
        # recomputed per job
        batch = batch.persist()
        try:
            # touched buckets come from the AFTER-image keys AND from
            # the pre-image keys of PK-changing updates: collapse
            # rewrites those to delete(old)+insert(new), and the delete
            # lands in the OLD key's bucket — omitting it left the
            # stale row alive (caught by the binlog→pipeline
            # integration test)
            bucket_sources = batch.select(self._bucket_of().alias(BUCKET_COL))
            from transferia_spark.cdc.changeitem import BEFORE_COL

            if BEFORE_COL in batch.columns:
                types = (
                    {f.name: f.dataType for f in stored.fields}
                    if stored is not None
                    else {f.name: f.dataType for f in batch.schema.fields}
                )
                before_bucket = F.pmod(
                    F.xxhash64(
                        *[
                            F.col(f"{BEFORE_COL}.{k}").cast(types[k])
                            if k in types
                            else F.col(f"{BEFORE_COL}.{k}")
                            for k in self.keys
                        ]
                    ),
                    F.lit(self.n_buckets),
                ).cast("int")
                bucket_sources = bucket_sources.union(
                    batch.filter(F.col(BEFORE_COL).isNotNull()).select(
                        before_bucket.alias(BUCKET_COL)
                    )
                )
            touched = sorted(
                r[0]
                for r in bucket_sources.distinct().collect()
                # ≤ n_buckets small ints — bounded by design
            )
            if not touched:
                if derived_now:
                    # see append_delta: an empty batch must not pin
                    # the auto-derived bucket count
                    self.n_buckets = None
                return self.version()
            if len(touched) >= self.rewrite_full_threshold * self.n_buckets:
                # calibrated: churn is table-wide. TWO consecutive
                # high-coverage probes engage the shortcut (a single
                # full batch followed by tiny ones must keep pruning
                # — the only-touched-buckets contract), then the next
                # batches skip the probe until the re-calibration.
                self._full_churn_streak += 1
                if self._full_churn_streak >= 2:
                    self._full_churn_budget = max(
                        0, self.rewrite_probe_every - 1
                    )
            else:
                self._full_churn_streak = 0
                self._full_churn_budget = 0
            return self._merge_touched(batch, touched, stored, toast_aware)
        finally:
            batch.unpersist()

    def _merge_touched(
        self, batch: DataFrame, touched: list[int], stored, toast_aware
    ) -> int:
        """The merge-and-commit tail shared by the probe and
        full-churn paths: one-exchange merge (r10) — union target∪net,
        ONE repartition on the bucket column, groupBy(bkt, keys)
        pairing. The join formulation shuffled the touched buckets
        twice (key join + bucket write); this plan shuffles them once
        and the write adds no exchange."""
        from transferia_spark.cdc.changeitem import META_COLS
        from transferia_spark.cdc.merge import merge_batch_clustered

        # schema for empty/never-written buckets: the STORED table
        # schema (a column-subset TOAST batch must not narrow a
        # bucket's files relative to the rest of the table)
        data_schema = stored or T.StructType(
            [f for f in batch.schema.fields if f.name not in META_COLS]
        )
        target = self._read_or_empty(touched, data_schema)
        target = _widen_to_batch(target, batch)
        ks = list(self.keys)
        cluster = self._bucket_of()  # cached (exprcache)
        merged = merge_batch_clustered(
            target, batch, ks, BUCKET_COL,
            lambda df: cluster,
            len(touched),
            toast_aware=toast_aware,
        )
        return self._commit(merged, touched, pre_bucketed=True)

    def overwrite(self, df: DataFrame) -> int:
        """Full rewrite (initial snapshot load): every bucket. Pending
        deltas are superseded by the new content and cleared, and the
        replay watermark resets — ``last_batch_id`` is scoped to ONE
        checkpoint lineage, and a snapshot seed starts a new epoch: a
        re-activated stream with a fresh checkpoint restarts batch ids
        at 0, and a carried-forward watermark would silently skip every
        batch until the ids caught up (r7 verdict item 5)."""
        self._ensure_buckets(df)
        try:
            return self._commit(
                df, list(range(self.n_buckets)), clear_deltas=True,
                reset_batch_id=True,
            )
        except BucketLayoutChanged:
            # a cross-process rebucket landed mid-write: a snapshot
            # seed must refresh and retry like merge() does, not abort
            # the activation
            self._refresh_layout()
            return self._commit(
                df, list(range(self.n_buckets)), clear_deltas=True,
                reset_batch_id=True,
            )

    # ------------------------------------------------- merge-on-read

    def append_delta(
        self, batch: DataFrame, batch_id: int | None = None
    ) -> int:
        """Commit one ChangeItem batch as a delta — O(|batch|), no base
        read, and exactly ONE Spark job: the batch's own partitions are
        sorted by (bucket, keys) and written as they are, one file per
        input partition, with no exchange and no commit markers.
        PK-changing updates are normalized to delete(old)+insert(new)
        HERE so every delta row lands in exactly one bucket and
        per-bucket reads stay self-contained."""
        from transferia_spark.cdc.changeitem import META_COLS
        from transferia_spark.cdc.collapse import normalize_pk_changes

        doc = self._manifest_doc()
        if (
            batch_id is not None
            and doc["last_batch_id"] is not None
            and batch_id <= doc["last_batch_id"]
        ):
            return self.version()  # replayed micro-batch: already durable
        derived_now = self.n_buckets is None
        self._ensure_buckets(batch)
        stored = self._stored_schema()
        if stored is not None:
            # normalize key dtypes to the table's (xxhash64 is
            # type-sensitive — see merge)
            types = {f.name: f.dataType for f in stored.fields}
            for k in self.keys:
                if k in types and batch.schema[k].dataType != types[k]:
                    batch = batch.withColumn(k, F.col(k).cast(types[k]))
        batch = normalize_pk_changes(batch, self.keys)
        new_v = self._alloc_version()
        sig = json.dumps(
            sorted((f.name, f.dataType.simpleString()) for f in batch.schema)
        )
        # the bucket rides as a DATA COLUMN (a partitionBy write pays a
        # file create + commit per touched bucket); sorting by (bucket,
        # keys) lets row-group stats prune per-bucket reads, and the
        # manifest records the EXACT touched set (_scan_delta_buckets,
        # local footer reads). No repartition: a range exchange
        # samples its input — a second job re-running the Python-source
        # decode — and an extra job per micro-batch costs more than
        # better-clustered files save on reads. No markers: the
        # manifest flip below is the commit point; nothing reads them.
        out = batch.withColumn(BUCKET_COL, self._bucket_of())
        out = out.sortWithinPartitions(
            F.col(BUCKET_COL), *[F.col(k) for k in self.keys]
        )
        try:
            out.write.save(
                self._delta_dir(new_v), "parquet", "overwrite",
                **_DELTA_WRITE_OPTIONS,
            )
            touched = self._scan_delta_buckets(self._delta_dir(new_v))
        except BaseException:
            # release the reserved version; a partial dir is never
            # referenced and the next GC (post-release) sweeps it
            shutil.rmtree(self._delta_dir(new_v), ignore_errors=True)
            self._release_claim(new_v)
            raise
        if not touched:
            # empty micro-batch: nothing to record (replaying an empty
            # batch appends nothing either way, so the watermark need
            # not advance)
            if derived_now:
                # n_buckets='auto' must resolve from the first REAL
                # batch's size stats, not an empty startup trigger's
                # floor (code-review r9)
                self.n_buckets = None
            shutil.rmtree(self._delta_dir(new_v), ignore_errors=True)
            with self._commit_mutex, self._fs_lock():
                self._release_claim(new_v)
            return self.version()
        if stored is None:
            # first-ever commit is a delta: the payload schema becomes
            # the table schema (a later overwrite/compact may widen it)
            self._save_meta(
                T.StructType(
                    [
                        f
                        for f in batch.schema.fields
                        if f.name not in META_COLS
                    ]
                )
            )
        with self._commit_mutex, self._fs_lock():
            # re-read under the mutex: a background fold may have
            # committed while the parquet write ran — its folded
            # watermarks and pruned delta list must carry into this
            # manifest, and vice versa this delta (allocated AFTER the
            # fold started) is above every fold watermark, so reads
            # apply it on top of the folded base
            doc = self._manifest_doc()
            self._check_layout(doc, self._delta_dir(new_v), new_v)
            manifest_v = self.version() + 1
            self._write_manifest(
                manifest_v,
                doc["buckets"],
                deltas=doc["deltas"] + [new_v],
                last_batch_id=batch_id
                if batch_id is not None
                else doc["last_batch_id"],
                folded=doc["folded"],
                delta_sigs={**doc["delta_sigs"], new_v: sig},
                delta_buckets={**doc["delta_buckets"], new_v: touched},
            )
            self._release_claim(new_v)
            trash = self._gc(keep=self.retention)
        self._sweep_trash(trash)
        return manifest_v

    def compact(self) -> int:
        """Fold the whole pending delta tail into the base buckets it
        touches — one commit, crash-safe like any other: a crash
        mid-fold leaves the previous manifest (base + deltas + folded
        watermarks) fully intact. Delegates to :meth:`compact_buckets`
        over every bucket: its per-bucket watermark commit is safe
        against deltas appended concurrently by the streaming thread
        (a blanket clear here would silently drop them)."""
        doc = self._manifest_doc()
        # pending-pairs ranges and the empty-pairs manifest write below
        # both assume the CURRENT layout: a stale instance scanning
        # range(old_n) would miss deltas in buckets above it — and the
        # bookkeeping commit would both drop them and stamp the stale
        # count into the manifest (code-review r8 session-2 finding 1)
        if doc["n_buckets"] != self.n_buckets:
            self._refresh_layout()
        if not doc["deltas"]:
            return self.version()
        pairs = self._pending_pairs(doc, range(self.n_buckets))
        if not pairs:
            # empty or fully-folded deltas — clear the bookkeeping,
            # preserving anything appended since the check
            with self._commit_mutex, self._fs_lock():
                doc = self._manifest_doc()
                if doc["n_buckets"] != self.n_buckets:
                    # a rebucket slipped in before the lock: re-resolve
                    # and rescan under the real layout
                    self._refresh_layout()
                still = self._pending_pairs(doc, range(self.n_buckets))
                keep = sorted({d for d, _ in still})
                new_v = self.version() + 1
                self._write_manifest(
                    new_v, doc["buckets"], deltas=keep,
                    last_batch_id=doc["last_batch_id"],
                    folded=doc["folded"] if keep else {},
                    delta_sigs=doc["delta_sigs"],
                    delta_buckets=doc["delta_buckets"],
                )
                trash = self._gc(keep=self.retention)
            self._sweep_trash(trash)
            return new_v
        return self.compact_buckets(list(range(self.n_buckets)))

    def compact_buckets(self, buckets: list[int]) -> int:
        """Fold the pending delta tail for ONLY the given buckets into
        their base files (per-bucket ``folded`` watermarks advance; the
        delta files stay on disk until every bucket they touch has
        folded them, then age out of the manifest and GC). This is the
        out-of-band compaction unit: a maintenance pass — or the
        incremental policy between micro-batches — folds a few buckets
        at a time instead of stalling the apply path on a full-table
        fold (r7 verdict item 4)."""
        attempts = 8
        for i in range(attempts):
            try:
                return self._compact_buckets_once(buckets)
            except BucketLayoutChanged:
                # a cross-process rebucket folded and cleared the tail
                # as part of its rewrite; anything appended after it
                # uses the new id space. Retry over EVERY bucket of the
                # new layout: compact()'s fold-everything guarantee
                # feeds merge()'s eager path, which commits a
                # delta-resolved base on the assumption the tail is
                # clear — folding only the staggered due-set here would
                # let the leftover tail double-apply on the next read
                # (code-review r8 session-2 finding 3)
                self._refresh_layout()
                buckets = list(range(self.n_buckets))
                # same contract as StaleBaseFold below: falling off
                # the loop would return None and let the eager merge
                # treat the tail as folded (code-review r9)
                if i == attempts - 1:
                    raise
            except StaleBaseFold:
                # a concurrent fold committed one of our buckets while
                # this fold read the (now-stale) base — re-read and
                # refold. Each retry starts from the other fold's
                # committed state, so two overlapping folders converge
                # instead of losing rows; bounded because folds are
                # maintenance-paced, not a steady stream
                if i == attempts - 1:
                    raise

    def _compact_buckets_once(self, buckets: list[int]) -> int:
        doc = self._manifest_doc()
        pairs = self._pending_pairs(doc, buckets)
        if not pairs:
            return self.version()
        touched = sorted({b for _, bs in pairs for b in bs})
        ddf = self._read_deltas(pairs, doc)
        if ddf is None:
            return self.version()
        from transferia_spark.cdc.changeitem import META_COLS
        from transferia_spark.cdc.merge import merge_batch_clustered

        data_schema = self._stored_schema() or T.StructType(
            [f for f in ddf.schema.fields if f.name not in META_COLS]
        )
        # the base this fold merges onto, by version — _commit verifies
        # these are STILL the committed versions inside its locked
        # section (a concurrent fold of the same buckets would
        # otherwise be silently rolled back, ADVICE r8)
        expected_base = {b: doc["buckets"].get(b) for b in touched}
        target = self._read_base_or_empty(
            touched, data_schema, bucket_map=doc["buckets"]
        )
        # the fold uses the same ONE-exchange merge the eager path does
        # (r10): the join formulation shuffled the folded buckets twice
        # (key join + bucket write) — folds run per-batch under the
        # incremental policy, so they're on the steady-state cost path
        ks = list(self.keys)
        target = _widen_to_batch(target, ddf)
        cluster = self._bucket_of()  # cached (exprcache)
        merged = merge_batch_clustered(
            target, ddf, ks, BUCKET_COL,
            lambda df: cluster,
            len(touched),
        )
        folded_update = {
            b: max(d for d, bs in pairs if b in bs) for b in touched
        }
        return self._commit(
            merged, touched, folded_update=folded_update,
            expected_base=expected_base, pre_bucketed=True,
        )

    def _buckets_due(self) -> list[int]:
        """Buckets whose pending-delta count reached their threshold.

        Thresholds are STAGGERED per bucket across
        [max_deltas, 2·max_deltas) (``max_deltas + b % max_deltas``):
        under uniform churn every batch touches every bucket, so a
        single shared threshold would make all buckets come due on the
        same batch — the exact every-Nth-batch full-table spike this
        policy removes. Staggering desynchronizes the folds into a
        steady ~n_buckets/max_deltas per batch, and the average fold
        period (~1.5·max_deltas) makes the AMORTIZED fold work
        table/(1.5·max_deltas) per batch — less than a whole-table fold
        every max_deltas-th batch, not just smoother. The worst-case
        pending tail a read pays is < 2·max_deltas."""
        doc = self._manifest_doc()
        if not doc["deltas"]:
            return []
        folded = doc["folded"]
        counts: dict[int, int] = {}
        for d in doc["deltas"]:
            for b in doc["delta_buckets"][d]:
                if d > folded.get(b, -1):
                    counts[b] = counts.get(b, 0) + 1
        md = self.max_deltas
        return sorted(
            b for b, c in counts.items() if c >= md + (b % md)
        )

    # --------------------------------------------------- rebucket

    def base_bytes(self) -> int:
        """Total bytes of the current base parquet files (driver-side
        directory listing — maintenance-path only, one listdir per
        bucket)."""
        total = 0
        for b, v in self.manifest().items():
            d = self._bucket_dir(v, b)
            try:
                for n in os.listdir(d):
                    try:
                        total += os.path.getsize(os.path.join(d, n))
                    except OSError:
                        pass
            except FileNotFoundError:
                pass
        return total

    def recommended_n_buckets(self) -> int:
        """The bucket count the CURRENT base size calls for: the
        smallest power-of-two multiple of the current count that puts
        ~``target_bucket_bytes`` in each bucket — or the current count
        while the table still fits (growth triggers only past 2× the
        target per bucket: hysteresis so a table hovering at the
        boundary doesn't thrash). Never recommends shrinking — an
        over-provisioned count costs small files, not correctness, and
        a deliberate shrink can be passed to :meth:`rebucket`
        explicitly."""
        if self.n_buckets is None:
            raise ValueError(
                f"table at {self.root} has no bucket count yet"
            )
        total = self.base_bytes()
        if total <= 2 * self.target_bucket_bytes * self.n_buckets:
            return self.n_buckets
        n = self.n_buckets
        while n * self.target_bucket_bytes < total and n < 65536:
            n *= 2
        return min(n, 65536)

    def rebucket(self, new_n_buckets: int | None = None) -> int:
        """Change the bucket count of an existing table — the
        maintenance answer to a table that outgrew its creation-time
        layout (a CDC target seeded with a small snapshot keeps
        absorbing rows; with a fixed count, per-bucket size grows
        without bound and every touched-bucket rewrite with it).

        ``new_n_buckets=None`` sizes from :meth:`recommended_n_buckets`
        (no-op while the table still fits). The bucket function is part
        of the on-disk layout, so this is a full rewrite: pending
        deltas fold first, then every row rewrites under the new
        function in ONE versioned commit — crash-safe like any commit
        (the manifest flip is the atomic point; the manifest records
        the count it was committed under, so a crash between the
        _meta.json rewrite and the flip resurrects nothing). Readers
        holding the previous manifest keep their lease; WRITERS in
        other processes block on the table lock for the duration, and
        one that already measured its batch against the old layout
        discards, refreshes and retries (``BucketLayoutChanged`` — see
        ``_check_layout``). The reference's analog is re-sharding a
        target by rewriting through a staging table; ClickHouse-shape
        deployments carry the same constraint (the sharding key is the
        physical layout, ``clickhouse/sink_shard.go``)."""
        with self._commit_mutex, self._fs_lock():
            if not self.exists():
                raise FileNotFoundError(
                    f"no current version in {self.root} — rebucket "
                    "operates on an existing table"
                )
            # another process may have re-laid the table out since this
            # instance opened it: resolve the REAL current count before
            # deciding no-op vs rewrite (a stale old_n would also make
            # the pre-rewrite compact() scan the wrong id range)
            self._refresh_layout()
            old_n = self.n_buckets
            target = (
                int(new_n_buckets)
                if new_n_buckets is not None
                else self.recommended_n_buckets()
            )
            if not 1 <= target <= 65536:
                raise ValueError(
                    f"new_n_buckets must be in [1, 65536], got {target}"
                )
            if target == old_n:
                return self.version()
            # fold the pending tail first: the rewrite below reads
            # base-only paths, and delta files bucketed by the OLD
            # function must not survive into the new layout
            self.compact()
            df = self.read()  # base only now; lazy — scanned by _commit
            self.n_buckets = target
            try:
                return self._commit(
                    df,
                    list(range(target)),
                    clear_deltas=True,
                    replace_buckets=True,
                )
            except BaseException:
                self.n_buckets = old_n
                raise

    def _read_base_or_empty(
        self, buckets: list[int], schema, bucket_map: dict | None = None
    ) -> DataFrame:
        """Base buckets only — compaction must NOT read through the
        delta-resolving ``read()`` (the fold itself applies the tail).
        ``bucket_map`` pins the bucket→version map to the manifest the
        caller already read, so the versions read here are exactly the
        ones its ``expected_base`` guard re-checks at commit."""
        m = bucket_map if bucket_map is not None else self.manifest()
        paths = [
            self._bucket_dir(m[b], b)
            for b in buckets
            if b in m and os.path.isdir(self._bucket_dir(m[b], b))
        ]
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(*paths)

    # ---------------------------------------------------------- commit

    def _commit(
        self,
        df: DataFrame,
        touched: list[int],
        clear_deltas: bool = False,
        reset_batch_id: bool = False,
        folded_update: dict[int, int] | None = None,
        replace_buckets: bool = False,
        expected_base: dict[int, int | None] | None = None,
        pre_bucketed: bool = False,
    ) -> int:
        if pre_bucketed:
            # the merge plan already carries BUCKET_COL and is hash-
            # partitioned on it (merge_batch_clustered) — re-deriving
            # and re-shuffling here would add the exchange that plan
            # exists to avoid. _save_meta must not record the bucket
            # column as data.
            self._save_meta(
                T.StructType(
                    [f for f in df.schema.fields if f.name != BUCKET_COL]
                )
            )
            new_v = self._alloc_version()
            path = os.path.join(self.root, f"_v{new_v}")
            from transferia_spark.cdc.exprcache import (
                cached_exprs,
                fast_sort_within,
            )

            sort_cols = cached_exprs(
                ("bktsort", tuple(self.keys)),
                lambda: [F.col(BUCKET_COL)]
                + [F.col(k) for k in self.keys],
            )
            try:
                (
                    fast_sort_within(
                        df, sort_cols, ("bktsort", tuple(self.keys))
                    )
                    .write.mode("overwrite")
                    .partitionBy(BUCKET_COL)
                    .parquet(path)
                )
            except BaseException:
                shutil.rmtree(path, ignore_errors=True)
                self._release_claim(new_v)
                raise
            return self._commit_manifest(
                path, new_v, touched, clear_deltas, reset_batch_id,
                folded_update, replace_buckets, expected_base,
            )
        self._save_meta(df.schema)
        new_v = self._alloc_version()
        path = os.path.join(self.root, f"_v{new_v}")
        try:
            (
                df.withColumn(BUCKET_COL, self._bucket_of())
                # align writers with buckets: a dynamic partitionBy
                # write from S shuffle partitions emits up to
                # S×|touched| files per version (file-commit overhead
                # dominated the CDC bench at small batches; at scale it
                # is read amplification for every later merge of the
                # same bucket). One narrow repartition on the bucket
                # column makes it one file per touched bucket per
                # version — a bucket is sized to ~one executor scan
                # budget, so one writer per bucket is the intended
                # parallelism.
                .repartition(max(len(touched), 1), F.col(BUCKET_COL))
                # key-sorted within each bucket file: parquet row-group
                # min/max stats then prune selective key scans, and
                # sorted keys delta-encode (smaller files). No extra
                # exchange — the sort rides the repartition's
                # partitions; at bucket sizes (~1 GB) it's in-memory.
                # BUCKET_COL leads the order: a dynamic partitionBy
                # write REQUIRES ordering by the partition column, so a
                # keys-only sort would get a second planner-inserted
                # sort by bkt on top (whose stability is not
                # contractual — the key clustering could silently
                # vanish while still paying for the first sort)
                .sortWithinPartitions(
                    F.col(BUCKET_COL), *[F.col(k) for k in self.keys]
                )
                .write.mode("overwrite")
                .partitionBy(BUCKET_COL)
                .parquet(path)
            )
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            self._release_claim(new_v)
            raise
        return self._commit_manifest(
            path, new_v, touched, clear_deltas, reset_batch_id,
            folded_update, replace_buckets, expected_base,
        )

    def _commit_manifest(
        self,
        path: str,
        new_v: int,
        touched: list[int],
        clear_deltas: bool = False,
        reset_batch_id: bool = False,
        folded_update: dict[int, int] | None = None,
        replace_buckets: bool = False,
        expected_base: dict[int, int | None] | None = None,
    ) -> int:
        # a bucket whose rows were all deleted writes no dir; it still
        # moves to new_v in the manifest (read() tolerates the absence)
        with self._commit_mutex, self._fs_lock():
            # re-read under the mutex: deltas appended by the streaming
            # thread while this (possibly background) fold wrote its
            # parquet must survive into the new manifest — they were
            # allocated ABOVE every folded watermark, so reads apply
            # them on top of the folded base
            doc = self._manifest_doc()
            if replace_buckets:
                # rebucket: the id space changed, so the whole map is
                # rebuilt (a shrink would otherwise leave stale
                # entries above the new count pointing at old rows)
                m = {b: new_v for b in touched}
            else:
                self._check_layout(doc, path, new_v)
                if expected_base is not None:
                    stale = [
                        b
                        for b in touched
                        if doc["buckets"].get(b) != expected_base.get(b)
                    ]
                    if stale:
                        # a concurrent fold committed these buckets
                        # after our base read — committing would roll
                        # them back past its rows. Discard and let the
                        # caller refold from the fresh manifest.
                        shutil.rmtree(path, ignore_errors=True)
                        self._release_claim(new_v)
                        raise StaleBaseFold(
                            f"buckets {stale} of table at {self.root} "
                            "were folded concurrently; refolding from "
                            "the current manifest"
                        )
                m = doc["buckets"]
                for b in touched:
                    m[b] = new_v
            if clear_deltas:
                new_deltas: list[int] = []
                new_folded: dict[int, int] = {}
            elif folded_update:
                # never DOWNGRADE a watermark: with the expected_base
                # guard a lower update can't reach here from a fold,
                # but max() keeps the invariant local and unconditional
                new_folded = dict(doc["folded"])
                for b, d in folded_update.items():
                    new_folded[b] = max(d, new_folded.get(b, -1))
                # a delta stays listed while ANY bucket it touches
                # still pends it; fully-folded deltas age out (and GC
                # reclaims their dirs once outside the retention
                # manifests)
                new_deltas = [
                    d
                    for d in doc["deltas"]
                    if any(
                        d > new_folded.get(b, -1)
                        for b in doc["delta_buckets"][d]
                    )
                ]
                if new_deltas:
                    floor = min(new_deltas)
                    # watermarks below every remaining delta gate
                    # nothing
                    new_folded = {
                        b: d for b, d in new_folded.items() if d >= floor
                    }
                else:
                    new_folded = {}
            else:
                new_deltas, new_folded = doc["deltas"], doc["folded"]
            manifest_v = self.version() + 1
            self._write_manifest(
                manifest_v,
                m,
                deltas=new_deltas,
                last_batch_id=None
                if reset_batch_id
                else doc["last_batch_id"],
                folded=new_folded,
                delta_sigs=doc["delta_sigs"],  # pruned to live on write
                delta_buckets=doc["delta_buckets"],
            )
            self._release_claim(new_v)
            trash = self._gc(keep=self.retention)
        self._sweep_trash(trash)
        return manifest_v

    def _write_manifest(
        self,
        new_v: int,
        buckets: dict[int, int],
        deltas: list[int],
        last_batch_id: int | None,
        folded: dict[int, int] | None = None,
        delta_sigs: dict[int, str] | None = None,
        delta_buckets: dict[int, list[int]] | None = None,
    ) -> None:
        live = set(deltas)
        tmp = self._manifest_path(new_v) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "buckets": {str(b): v for b, v in buckets.items()},
                    "deltas": deltas,
                    "last_batch_id": last_batch_id,
                    "folded": {
                        str(b): d for b, d in (folded or {}).items()
                    },
                    "delta_sigs": {
                        str(d): s
                        for d, s in (delta_sigs or {}).items()
                        if d in live
                    },
                    "delta_buckets": {
                        str(d): bs
                        for d, bs in (delta_buckets or {}).items()
                        if d in live
                    },
                    "n_buckets": self.n_buckets,
                },
                f,
            )
        os.replace(tmp, self._manifest_path(new_v))
        ptmp = self._pointer + ".tmp"
        with open(ptmp, "w") as f:
            f.write(str(new_v))
        os.replace(ptmp, self._pointer)  # atomic flip

    def _gc(self, keep: int) -> list[str]:
        """Drop version/delta dirs no manifest in the retention window
        references, and manifests older than the window.

        Runs inside the commit's mutex+flock, so the expensive part —
        recursively unlinking a version dir (one file per bucket; at
        scale thousands of syscalls) — must not happen here: doomed
        dirs are RENAMED to ``_trash_*`` (one atomic syscall each,
        invisible to every reader and allocator) and returned; the
        caller deletes them after releasing the locks. Pre-existing
        ``_trash_*`` dirs (a caller crashed mid-sweep) are picked up
        too. Trash names never collide: versions are never reused
        (the ``_ALLOC`` high-water only advances)."""
        cur = self.version()
        live: set[int] = set()
        live_deltas: set[int] = set()
        kept_manifests = [v for v in range(max(0, cur - keep + 1), cur + 1)]
        for v in kept_manifests:
            try:
                doc = self._manifest_doc(v)
            except FileNotFoundError:
                continue
            live.update(doc["buckets"].values())
            live.add(v)
            live_deltas.update(doc["deltas"])
        # an allocated-but-uncommitted version (a background fold's
        # parquet write in flight) is referenced by no manifest yet —
        # it must survive this sweep. The in-process set covers this
        # process's writers; the persisted ``_ALLOC`` ledger covers a
        # CONCURRENT MAINTENANCE PROCESS's in-flight write (code-review
        # r8 finding 2: a trcli-compact fold must not be swept by the
        # streaming process's GC). Crashed writers' claims expire after
        # CLAIM_TTL and their orphan dirs are reclaimed as before.
        live |= self._inflight
        live_deltas |= self._inflight
        alloc = self._read_alloc()
        now = time.time()
        expired = [
            k for k, ts in alloc["inflight"].items()
            if now - ts > self.CLAIM_TTL
        ]
        if expired:
            for k in expired:
                del alloc["inflight"][k]
            self._write_alloc(alloc)  # caller holds mutex+flock
        claimed = {int(k) for k in alloc["inflight"]}
        live |= claimed
        live_deltas |= claimed
        trash: list[str] = []

        def _condemn(name: str) -> None:
            path = os.path.join(self.root, name)
            dest = os.path.join(self.root, f"_trash{name}")
            try:
                os.rename(path, dest)
            except OSError:
                return  # already condemned/removed by a racer
            trash.append(dest)

        for name in os.listdir(self.root):
            if name.startswith("_trash"):
                trash.append(os.path.join(self.root, name))
            elif (
                name.startswith("_v")
                and name[2:].isdigit()
                and int(name[2:]) not in live
            ):
                _condemn(name)
            elif (
                name.startswith("_d")
                and name[2:].isdigit()
                and int(name[2:]) not in live_deltas
            ):
                _condemn(name)
            elif name.startswith("_manifest_v"):
                mv = int(name[len("_manifest_v"):].split(".")[0])
                if mv not in kept_manifests:
                    os.remove(os.path.join(self.root, name))
        return trash

    @staticmethod
    def _sweep_trash(trash: list[str]) -> None:
        """Delete condemned dirs — called OUTSIDE the commit locks."""
        for path in trash:
            shutil.rmtree(path, ignore_errors=True)


class BucketedCdcApplySink:
    """foreachBatch sink over a ``BucketedParquetTable`` — the repo's
    CDC apply path. At-least-once delivery from the checkpointed source
    plus this idempotent MERGE gives the reference's delivery contract
    (``docs/concepts/replication-techniques.md``): re-applying a batch
    yields the same table state.

    For a delta-mode table with the incremental policy, compaction runs
    in a BACKGROUND thread between batches: the apply path stays a pure
    O(|batch|) append while due buckets fold concurrently — the
    reference's targets do exactly this (ClickHouse background merges,
    ``clickhouse/sink_shard.go:183``). The table's versioned commits
    make the overlap safe: directory versions are allocated under the
    commit mutex, manifests re-read under it, and a delta appended
    mid-fold stays pending (it sits above every fold watermark). A
    compaction failure surfaces on the NEXT batch — maintenance must
    not die silently. A transient apply failure is re-attempted up to
    ``MAX_RETRIES`` times, each retry logged and counted in
    ``retries``, before the error reaches the streaming engine
    (≈ ``middlewares/retrier.go:17``); an error ``is_fatal`` classifies
    as deterministic raises on the first attempt."""

    MAX_RETRIES = 2

    def __init__(self, table: BucketedParquetTable):
        self.table = table
        self.batches_applied = 0
        self.retries = 0
        self._background_fold = (
            table.merge_mode == "delta"
            and table.compact_policy == "incremental"
        )
        self._compactor: threading.Thread | None = None
        self._compact_err: Exception | None = None

    def _maybe_compact(self) -> None:
        if self._compactor is not None and self._compactor.is_alive():
            return  # one background fold at a time
        due = self.table._buckets_due()
        if not due:
            return

        def run(buckets=due):
            try:
                self.table.compact_buckets(buckets)
            except Exception as e:  # surfaced on the next batch
                self._compact_err = e

        self._compactor = threading.Thread(
            target=run, daemon=True, name="bucketed-compactor"
        )
        self._compactor.start()

    def wait_for_compaction(self, timeout: float | None = None) -> None:
        """Join the in-flight background fold (tests / clean shutdown)
        and surface any failure."""
        if self._compactor is not None:
            self._compactor.join(timeout)
        if self._compact_err is not None:
            err, self._compact_err = self._compact_err, None
            raise err

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._compact_err is not None:
            err, self._compact_err = self._compact_err, None
            raise err
        # no head(1) pre-check (a full Spark job, decode included, on
        # every batch): an empty batch costs nothing downstream —
        # append_delta and the eager merge both see zero touched buckets
        from transferia_spark.tasks.replicate import is_fatal

        for attempt in range(self.MAX_RETRIES + 1):
            try:
                # batch_id rides along as the delta-mode replay
                # watermark; the rewrite mode is idempotent by
                # construction and ignores it. Folds never run inline:
                # the incremental policy folds in the background below
                self.table.merge(batch_df, batch_id=batch_id, fold=False)
                self.batches_applied += 1
                if self._background_fold:
                    self._maybe_compact()
                return
            except Exception as e:
                if attempt == self.MAX_RETRIES or is_fatal(e):
                    raise
                self.retries += 1
                logging.getLogger(__name__).warning(
                    "apply of batch %s failed, retry %d of %d: %r",
                    batch_id, attempt + 1, self.MAX_RETRIES, e,
                )
