"""Versioned parquet table with an atomic pointer swap.

``ParquetTable`` is the whole-table write target of ``tasks/compact.py``
and ``trcli compact --dst``: every ``overwrite`` writes a fresh
``_v{n}`` directory and then atomically repoints ``_CURRENT`` (the poor
man's Delta commit; the swap is a ``durable.publish``). CDC
micro-batches are applied by ``BucketedCdcApplySink`` into a
``BucketedParquetTable`` (``streaming/bucketed_table.py``), which
appends each batch as a delta and later folds it into only the buckets
it touches.
"""

from __future__ import annotations

import fcntl
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from transferia_spark import durable


class ConcurrentWriteError(RuntimeError):
    """A second writer raced the single-writer ParquetTable commit."""


class ParquetTable:
    """A versioned parquet-backed table with atomic swap.

    Layout: ``root/_v{n}/`` holds version n; ``root/_CURRENT`` names the
    live version. Readers read the named version; the writer prepares
    version n+1 in a fresh directory then atomically rewrites the
    pointer. Single-writer by design.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

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

    def read(self, version: int | None = None) -> DataFrame:
        """Read the live version, or time-travel to an older retained
        one (``version=``). Retention is ``keep=2`` at write time — the
        window in which a consumer can pin the pre-batch snapshot for
        reprocessing/debugging, the same contract Delta's
        ``versionAsOf`` offers (bounded by VACUUM)."""
        v = self.version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"no current version in {self.root}")
        path = os.path.join(self.root, f"_v{v}")
        if not os.path.isdir(path):
            raise FileNotFoundError(
                f"version {v} not retained in {self.root} (gc keeps 2)"
            )
        return self.spark.read.parquet(path)

    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        """Write version+1 and atomically flip ``_CURRENT``.

        Single-writer is ENFORCED, not just documented (ADVICE r3: a
        compaction racing a streaming sink had both compute version()+1
        and one commit silently won, losing a batch): a non-blocking
        ``flock`` on ``_LOCK`` brackets the write+flip, and a
        compare-and-swap check rejects the flip if ``_CURRENT`` moved
        under us — concurrent writers fail loudly with
        ``ConcurrentWriteError``. A killed writer's flock dies with it.
        The new version is synced before the pointer publishes."""
        base = self.version()
        lock = os.path.join(self.root, "_LOCK")
        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                raise ConcurrentWriteError(
                    f"another writer holds {lock}; ParquetTable is "
                    "single-writer — serialize its writers"
                ) from None
            new_v = base + 1
            path = os.path.join(self.root, f"_v{new_v}")
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
            durable.sync_tree(path)
            if self.version() != base:  # CAS: pointer moved under us
                raise ConcurrentWriteError(
                    f"_CURRENT advanced past v{base} during overwrite of "
                    f"{self.root}; dropping v{new_v} instead of losing "
                    "the concurrent commit"
                )
            durable.publish(self._pointer, str(new_v))
            self._gc(keep=2)
            return new_v
        finally:
            os.close(fd)

    def _gc(self, keep: int) -> None:
        v = self.version()
        for name in os.listdir(self.root):
            if name.startswith("_v") and int(name[2:]) <= v - keep:
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)

