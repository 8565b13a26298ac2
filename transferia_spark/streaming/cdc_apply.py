"""Versioned parquet table with an atomic pointer swap.

``ParquetTable`` is the whole-table write target of ``tasks/compact.py``
and ``trcli compact --dst``: every ``overwrite`` writes a fresh
``_v{n}`` directory and then atomically repoints ``_CURRENT`` (the poor
man's Delta commit; swap-level atomicity is filesystem rename). CDC
micro-batches are applied by ``BucketedCdcApplySink`` into a
``BucketedParquetTable`` (``streaming/bucketed_table.py``), which
appends each batch as a delta and later folds it into only the buckets
it touches.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


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
        and one commit silently won, losing a batch): an O_EXCL
        advisory lock file brackets the write+flip, and a
        compare-and-swap check rejects the flip if ``_CURRENT`` moved
        under us — concurrent writers fail loudly with
        ``ConcurrentWriteError``."""
        base = self.version()
        lock = os.path.join(self.root, "_LOCK")
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"another writer holds {lock}; ParquetTable is "
                "single-writer — serialize its writers (remove the "
                "stale lock only after a crashed writer)"
            ) from None
        try:
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            new_v = base + 1
            path = os.path.join(self.root, f"_v{new_v}")
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
            if self.version() != base:  # CAS: pointer moved under us
                raise ConcurrentWriteError(
                    f"_CURRENT advanced past v{base} during overwrite of "
                    f"{self.root}; dropping v{new_v} instead of losing "
                    "the concurrent commit"
                )
            tmp = self._pointer + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(new_v))
            os.replace(tmp, self._pointer)  # atomic pointer swap
            self._gc(keep=2)
            return new_v
        finally:
            try:
                os.remove(lock)
            except FileNotFoundError:
                pass

    def _gc(self, keep: int) -> None:
        v = self.version()
        for name in os.listdir(self.root):
            if name.startswith("_v") and int(name[2:]) <= v - keep:
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)

