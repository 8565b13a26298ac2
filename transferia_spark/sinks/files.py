"""File/object-store sink.

≈ the reference's S3 sink (snapshot ``s3/sink/snapshot_sink.go`` with
serializer→multipart upload; replication ``s3/sink/replication_sink.go:38``
in transferia/transferia): writes JSON/CSV/Parquet/Raw objects with
optional compression and a partitioned layout.

Spark-native: ``df.write.parquet/json/csv`` does parallel multipart
uploads per partition; ``partitionBy`` gives the partitioned layout;
for CDC streams the same sink appends the change log (the reference's
replication sink is append-only too).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from transferia_spark.schema.colschema import TableID
from transferia_spark.sinks.base import CleanupPolicy, Sink, register_sink


@register_sink
class FileSink(Sink):
    TYPE = "file"
    parallel_safe = True  # one directory per table, no shared state

    def __init__(
        self,
        path: str,
        format: str = "parquet",
        partition_by: list[str] | None = None,
        compression: str | None = None,
        mode: str = "overwrite",
        options: dict | None = None,
    ):
        self.path = path
        self.format = format
        self.partition_by = partition_by or []
        self.compression = compression
        self.mode = mode
        self.options = options or {}

    def _target(self, table: TableID) -> str:
        return os.path.join(self.path, table.fqtn())

    def cleanup(self, table: TableID, policy: CleanupPolicy) -> None:
        if policy in (CleanupPolicy.DROP, CleanupPolicy.TRUNCATE):
            shutil.rmtree(self._target(table), ignore_errors=True)

    def write(self, df: DataFrame, table: TableID) -> None:
        # Write parallelism deliberately follows the scan/transform plan
        # (no forced repartition): measured at sf0.1, a round-robin
        # fan-out to core count cost MORE than the encode saved (the
        # shuffle writes+reads the full row payload), and at 100 TB the
        # scan already exceeds core count so a fan-out is a no-op. The
        # reference's part-count formula (sharding_storage.go:234-245)
        # governs the SOURCE split instead — see sources/jdbc.py.
        writer = df.write.mode(self.mode).format(self.format)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        if self.compression:
            writer = writer.option("compression", self.compression)
        for k, v in self.options.items():
            writer = writer.option(k, v)
        writer.save(self._target(table))

    def write_cdc(self, batch: DataFrame, table: TableID, keys: list[str]) -> None:
        # append-only change log, like the reference's replication sink
        writer = batch.write.mode("append").format(self.format)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.save(self._target(table))

    def read_back(self, spark, table: TableID) -> DataFrame:
        return spark.read.format(self.format).load(self._target(table))


@register_sink
class ConsoleSink(Sink):
    """≈ the stdout provider — debugging sink."""

    TYPE = "console"

    def __init__(self, num_rows: int = 20):
        self.num_rows = num_rows

    def cleanup(self, table: TableID, policy: CleanupPolicy) -> None:
        pass

    def write(self, df: DataFrame, table: TableID) -> None:
        df.show(self.num_rows, truncate=False)

    def write_cdc(self, batch: DataFrame, table: TableID, keys: list[str]) -> None:
        batch.show(self.num_rows, truncate=False)
