"""File/object-store sink.

≈ the reference's S3 sink (snapshot ``s3/sink/snapshot_sink.go`` with
serializer→multipart upload; replication ``s3/sink/replication_sink.go:38``
in transferia/transferia): writes JSON/CSV/Parquet/Raw objects with
optional compression and a partitioned layout.

Spark-native: ``df.write.parquet/json/csv`` does parallel multipart
uploads per partition; ``partitionBy`` gives the partitioned layout;
for CDC streams the same sink appends the change log (the reference's
replication sink is append-only too).

A write that replaces a table (mode ``overwrite``, or any write after a
``DROP``/``TRUNCATE`` cleanup) goes through ``durable.replacing``: a
failed or killed activation leaves the previous table whole.
"""

from __future__ import annotations

import os
from urllib.parse import urlsplit

from pyspark.sql import DataFrame

from transferia_spark import durable
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
        #: targets a DROP/TRUNCATE cleanup was asked for: their writes
        #: replace them, so the old copy goes only once a new one is in
        self._replace: set[str] = set()

    def _target(self, table: TableID) -> str:
        return os.path.join(self.path, table.fqtn())

    def cleanup(self, table: TableID, policy: CleanupPolicy) -> None:
        if policy in (CleanupPolicy.DROP, CleanupPolicy.TRUNCATE):
            self._replace.add(self._target(table))

    def write(self, df: DataFrame, table: TableID) -> None:
        # Write parallelism deliberately follows the scan/transform plan
        # (no forced repartition): measured at sf0.1, a round-robin
        # fan-out to core count cost MORE than the encode saved (the
        # shuffle writes+reads the full row payload), and at 100 TB the
        # scan already exceeds core count so a fan-out is a no-op. The
        # reference's part-count formula (sharding_storage.go:234-245)
        # governs the SOURCE split instead — see sources/jdbc.py.
        target = self._target(table)
        replace = self.mode == "overwrite" or target in self._replace
        writer = df.write.format(self.format)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        if self.compression:
            writer = writer.option("compression", self.compression)
        for k, v in self.options.items():
            writer = writer.option(k, v)
        url = urlsplit(target)
        if replace and url.scheme in ("", "file"):
            with durable.replacing(url.path if url.scheme else target) as stage:
                writer.mode("overwrite").save(stage)
        else:
            # a remote store (s3a://, hdfs://) keeps Spark's overwrite
            writer.mode("overwrite" if replace else self.mode).save(target)

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
