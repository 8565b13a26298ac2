"""Sink protocol + registry.

≈ ``Sinker.Push`` (``pkg/abstract/sink.go:14-19`` in
transferia/transferia) with activation-time cleanup policy
Drop | Truncate | Disabled (``pkg/abstract/model/endpoint_cleanup_type.go:7-12``,
applied by ``pkg/worker/tasks/cleanup_sinker.go``).

A Spark sink writes a whole DataFrame (snapshot) or a micro-batch
(replication, via foreachBatch). Delivery contract is the reference's:
at-least-once with idempotent/upsert apply.
"""

from __future__ import annotations

import enum
from collections.abc import Callable

from pyspark.sql import DataFrame

from transferia_spark.schema.colschema import TableID


class CleanupPolicy(str, enum.Enum):
    DROP = "drop"
    TRUNCATE = "truncate"
    DISABLED = "disabled"


class Sink:
    TYPE: str = ""
    #: cleanup()/write() of different tables may run concurrently, so
    #: activate() may use a thread pool by default (audited per sink)
    parallel_safe: bool = False

    def cleanup(self, table: TableID, policy: CleanupPolicy) -> None:
        raise NotImplementedError

    def write(self, df: DataFrame, table: TableID) -> None:
        """Snapshot write (full batch)."""
        raise NotImplementedError

    def write_cdc(self, batch: DataFrame, table: TableID, keys: list[str]) -> None:
        """Apply one CDC micro-batch (collapse+merge semantics)."""
        raise NotImplementedError

    def read_back(self, spark, table: TableID) -> DataFrame:
        """Read the written table back — the capability the checksum /
        verify-delivery task needs (≈ the destination-side Storage the
        reference builds in ``pkg/worker/tasks/verify_delivery.go`` and
        ``checksum.go:141``). Optional; sinks without a readable form
        (console) keep the default."""
        raise NotImplementedError(f"sink {self.TYPE!r} is not readable")


_SINKS: dict[str, Callable[..., Sink]] = {}


def register_sink(cls):
    assert cls.TYPE
    _SINKS[cls.TYPE] = cls
    return cls


def build_sink(type_string: str, **config) -> Sink:
    try:
        return _SINKS[type_string](**config)
    except KeyError:
        raise ValueError(f"unknown sink {type_string!r}; known: {sorted(_SINKS)}") from None
