"""Storage/source protocol and registry.

The reference's Storage interface (``pkg/abstract/storage.go:286-297``
in transferia/transferia) is {TableList, TableSchema, LoadTable,
ExactTableRowsCount, EstimateTableRowsCount} with optional sharding /
incremental / snapshot-consistency capabilities. In Spark, LoadTable is
a DataFrame read and the coordinator/part machinery collapses into
Spark's own task scheduling — a "table part" IS a partition.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from transferia_spark.schema.colschema import TableID


class Source:
    """A snapshot-scan source; subclasses set ``TYPE``."""

    TYPE: str = ""
    #: activate() may load and write this source's tables from
    #: concurrent threads by default (audited per source; see activate)
    parallel_safe: bool = False

    def table_list(self, spark: SparkSession) -> list[TableID]:
        raise NotImplementedError

    def load_table(
        self, spark: SparkSession, table: TableID, where: str | None = None
    ) -> DataFrame:
        """``WhereStatement`` pushdown (``pkg/abstract/filter.go:16``):
        ``where`` is a SQL predicate pushed into the scan."""
        raise NotImplementedError

    def estimate_rows(self, spark: SparkSession, table: TableID) -> int | None:
        return None


_SOURCES: dict[str, Callable[..., Source]] = {}


def register_source(cls):
    assert cls.TYPE
    _SOURCES[cls.TYPE] = cls
    return cls


def build_source(type_string: str, **config) -> Source:
    try:
        return _SOURCES[type_string](**config)
    except KeyError:
        raise ValueError(f"unknown source {type_string!r}; known: {sorted(_SOURCES)}") from None
