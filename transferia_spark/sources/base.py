"""Storage/source protocol and registry.

The reference's Storage interface (``pkg/abstract/storage.go:286-297``
in transferia/transferia) is {TableList, TableSchema, LoadTable,
ExactTableRowsCount, EstimateTableRowsCount} with optional sharding /
incremental / snapshot-consistency capabilities. In Spark, LoadTable is
a DataFrame read and the coordinator/part machinery collapses into
Spark's own task scheduling — a "table part" IS a partition.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

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


def scan_shards(
    spark: SparkSession,
    specs: list[tuple],
    spec_ddl: str,
    read: Callable[..., Iterator],
    schema: T.StructType,
) -> DataFrame:
    """The one shard fan-out of every sharded source (≈ the
    reference's sharded ``LoadTable``, ``sharding_storage.go:195-245``):
    one Spark task per spec, calling ``read(schema, *spec)`` and
    yielding the pandas frames it returns. ``spec_ddl`` names the spec
    fields (``"shard int, sql string"``); ``read`` gets plain Python
    values and ``schema`` rebuilt on the executor from its JSON.

    One task per shard holds because each spec is its own RDD slice
    and ``mapInPandas`` is narrow over the slices: no exchange and no
    sampling job. A hash ``repartition(n)`` would collide shards into
    one task while another sits idle; ``repartitionByRange`` maps
    exactly but pays a sample job and a shuffle."""
    rdd = spark.sparkContext.parallelize(list(specs), max(1, len(specs)))
    spec_df = spark.createDataFrame(rdd, spec_ddl)
    schema_json = schema.json()

    def run(frames):
        out_schema = T.StructType.fromJson(json.loads(schema_json))
        for pdf in frames:
            for spec in zip(*(pdf[c].tolist() for c in pdf.columns)):
                yield from read(out_schema, *spec)

    return spec_df.mapInPandas(run, schema)


def _quote_fqtn(dialect: str, table: str) -> str:
    """Dialect-quote a dotted ``schema.table`` name — identifiers come
    from config and must be quoted like the sinks quote theirs: a table
    named ``user`` or a mixed-case column is legal SQL the reference
    handles (``abstract/storage.go`` identifier parsing) and a raw
    interpolation breaks (r8 verdict item 7)."""
    from transferia_spark.sinks.jdbc import quote_ident

    return ".".join(quote_ident(dialect, p) for p in table.split("."))


class WireSnapshotSource(Source):
    """Config, catalog and shard plan shared by the wire-direct
    snapshot sources (``pgcopy``, ``mysqlselect``). Per-table config
    carries an optional Spark DDL schema and the sharding rule::

        live: {host: db, port: 5432, user: u, database: shop}
        tables:
          public.customer:
            schema: "c_custkey long, c_name string"   # optional
            pk: [c_custkey]                           # optional
            n_shards: 8

    Anything omitted is discovered from the source catalog over one
    short-lived wire session (``postgres/schema.go`` /
    ``mysql/schema.go`` LoadSchema parity), cached for the source's
    lifetime: the activation schema is one instant by design.
    Subclasses name their ``DIALECT`` and implement
    :meth:`_open_session` and :meth:`_discover_tables`."""

    #: ``quote_ident`` / ``shard_by_pk_hash`` dialect
    DIALECT: str = ""

    def __init__(self, live: dict, tables: dict[str, dict]):
        self.live = dict(live)
        self.tables = {k: dict(v) for k, v in tables.items()}
        self._discovered: dict[str, dict] | None = None

    def _open_session(self):
        """``(session, close)`` over one fresh connection to ``live``."""
        raise NotImplementedError

    def _discover_tables(self, sess) -> dict[str, dict]:
        """``{fqtn: {"schema": StructType, "pk": [cols]}}`` from the
        catalog over ``sess``."""
        raise NotImplementedError

    def _discover(self) -> dict[str, dict]:
        if self._discovered is None:
            sess, close = self._open_session()
            try:
                self._discovered = self._discover_tables(sess)
            finally:
                close()
        return self._discovered

    def _table_schema_pk(self, fqtn: str):
        """(StructType, pk columns) for one table: explicit YAML wins,
        anything omitted is discovered from the source catalog."""
        cfg = self.tables[fqtn]
        if cfg.get("schema"):
            return (
                T._parse_datatype_string(cfg["schema"]),
                cfg.get("pk") or [],
            )
        disc = self._discover().get(fqtn)
        if disc is None:
            raise ValueError(
                f"table {fqtn!r} has no schema: in transfer.yaml and "
                "was not found in the source catalog "
                "(information_schema) — check the name and the "
                "connecting user's privileges"
            )
        return disc["schema"], (cfg.get("pk") or disc["pk"])

    def table_list(self, spark: SparkSession) -> list[TableID]:
        if not self.tables:
            # TableList parity (abstract/storage.go:286): no tables
            # configured = transfer the whole catalog, discovered live
            self.tables = {fqtn: {} for fqtn in sorted(self._discover())}
        return [TableID.parse(t) for t in self.tables]

    @classmethod
    def _pk_hash_predicates(cls, pk_cols: list[str], n_shards: int) -> list[str]:
        """One predicate per PK-hash shard (mutually exclusive, jointly
        exhaustive — the reference's server-side formula, so rows shard
        without reading them first); PK identifiers are quoted first."""
        from transferia_spark.sinks.jdbc import quote_ident
        from transferia_spark.sources.jdbc import shard_by_pk_hash

        qpk = [quote_ident(cls.DIALECT, c) for c in pk_cols]
        return shard_by_pk_hash(qpk, n_shards, dialect=cls.DIALECT)

    def _shard_plan(self, fqtn: str, where: str | None):
        """(schema, predicates) for one table: PK-hash shards when
        ``n_shards > 1`` and a PK is known, each AND-ed with ``where``;
        otherwise one scan (``None`` = no predicate at all)."""
        schema, pk = self._table_schema_pk(fqtn)
        n = int(self.tables[fqtn].get("n_shards", 1))
        if n > 1 and pk:
            preds = self._pk_hash_predicates(pk, n)
            if where:
                preds = [f"({where}) AND ({p})" for p in preds]
        else:
            preds = [where] if where else None
        return schema, preds


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
