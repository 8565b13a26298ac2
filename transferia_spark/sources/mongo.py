"""MongoDB snapshot storage: _id-range sharded parallel reads.

≈ transferia/transferia ``pkg/providers/mongo/sharding_storage.go:195``
(``ShardTable``: size/desiredPartSize parts, delimiters sampled from
the collection, each part a ``{_id: {$gte: from, $lt: to}}`` filter;
capped at maxDelimiters) and ``parallelization_unit_database.go``
(each part is an independent worker unit).

Spark-first shape: part planning happens once on the driver (one
sample query — the same cost the reference pays), then
``sources.base.scan_shards`` fans the range reads out to executors —
every Spark task opens its own client and scans exactly one ``_id``
range, so a 1000-part collection loads with 1000-way parallelism and
no driver traffic. This is the reference's
part-worker model with Spark as the scheduler (SURVEY §3.1).

No MongoDB server or driver ships in this container: the client
factory is injectable (tests use an in-memory fake); the default
factory requires ``pymongo`` and names the remedy.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from transferia_spark.schema.colschema import TableID
from transferia_spark.sources.base import Source, register_source, scan_shards

# sharding_storage.go caps delimiter count (maxDelimiters)
MAX_DELIMITERS = 1000


def plan_id_ranges(
    table_size_bytes: int,
    desired_part_size: int,
    delimiters: list,
) -> list[tuple]:
    """Part planning ≈ ShardTable: how many parts the size budget
    implies, and the half-open ``[from, to)`` _id ranges from the
    sampled delimiters. ``None`` bounds mean ±infinity; the ranges
    tile the id space exactly (first part is ``(-inf, d0)``, last is
    ``[dN, +inf)``), so every document lands in exactly one part."""
    if desired_part_size <= 0:
        raise ValueError("desired_part_size must be positive")
    n = min(table_size_bytes // desired_part_size, MAX_DELIMITERS)
    if n == 0 or not delimiters:
        return [(None, None)]
    ds = sorted(delimiters)[: int(n)]
    bounds = [None, *ds, None]
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]


def default_client_factory(uri: str):
    try:
        import pymongo  # noqa: F401
    except ImportError as e:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "mongo source needs pymongo (pip install pymongo) or the "
            "mongo-spark-connector jar (org.mongodb.spark:mongo-spark-connector)"
        ) from e
    return pymongo.MongoClient(uri)


@register_source
class MongoSource(Source):
    """Snapshot reads over MongoDB collections.

    ``client_factory(uri)`` must return an object shaped like
    ``pymongo.MongoClient`` (``client[db].list_collection_names()``,
    ``collection.aggregate``, ``collection.find(filter, sort)``,
    ``collection.estimated_document_count`` /
    ``coll_stats``-style size). Documents are JSON-normalized into the
    declared ``schemas[collection]`` DDL — Mongo is schemaless, the
    declared schema is the typed contract (same position the
    reference's TableSchema discovery takes).
    """

    TYPE = "mongo"

    def __init__(
        self,
        uri: str,
        database: str,
        schemas: dict[str, str],
        desired_part_size: int = 256 << 20,
        client_factory: Callable[[str], object] = default_client_factory,
    ):
        self.uri = uri
        self.database = database
        self.schemas = dict(schemas)
        self.desired_part_size = desired_part_size
        self.client_factory = client_factory

    # -- Source protocol ----------------------------------------------------

    def table_list(self, spark: SparkSession) -> list[TableID]:
        client = self.client_factory(self.uri)
        names = client[self.database].list_collection_names()
        return [TableID(self.database, n) for n in sorted(names) if n in self.schemas]

    @staticmethod
    def _estimated_size(coll) -> int:
        if hasattr(coll, "estimated_size_bytes"):
            return coll.estimated_size_bytes()
        # pymongo path: $collStats (what TableSizeInBytes queries)
        stats = next(iter(coll.aggregate([{"$collStats": {"storageStats": {}}}])))
        return int(stats["storageStats"]["size"])

    @staticmethod
    def _sample_ids(coll, n: int) -> list:
        if hasattr(coll, "sample_ids"):
            return list(coll.sample_ids(n))
        return [
            d["_id"]
            for d in coll.aggregate([{"$sample": {"size": n}}, {"$project": {"_id": 1}}])
        ]

    def _plan_parts(self, collection) -> list[tuple]:
        size = self._estimated_size(collection)
        n_parts = max(1, min(size // self.desired_part_size, MAX_DELIMITERS))
        if n_parts <= 1:
            return [(None, None)]
        # getDelimiters: sample ids as evenly spaced cut points. Range
        # bounds round-trip through JSON to reach executors, so _id
        # must be a JSON-comparable type (int/str); BSON ObjectId ids
        # need a string codec at the client adapter.
        sample = sorted(self._sample_ids(collection, int(n_parts)))
        return plan_id_ranges(size, self.desired_part_size, sample)

    def load_table(
        self, spark: SparkSession, table: TableID, where: str | None = None
    ) -> DataFrame:
        ddl = self.schemas[table.name]
        st = T._parse_datatype_string(ddl)
        client = self.client_factory(self.uri)
        coll = client[self.database][table.name]
        parts = self._plan_parts(coll)

        factory, uri, db, name = self.client_factory, self.uri, self.database, table.name
        field_names = [f.name for f in st.fields]

        def read_part(_schema, lo_s, hi_s):
            import pandas as pd

            lo, hi = json.loads(lo_s), json.loads(hi_s)
            flt = {}
            if lo is not None:
                flt.setdefault("_id", {})["$gte"] = lo
            if hi is not None:
                flt.setdefault("_id", {})["$lt"] = hi
            docs = list(factory(uri)[db][name].find(flt))
            if docs:
                yield pd.DataFrame(
                    {c: [d.get(c) for d in docs] for c in field_names}
                )

        specs = [
            (json.dumps(lo, default=str), json.dumps(hi, default=str))
            for lo, hi in parts
        ]
        df = scan_shards(spark, specs, "lo string, hi string", read_part, st)
        if where:
            df = df.filter(where)
        return df
