"""Elasticsearch / OpenSearch snapshot source via sliced scrolls.

≈ transferia/transferia ``pkg/providers/elastic/storage.go`` +
``sharding_storage.go``:
- ``TableList`` = the indices stats listing, internal dot-indices
  skipped (``TableList:158-166``);
- ``TableSchema`` = the index mapping converted through the provider
  type matrix (``schema.go`` / ``typesystem.go``);
- ``LoadTable`` = a scroll search (60-minute keepalive, fixed page
  size); sharded loads pass a ``slice: {id, max}`` body so N scrolls
  stream disjoint document sets in parallel (``LoadTable:98-110``) —
  the slice IS the reference's table-part filter
  (``ShardingFilter``).

Spark-first distribution: ``n_slices`` becomes one Spark partition per
slice (``spark.range(n).repartition(n)``); each executor runs its own
scroll loop against the cluster (executor→ES, never via the driver)
and yields raw document JSON, which ``from_json`` parses against the
mapped schema JVM-side. The same sliced-scroll fan-out the reference
gets from its coordinator falls out of Spark's task scheduler.

No cluster in this environment: transport is the same injectable
stdlib client the Elastic sink uses; tests drive a canned stub.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transferia_spark.schema.colschema import TableID
from transferia_spark.sinks.search import SearchHttpClient
from transferia_spark.sources.base import Source, register_source, scan_shards

SCROLL_KEEPALIVE = "60m"  # scrollDuration in the reference
PAGE_SIZE = 1000          # maxResultsInSingleFetch analog

# public ES field type → Spark (≈ elastic/typesystem.go source rules)
ES_TO_SPARK: dict[str, T.DataType] = {
    "long": T.LongType(),
    "integer": T.IntegerType(),
    "short": T.ShortType(),
    "byte": T.ByteType(),
    "unsigned_long": T.DecimalType(20, 0),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "half_float": T.FloatType(),
    "keyword": T.StringType(),
    "text": T.StringType(),
    "boolean": T.BooleanType(),
    "date": T.TimestampType(),
    "ip": T.StringType(),
    "binary": T.BinaryType(),
}


def mapping_to_schema(mapping: dict) -> T.StructType:
    """Index mapping → StructType; object/nested fields collapse to a
    JSON string column (the reference's any-type rule)."""
    fields = []
    for name, spec in sorted(mapping.get("properties", {}).items()):
        es_type = spec.get("type")
        if es_type is None or es_type in ("object", "nested"):
            dt: T.DataType = T.StringType()
        else:
            dt = ES_TO_SPARK.get(es_type, T.StringType())
        fields.append(T.StructField(name, dt, True))
    return T.StructType(fields)


def scroll_open_path(index: str) -> str:
    """The slice-opening search request path (scroll keepalive rides
    the query string)."""
    return f"/{index}/_search?scroll={SCROLL_KEEPALIVE}"


def slice_request_body(slice_id: int, n_slices: int, page_size: int) -> str:
    """The sliced-scroll opening request body one Spark partition sends
    for its slice (``slice.id``/``slice.max`` partition the index
    server-side; a single-slice read omits the clause). Pure so the
    generated request strings are driver-checkable against a SQL
    oracle (the repo's generated-strings parity pattern)."""
    body: dict = {"size": page_size}
    if n_slices > 1:
        body["slice"] = {"id": slice_id, "max": n_slices}
    return json.dumps(body)


@register_source
class ElasticSource(Source):
    """Sliced-scroll parallel snapshot reads (shared by OpenSearch —
    same wire surface, like the sink pair)."""

    TYPE = "elastic_source"

    def __init__(
        self,
        url: str,
        n_slices: int = 8,
        page_size: int = PAGE_SIZE,
        client_factory: Callable[[str], SearchHttpClient] = SearchHttpClient,
    ):
        self.url = url
        self.n_slices = n_slices
        self.page_size = page_size
        self.client_factory = client_factory

    def table_list(self, spark: SparkSession) -> list[TableID]:
        stats = json.loads(
            self.client_factory(self.url).request("GET", "/_stats")
        )
        return [
            TableID("", name)
            for name in sorted(stats.get("indices", {}))
            if not name.startswith(".")  # skip internal indices
        ]

    def table_schema(self, table: TableID) -> T.StructType:
        body = json.loads(
            self.client_factory(self.url).request(
                "GET", f"/{table.name}/_mapping"
            )
        )
        mapping = body.get(table.name, {}).get("mappings", {})
        return mapping_to_schema(mapping)

    def load_table(
        self, spark: SparkSession, table: TableID, where: str | None = None
    ) -> DataFrame:
        schema = self.table_schema(table)
        n, url, index = self.n_slices, self.url, table.name
        page_size, factory = self.page_size, self.client_factory

        def fetch(_schema, slice_id):
            import pandas as pd

            client = factory(url)
            page = json.loads(
                client.request(
                    "POST",
                    scroll_open_path(index),
                    slice_request_body(slice_id, n, page_size).encode(),
                )
            )
            while True:
                hits = page.get("hits", {}).get("hits", [])
                if not hits:
                    break
                # yield PER SCROLL PAGE: a slice of a large index holds
                # millions of docs — buffering the whole slice before
                # the first yield OOMs the Python worker; streaming
                # pages bounds memory at page_size docs
                yield pd.DataFrame(
                    {"_doc": [json.dumps(h["_source"]) for h in hits]}
                )
                page = json.loads(
                    client.request(
                        "POST",
                        "/_search/scroll",
                        json.dumps(
                            {"scroll": SCROLL_KEEPALIVE,
                             "scroll_id": page["_scroll_id"]}
                        ).encode(),
                    )
                )
            if "_scroll_id" in page:
                client.request(
                    "DELETE", f"/_search/scroll/{page['_scroll_id']}"
                )

        raw = scan_shards(
            spark, [(i,) for i in range(n)], "id int", fetch,
            T.StructType([T.StructField("_doc", T.StringType())]),
        )
        return raw.select(
            F.from_json(F.col("_doc"), schema).alias("_p")
        ).select("_p.*")


__all__ = [
    "ElasticSource",
    "mapping_to_schema",
    "ES_TO_SPARK",
    "scroll_open_path",
    "slice_request_body",
]
