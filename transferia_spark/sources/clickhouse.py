"""ClickHouse storage: native sharded snapshot reads over HTTP.

≈ transferia/transferia ``pkg/providers/clickhouse/query_builder.go:10``
(``buildSelectQuery``: FINAL over deletable ReplacingMergeTree targets
+ ``__data_transfer_delete_time == 0`` tombstone filter,
``storage.go:806``) and the cluster read model of
``a2_data_provider.go`` / ``sharding/`` — each shard's local table is
read independently and the union is the logical table.

Spark-first shape: ``sources.base.scan_shards`` fans the
(shard × part) SELECTs out so every Spark task streams one
shard slice over the ClickHouse HTTP protocol (JSONEachRow) directly
into Arrow batches — reads are executor→shard, never via the driver,
and a 16-shard cluster loads with ≥16-way parallelism. Within one
shard, parts split by ``cityHash64(pk) % n`` — evaluated inside
ClickHouse, so each slice is an indexed scan server-side.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from transferia_spark.schema.colschema import TableID
from transferia_spark.sinks.clickhouse import ChHttpClient, DELETE_TIME_COL, quote_ch
from transferia_spark.sources.base import Source, register_source, scan_shards


def build_select_query(
    table: TableID,
    columns: list[str],
    deletable: bool = False,
    where: str | None = None,
    part_cond: str | None = None,
) -> str:
    """≈ ``buildSelectQuery`` (query_builder.go:10): FINAL collapses
    ReplacingMergeTree versions server-side; the delete-time filter
    hides tombstones the CDC sink wrote."""
    cols = ", ".join(quote_ch(c) for c in columns)
    name = (
        f"{quote_ch(table.namespace)}.{quote_ch(table.name)}"
        if table.namespace
        else quote_ch(table.name)
    )
    q = f"SELECT {cols} FROM {name}"
    if deletable:
        q += " FINAL"
    q += " WHERE 1=1"
    if where:
        q += f" AND ({where})"
    if part_cond:
        q += f" AND ({part_cond})"
    if deletable:
        q += f" AND {DELETE_TIME_COL} == 0"
    return q


def decode_arrow_stream(body, schema: T.StructType):
    """ClickHouse ``FORMAT ArrowStream`` response → typed pandas
    frames. The server serializes columns straight into Arrow record
    batches, so the read plane is zero-parse: one IPC open per
    response, a vectorized cast per column onto the declared schema
    (ClickHouse Arrow types differ in width/signedness from the
    declared contract), no per-row Python. This is the default read
    format — the JSONEachRow path stays for old servers.

    ``body`` is either the full response bytes or a FILE-LIKE (the
    open HTTP response): with a file-like, record batches decode
    straight off the socket and memory stays O(batch), not O(slice)."""
    import pandas as pd
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    from transferia_spark.schema.typesystem import arrow_to_pandas_column

    targets = {f.name: to_arrow_type(f.dataType) for f in schema.fields}
    src = (
        pa.BufferReader(body)
        if isinstance(body, (bytes, bytearray, memoryview))
        else body
    )
    with pa.ipc.open_stream(src) as reader:
        for batch in reader:
            cols = {}
            for f in schema.fields:
                idx = batch.schema.get_field_index(f.name)
                if idx < 0:
                    # pyarrow's column(-1) would silently return the
                    # LAST column — fabricated data under the declared
                    # name (code-review r9). A missing column is loud.
                    raise ValueError(
                        f"ArrowStream response has no column "
                        f"{f.name!r} (server columns: "
                        f"{batch.schema.names}) — declared schema and "
                        "server table disagree"
                    )
                arr = batch.column(idx)
                t = targets[f.name]
                if arr.type != t:
                    arr = arr.cast(t)
                cols[f.name] = arrow_to_pandas_column(arr, f.dataType)
            yield pd.DataFrame(cols)


def decode_json_each_row(body: bytes, schema: T.StructType):
    """``FORMAT JSONEachRow`` response → one typed pandas frame
    (legacy/debug read format; values arrive already JSON-typed, so
    the cast is per-column nullable-dtype construction, not text
    parsing)."""
    import pandas as pd

    rows = [json.loads(line) for line in body.splitlines() if line.strip()]
    data = {}
    for f in schema.fields:
        vals = [r.get(f.name) for r in rows]
        t = f.dataType.typeName()
        if t in ("long", "integer", "short", "byte"):
            width = {"long": "Int64", "integer": "Int32",
                     "short": "Int16", "byte": "Int8"}[t]
            data[f.name] = pd.array(vals, dtype=width)
        elif t in ("double", "float"):
            data[f.name] = pd.array(
                [float(v) if v is not None else None for v in vals],
                dtype="Float64" if t == "double" else "Float32",
            )
        elif t == "boolean":
            data[f.name] = pd.array(
                [bool(v) if v is not None else None for v in vals],
                dtype="boolean",
            )
        elif t == "timestamp":
            data[f.name] = pd.to_datetime(pd.Series(vals, dtype=object))
        elif t == "date":
            dt = pd.to_datetime(pd.Series(vals, dtype=object))
            data[f.name] = dt.dt.date.where(dt.notna(), None)
        elif t == "decimal":
            from decimal import Decimal

            data[f.name] = pd.Series(
                [Decimal(str(v)) if v is not None else None for v in vals],
                dtype=object,
            )
        else:
            data[f.name] = pd.Series(vals, dtype=object)
    return pd.DataFrame(data)


def _iter_line_chunks(resp, chunk_bytes: int = 8 << 20):
    """Split a streamed JSONEachRow response into ~``chunk_bytes``
    chunks that end on line boundaries, so the legacy format decodes
    incrementally too."""
    tail = b""
    while True:
        block = resp.read(chunk_bytes)
        if not block:
            break
        block = tail + block
        cut = block.rfind(b"\n")
        if cut < 0:
            tail = block
            continue
        tail = block[cut + 1:]
        yield block[:cut + 1]
    if tail.strip():
        yield tail


@register_source
class ClickHouseSource(Source):
    """Sharded snapshot reads; one HTTP endpoint per shard.

    ``schemas[table]`` declares the typed contract (DDL string);
    ``keys`` drive the within-shard ``cityHash64`` part split.
    ``parts_per_shard`` bounds fan-out: total tasks = shards × parts.
    """

    TYPE = "clickhouse"

    def __init__(
        self,
        shard_urls: dict[str, str],
        schemas: dict[str, str],
        database: str = "",
        keys: dict[str, list[str]] | None = None,
        deletable: bool = False,
        parts_per_shard: int | None = None,
        client_factory: Callable[[str], ChHttpClient] = ChHttpClient,
        read_format: str = "ArrowStream",
        rows_per_part: int = 1_000_000,
        max_parts_per_shard: int = 64,
    ):
        self.shard_urls = dict(shard_urls)
        self.schemas = dict(schemas)
        self.database = database
        self.keys = keys or {}
        self.deletable = deletable
        # None = derive from the shard's own system.parts row counts at
        # plan time (≈ CalculatePartCount, sharding_storage.go:234 — the
        # reference sizes part counts from table size); an explicit int
        # pins the fan-out (tests, plan-only flows)
        self.parts_per_shard = (
            None if parts_per_shard is None else max(1, parts_per_shard)
        )
        self.rows_per_part = max(1, rows_per_part)
        self.max_parts_per_shard = max(1, max_parts_per_shard)
        self._parts_cache: dict[str, dict[str, int]] = {}
        self.client_factory = client_factory
        if read_format not in ("ArrowStream", "JSONEachRow"):
            raise ValueError(
                f"read_format {read_format!r}: ArrowStream (zero-parse, "
                "CH ≥ 21.x) or JSONEachRow (legacy)"
            )
        self.read_format = read_format

    def table_list(self, spark: SparkSession) -> list[TableID]:
        return [TableID(self.database, t) for t in sorted(self.schemas)]

    def derive_parts(self, table: TableID) -> dict[str, int]:
        """Per-shard part counts from the shard's OWN size: active
        ``system.parts`` row totals ÷ ``rows_per_part``, clamped to
        ``max_parts_per_shard`` (≈ ``CalculatePartCount``,
        ``sharding_storage.go:234`` — a fixed fan-out under-splits big
        shards and over-splits small ones). Cached per table; used when
        ``parts_per_shard`` wasn't pinned."""
        cached = self._parts_cache.get(table.name)
        if cached is not None:
            return cached
        db = (table.namespace or self.database or "default").replace("'", "''")
        name = table.name.replace("'", "''")
        sql = (
            "SELECT coalesce(sum(rows), 0) FROM system.parts WHERE active"
            f" AND database = '{db}' AND table = '{name}'"
            " FORMAT TabSeparated"
        )
        out: dict[str, int] = {}
        for s, url in self.shard_urls.items():
            body = self.client_factory(url).execute(sql)
            rows = int(body.strip() or 0)
            if rows == 0:
                # zero active system.parts rows for a KEYED table —
                # Distributed/Merge/View engines have no local parts,
                # so the size probe says nothing about the data behind
                # them. Pinning 1 would silently serialize an
                # arbitrarily large read; warn and keep a non-trivial
                # split (code-review r10).
                import warnings

                warnings.warn(
                    f"system.parts reports 0 rows for {table.fqtn()!r}"
                    f" on shard {s!r} — not a local MergeTree table? "
                    "Falling back to 4 parts; pin parts_per_shard to "
                    "size the fan-out explicitly.",
                    stacklevel=3,
                )
                out[s] = min(4, self.max_parts_per_shard)
                continue
            out[s] = min(
                self.max_parts_per_shard,
                max(1, -(-rows // self.rows_per_part)),
            )
        self._parts_cache[table.name] = out
        return out

    def _parts_for(self, table: TableID) -> dict[str, int]:
        if not self.keys.get(table.name):
            return {s: 1 for s in self.shard_urls}
        if self.parts_per_shard is not None:
            return {s: self.parts_per_shard for s in self.shard_urls}
        return self.derive_parts(table)

    def plan_read_tasks(
        self, table: TableID, where: str | None = None
    ) -> list[tuple[str, str]]:
        """The parallel-unit plan: (shard url, SELECT) per shard×part
        (≈ the reference's shard/part fan-out, storage.go). Factored
        out of :meth:`load_table` so the plan is testable without a
        live cluster — the clickhouse_read_plan driver query compares
        the generated strings against a SQL oracle."""
        st = T._parse_datatype_string(self.schemas[table.name])
        cols = [f.name for f in st.fields]
        keys = self.keys.get(table.name, [])
        by_shard = self._parts_for(table)
        tasks = []
        for s in sorted(self.shard_urls):
            url = self.shard_urls[s]
            n_parts = by_shard[s]
            for p in range(n_parts):
                cond = None
                if n_parts > 1:
                    keyexpr = ", ".join(quote_ch(k) for k in keys)
                    cond = f"cityHash64({keyexpr}) % {n_parts} == {p}"
                tasks.append(
                    (url, build_select_query(
                        table, cols, self.deletable, where, cond
                    ))
                )
        return tasks

    def load_table(
        self, spark: SparkSession, table: TableID, where: str | None = None
    ) -> DataFrame:
        st = T._parse_datatype_string(self.schemas[table.name])
        factory = self.client_factory
        fmt = self.read_format

        def read_part(out_schema, url, query):
            client = factory(url)
            stream = getattr(client, "execute_stream", None)
            if stream is None:
                # injected test clients may only buffer
                body = client.execute(f"{query} FORMAT {fmt}")
                if fmt == "ArrowStream":
                    yield from decode_arrow_stream(body, out_schema)
                else:
                    frame = decode_json_each_row(body, out_schema)
                    if len(frame):
                        yield frame
                return
            # stream the response: record batches (or bounded line
            # chunks) decode straight off the socket, so per-task
            # memory is O(batch), never O(slice)
            resp = stream(f"{query} FORMAT {fmt}")
            try:
                if fmt == "ArrowStream":
                    yield from decode_arrow_stream(resp, out_schema)
                else:
                    for chunk in _iter_line_chunks(resp):
                        frame = decode_json_each_row(chunk, out_schema)
                        if len(frame):
                            yield frame
            finally:
                resp.close()

        return scan_shards(
            spark, self.plan_read_tasks(table, where),
            "url string, query string", read_part, st,
        )


# ------------------------------------------------- topology discovery
# (≈ the reference's cluster-metadata reads in
# ``pkg/providers/clickhouse`` model/topology — shard lists come from
# the server's own system.clusters, not hand config that drifts
# against ALTER CLUSTER.)


def cluster_shards_sql(cluster: str) -> str:
    """The system.clusters topology query — a pure string builder so
    the driver oracle can rebuild and hash it independently."""
    esc = cluster.replace("'", "''")
    return (
        "SELECT shard_num, replica_num, host_address, host_name"
        f" FROM system.clusters WHERE cluster = '{esc}'"
        " ORDER BY shard_num, replica_num FORMAT JSONEachRow"
    )


def discover_cluster_shards(
    client,
    cluster: str,
    http_port: int = 8123,
    scheme: str = "http",
) -> dict[str, str]:
    """shard name → HTTP endpoint from ``system.clusters``. One
    endpoint per shard (the lowest replica_num); ``system.clusters``
    reports the NATIVE port, so the HTTP port rides a parameter.
    ``host_address`` wins over ``host_name`` (no DNS dependency on
    executors); an unknown cluster is loud, never an empty source."""
    raw = client.execute(cluster_shards_sql(cluster))
    shards: dict[int, tuple[int, str]] = {}
    for line in raw.decode().splitlines():
        if not line.strip():
            continue
        row = json.loads(line)
        num, rep = int(row["shard_num"]), int(row["replica_num"])
        host = row.get("host_address") or row.get("host_name") or ""
        # 0.0.0.0 / empty = the server couldn't resolve the replica's
        # address; fall back to its name and let DNS answer
        if host in ("", "0.0.0.0"):
            host = row.get("host_name") or ""
        if not host:
            continue
        if num not in shards or rep < shards[num][0]:
            shards[num] = (rep, host)
    if not shards:
        raise ValueError(
            f"cluster {cluster!r} has no shards in system.clusters — "
            "check the cluster name on the server's remote_servers"
        )
    return {
        f"shard{num}": f"{scheme}://{host}:{http_port}"
        for num, (_rep, host) in sorted(shards.items())
    }


def clickhouse_source_from_cluster(
    url: str,
    cluster: str,
    schemas: dict[str, str],
    http_port: int = 8123,
    client_factory: Callable[[str], ChHttpClient] = ChHttpClient,
    **kwargs,
) -> ClickHouseSource:
    """Build a :class:`ClickHouseSource` by asking ANY node of the
    cluster for the shard topology instead of hand-listing
    ``shard_urls``."""
    import urllib.parse

    scheme = urllib.parse.urlsplit(url).scheme or "http"
    shard_urls = discover_cluster_shards(
        client_factory(url), cluster, http_port=http_port, scheme=scheme
    )
    return ClickHouseSource(
        shard_urls=shard_urls, schemas=schemas,
        client_factory=client_factory, **kwargs,
    )
