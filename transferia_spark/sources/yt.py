"""YTsaurus static-table source.

≈ transferia/transferia ``pkg/providers/yt``: the reference reads YT
static tables through the native wire protocol with the YT schema
attribute (list of ``{name, type, required, sort_order}`` column
specs) driving the type mapping. No YT cluster exists here (nor a
public Spark connector in this container), so the Spark-first shape
is: the table's exported data (YT's standard parquet/JSONL export, or
an SPYT-written directory) is read with the native file source, and
the YT SCHEMA is the contract — mapped through the same
``yt_to_spark`` matrix the typesystem uses everywhere else, then
``strictify``'d so weakly-typed exports (JSON strings) land in the
exact column types the reference would produce.

Sorted tables declare their sort columns as the PK
(``sort_order: ascending`` ≈ key columns in YT), which downstream CDC
collapse/merge and upsert sinks key on.

Scale: the read is a plain file scan — splits, pushdown, and pruning
come from the parquet source; ``strictify`` is a projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from transferia_spark.schema.colschema import TableID
from transferia_spark.schema.typesystem import strictify, yt_to_spark
from transferia_spark.sources.base import Source, register_source, scan_shards


def yt_schema_to_spark(yt_schema: list[dict]) -> T.StructType:
    """YT schema attribute → StructType. ``required: false`` columns
    are nullable (YT optionals); key columns (``sort_order``) carry
    ``{"pk": true}`` metadata, the convention colschema uses."""
    fields = []
    for col in yt_schema:
        meta = {"pk": True} if col.get("sort_order") else {}
        fields.append(
            T.StructField(
                col["name"],
                yt_to_spark(col["type"]),
                nullable=not col.get("required", False),
                metadata=meta,
            )
        )
    return T.StructType(fields)


def key_columns(yt_schema: list[dict]) -> list[str]:
    return [c["name"] for c in yt_schema if c.get("sort_order")]


@register_source
class YtStaticSource(Source):
    """Read a YT static table from its exported data + schema spec.

    ``tables`` maps table path → {"path": data location,
    "schema": YT schema attribute list, "format": parquet|json}.
    """

    TYPE = "yt"

    def __init__(self, tables: dict[str, dict]):
        self.tables = tables

    def table_list(self, spark: SparkSession) -> list[TableID]:
        return [TableID("", name) for name in self.tables]

    def load_table(
        self, spark: SparkSession, table: TableID, where: str | None = None
    ) -> DataFrame:
        spec = self.tables[table.name]
        target = yt_schema_to_spark(spec["schema"])
        fmt = spec.get("format", "parquet")
        if fmt == "parquet":
            df = spark.read.parquet(spec["path"])
        elif fmt == "json":
            # weakly-typed export: read strings, strictify into the matrix
            df = spark.read.json(spec["path"])
        elif fmt == "live":
            return self._load_live(spark, table, spec, where)
        else:
            raise ValueError(f"unsupported YT export format {fmt!r}")
        out = strictify(df, target)
        return out.filter(where) if where else out

    def _load_live(self, spark, table, spec, where):
        """Row-range-parallel live read over the YT HTTP proxy — one
        executor task per ``[#start:#end]`` slice (the reference's
        chunked read_table decomposition). JSON values convert to the
        exact Python objects the DECLARED YT type maps to
        (:func:`yt_json_value` — epoch-day dates, second/µs temporals,
        Decimal-exact uint64, bytes for YT strings), so the task output
        schema IS the target schema — no lossy string detour
        (code-review r10 pass 3: the string demotion crashed on any
        non-core type)."""
        import json as _json

        target = yt_schema_to_spark(spec["schema"])
        yt_types = {c["name"]: c["type"] for c in spec["schema"]}
        live = dict(spec["live"])
        path = spec["path"]
        client = YtHttpClient(**live)
        row_count = int(client.get(f"{path}/@row_count"))
        ranges = plan_read_ranges(
            row_count, int(spec.get("rows_per_task", 1_000_000))
        )

        def read_range(out_schema, start, end):
            import pandas as pd

            body = YtHttpClient(**live).read_table_json(
                range_ypath(path, start, end)
            )
            rows = [_json.loads(ln) for ln in body.splitlines() if ln.strip()]
            if rows:
                yield pd.DataFrame(
                    {
                        f.name: pd.Series(
                            [
                                yt_json_value(
                                    yt_types.get(f.name, "any"),
                                    r.get(f.name),
                                )
                                for r in rows
                            ],
                            dtype=object,
                        )
                        for f in out_schema.fields
                    }
                )

        df = scan_shards(
            spark, ranges, "start long, end long", read_range, target
        )
        return df.filter(where) if where else df


def yt_json_value(yt_type: str, v):
    """One JSON-decoded YT value → the exact Python object the declared
    type's Spark mapping expects (the proxy's json format carries
    temporals as epoch ints — days / seconds / microseconds — uint64 as
    full-width numbers, and YT strings as text)."""
    import datetime as _dt
    import json as _json
    from decimal import Decimal

    if v is None:
        return None
    t = yt_type.strip()
    if t in ("int8", "int16", "int32", "int64", "uint8", "uint16",
             "uint32"):
        return int(v)
    if t == "uint64" or t.startswith("decimal("):
        return Decimal(str(v))  # int64-exact is not enough for uint64
    if t in ("float", "double", "big_float"):
        return float(v)
    if t == "boolean":
        return bool(v)
    if t == "date":  # days since epoch
        if isinstance(v, str):
            return _dt.date.fromisoformat(v)
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=int(v))
    if t == "datetime":  # seconds since epoch
        return _dt.datetime.fromtimestamp(int(v), tz=_dt.timezone.utc)
    if t in ("timestamp", "timestamp_tz"):  # microseconds since epoch
        return _dt.datetime.fromtimestamp(
            int(v) / 1_000_000, tz=_dt.timezone.utc
        )
    if t == "interval":  # microseconds
        return _dt.timedelta(microseconds=int(v))
    if t == "string":  # YT string is BYTES
        return v.encode() if isinstance(v, str) else bytes(v)
    if t == "utf8":
        return str(v)
    # any / json / composite: JSON container as its serialized form
    return v if isinstance(v, str) else _json.dumps(v)


def plan_read_ranges(
    row_count: int, rows_per_task: int
) -> list[tuple[int, int]]:
    """Half-open ``[start, end)`` row ranges tiling the table — the
    parallel-unit plan of the live read (exclusive and exhaustive, the
    same contract as every other storage's shard plan)."""
    step = max(1, rows_per_task)
    return [
        (s, min(s + step, row_count)) for s in range(0, row_count, step)
    ] or [(0, 0)]


def range_ypath(path: str, start: int, end: int) -> str:
    """Rich YPath row-range selector (the public ``[#start:#end]``
    syntax read_table accepts)."""
    return f"{path}[#{start}:#{end}]"


class YtHttpClient:
    """Minimal YT HTTP-proxy client (the PUBLIC proxy REST surface:
    ``/api/v3/get`` for attributes, ``/api/v3/read_table`` with an
    ``X-YT-Output-Format`` header) over stdlib urllib — no yt client
    package on the executors. The reference reads through the native
    RPC protocol (``pkg/providers/yt``); the HTTP proxy carries the
    same table reads for this plane, loopback-tested here (no YT
    cluster in the sandbox)."""

    def __init__(self, proxy: str, token: str | None = None,
                 timeout: float = 60.0):
        self.proxy = proxy.rstrip("/")
        self.token = token
        self.timeout = timeout

    def _request(self, endpoint: str, params: dict) -> bytes:
        import urllib.parse
        import urllib.request

        url = (
            f"{self.proxy}/api/v3/{endpoint}?"
            + urllib.parse.urlencode(params)
        )
        req = urllib.request.Request(url)
        if self.token:
            req.add_header("Authorization", f"OAuth {self.token}")
        if endpoint == "read_table":
            # format spec as the proxy's header convention (JSON-encoded)
            req.add_header("X-YT-Output-Format", '"json"')
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            return resp.read()

    def get(self, path: str):
        import json as _json

        body = self._request("get", {"path": path})
        doc = _json.loads(body)
        # proxies answer either the bare value or {"value": ...}
        return doc["value"] if isinstance(doc, dict) and "value" in doc else doc

    def read_table_json(self, ypath: str) -> bytes:
        """One range's rows as JSON lines (the proxy's json format)."""
        return self._request("read_table", {"path": ypath})


__all__ = [
    "YtHttpClient",
    "YtStaticSource",
    "key_columns",
    "plan_read_ranges",
    "range_ypath",
    "yt_json_value",
    "yt_schema_to_spark",
]
