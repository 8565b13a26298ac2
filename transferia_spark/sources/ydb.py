"""YDB snapshot storage: schema mapping, path rules, key-range sharding.

≈ transferia/transferia ``pkg/providers/ydb/``:

- ``schema.go:17-110`` (``buildColumnDescription`` / ``FromYdbSchema``) —
  YQL type strings (``Optional<Int32>``, ``Decimal(22,9)``…) map to the
  YT logical types; primary-key columns are emitted FIRST in key order,
  then the rest in table order.
- ``model_source.go:138-152`` (``MakeYDBRelPath``) — a table under a
  configured folder keeps ``<folder-basename>/<rest>`` as its relative
  name unless ``use_full_paths``.
- ``storage.go:124-141`` (``validateTableList``) — duplicate full paths
  and duplicate relative paths (folder collapse collisions) are errors.
- ``storage.go:240-252`` + ``storage_sharded.go`` — a sharded snapshot
  reads one ``DescribeTable(WithShardKeyBounds)`` key range per part
  (``ReadKeyRange``), against a consistent COPY of the table made at
  BeginSnapshot into the ``data-transfer`` folder (``CopyTables``,
  ``storage_sharded.go:17-49``) and dropped at EndSnapshot.

Spark-first: every planning step (type mapping, path resolution, shard
units, copy/cleanup plans) is a pure function; the actual reads fan out
one Spark task per key range via ``sources.base.scan_shards``, like
the Mongo storage's parallel-unit shape (sources/mongo.py). The ``ydb`` Python SDK
is not in this environment, so the transport is injectable and the
default raises with a remedy — the plumbing (units, schema, batch
iterator) is real and tested.
"""

from __future__ import annotations

import posixpath
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

from transferia_spark.schema.colschema import ColSchema, TableID, TableSchema
from transferia_spark.sources.base import Source, register_source, scan_shards

# ``data-transfer``: the folder BeginSnapshot copies tables into for a
# consistent sharded read (storage_sharded.go:16)
COPY_FOLDER = "data-transfer"

# YQL scalar type → YT logical type (schema.go:29-66)
_YDB_TO_YT = {
    "Bool": "boolean",
    "Int8": "int8",
    "Int16": "int16",
    "Int32": "int32",
    "Int64": "int64",
    "Uint8": "uint8",
    "Uint16": "uint16",
    "Uint32": "uint32",
    "Uint64": "uint64",
    "Float": "float",
    "Double": "double",
    "String": "string",  # YDB String is bytes
    "Utf8": "utf8",
    "Decimal": "utf8",
    "DyNumber": "utf8",
    "Date": "date",
    "Datetime": "datetime",
    "Timestamp": "timestamp",
    "Interval": "interval",
    "Uuid": "utf8",
}


def parse_ydb_type(type_str: str) -> tuple[str, bool, str]:
    """``buildColumnDescription`` (schema.go:17-66): returns
    ``(yt_type, required, original_type)``. ``Optional<…>`` / ``…?``
    mark nullability; parameters like ``Decimal(22,9)`` are stripped;
    unknown container types degrade to ``any``."""
    optional = "Optional" in type_str or "?" in type_str
    base = (
        type_str.replace("?", "")
        .replace("Optional<", "")
        .replace(">", "")
    )
    if (paren := base.find("(")) > 0:
        base = base[:paren]
    yt = _YDB_TO_YT.get(base, "any")
    return yt, not optional, f"ydb:{base}"


def from_ydb_schema(
    columns: list[tuple[str, str]], keys: list[str]
) -> TableSchema:
    """``FromYdbSchema`` (schema.go:85-110): primary-key columns first,
    in PRIMARY KEY declaration order, then non-key columns in table
    order."""
    by_name = {name: typ for name, typ in columns}
    out: list[ColSchema] = []
    for k in keys:
        yt, req, orig = parse_ydb_type(by_name[k])
        out.append(
            ColSchema(
                name=k, data_type=yt, primary_key=True, required=req,
                original_type=orig,
            )
        )
    keyset = set(keys)
    for name, typ in columns:
        if name in keyset:
            continue
        yt, req, orig = parse_ydb_type(typ)
        out.append(
            ColSchema(name=name, data_type=yt, required=req, original_type=orig)
        )
    return TableSchema(out)


def rel_path(use_full_paths: bool, folders: list[str], table_path: str) -> str:
    """``MakeYDBRelPath`` (model_source.go:138-152): with
    ``use_full_paths=False``, a table under a configured folder keeps the
    folder's basename as its prefix (``home/user/dir/tbl`` with folder
    ``home/user/dir`` → ``dir/tbl``); otherwise the full path stands."""
    table_path = table_path.lstrip("/")
    if not use_full_paths:
        for folder in folders:
            folder = folder.lstrip("/").rstrip("/")
            if not folder:
                continue
            if table_path == folder or table_path.startswith(folder + "/"):
                base = posixpath.dirname(folder)
                out = table_path
                if base and out.startswith(base + "/"):
                    out = out[len(base) + 1 :]
                return out.lstrip("/")
    return table_path


def validate_table_list(
    use_full_paths: bool, folders: list[str], paths: list[str]
) -> None:
    """``validateTableList`` (storage.go:124-141): duplicated full paths
    are config errors; duplicated RELATIVE paths mean two tables would
    collapse onto one output name — the remedy is ``use_full_paths``."""
    seen_full: set[str] = set()
    seen_rel: set[str] = set()
    for p in paths:
        if p in seen_full:
            raise ValueError(f"found duplicated paths: {p}")
        seen_full.add(p)
        rp = rel_path(use_full_paths, folders, p)
        if rp in seen_rel:
            raise ValueError(
                f"found duplicated relPath: {rp}, try to turn on "
                "use_full_paths parameter"
            )
        seen_rel.add(rp)


def modify_copy_name(table_path: str) -> str:
    """``modifyTableName`` (storage_sharded.go:18-20): the copy table's
    flat name inside the copy folder."""
    return table_path.replace("/", "_")


def snapshot_copy_plan(
    database: str, tables: list[str]
) -> list[tuple[str, str]]:
    """``BeginSnapshot`` (storage_sharded.go:22-49): (source, copy)
    full-path pairs — CopyTables gives a consistent point-in-time image
    for the sharded read; EndSnapshot drops every copy."""
    copy_dir = posixpath.join(database, COPY_FOLDER)
    return [
        (
            posixpath.join(database, t.lstrip("/")),
            posixpath.join(copy_dir, modify_copy_name(t.lstrip("/"))),
        )
        for t in tables
    ]


def key_range_units(
    key_bounds: list,
) -> list[tuple[object, object]]:
    """Per-shard read units from DescribeTable's shard key bounds
    (``WithShardKeyBounds`` → ``KeyRanges``, storage.go:246-249): N
    boundary values split the PK space into N+1 half-open
    ``[lo, hi)`` ranges; ``None`` means unbounded. Each unit becomes one
    Spark task reading one YDB shard — the same parallel decomposition
    as ``IsSnapshotSharded`` (one ``ReadKeyRange`` per part)."""
    bounds = [None, *key_bounds, None]
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]


def _default_reader(*_args, **_kwargs):
    raise NotImplementedError(
        "no YDB transport in this environment: install the `ydb` Python "
        "SDK and pass reader=ydb_sdk_reader(endpoint, database) — the "
        "sharding/schema planning above is transport-independent"
    )


@register_source
class YdbStorageSource(Source):
    """Sharded YDB snapshot read: key-range units fanned out one Spark
    task per shard via ``scan_shards`` (the Mongo-storage shape,
    sources/mongo.py:69).

    ``reader(table_path, lo, hi, columns) -> Iterable[dict]`` is the
    injectable transport (tests use synthetic readers; production wires
    the ``ydb`` SDK's ``ReadTable`` with ``ReadKeyRange``).
    """

    TYPE = "ydb"

    def __init__(
        self,
        database: str,
        endpoint: str = "",
        tables: list[str] | None = None,
        use_full_paths: bool = False,
        sharded: bool = False,
        reader: Callable[..., Iterable[dict]] | None = None,
    ):
        self.database = database
        self.endpoint = endpoint
        self.tables = list(tables or [])
        self.use_full_paths = use_full_paths
        self.sharded = sharded
        self.reader = reader or _default_reader

    def table_list(self, spark: SparkSession) -> list[TableID]:
        validate_table_list(self.use_full_paths, self.tables, self.tables)
        return [
            TableID("", rel_path(self.use_full_paths, self.tables, t))
            for t in self.tables
        ]

    def load_table(
        self,
        spark: SparkSession,
        table: TableID,
        schema: TableSchema,
        key_bounds: list | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """One Spark partition per key-range unit; each task streams its
        shard through the injected reader (ReadTable is ordered within a
        range, so per-shard order survives into the partition)."""
        import pandas as pd

        units = key_range_units(key_bounds or [])
        table_path = posixpath.join(self.database, table.name)
        wanted = columns or schema.column_names()
        struct = TableSchema(
            [c for c in schema if c.name in set(wanted)]
        ).to_struct_type()
        reader = self.reader

        def read_unit(_schema, unit: int) -> Iterator[pd.DataFrame]:
            lo, hi = units[unit]
            rows = list(reader(table_path, lo, hi, wanted))
            if rows:
                yield pd.DataFrame(rows, columns=wanted)

        return scan_shards(
            spark, [(i,) for i in range(len(units))], "unit int",
            read_unit, struct,
        )


__all__ = [
    "YdbStorageSource",
    "parse_ydb_type",
    "from_ydb_schema",
    "rel_path",
    "validate_table_list",
    "modify_copy_name",
    "snapshot_copy_plan",
    "key_range_units",
    "COPY_FOLDER",
]
