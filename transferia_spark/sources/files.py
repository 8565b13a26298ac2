"""File/object-store source (≈ the reference's S3 provider,
``pkg/providers/s3/storage/storage.go:56`` + reader registry
``pkg/providers/s3/reader/registry/{csv,json,line,nginx,parquet,proto}``).

Spark's file sources already do incremental listing, schema inference,
partition pruning, and parallel splits; the custom part is only the
line-oriented formats (nginx access logs, arbitrary regex lines) which
become ``text`` reads + JVM-side ``regexp_extract`` — no Python in the
row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transferia_spark.schema.colschema import TableID
from transferia_spark.session import read_files
from transferia_spark.sources.base import Source, register_source

# Combined-format access log → columns, entirely with JVM regex.
# (the reference ships a dedicated nginx reader; same surface here)
NGINX_COMBINED = (
    r'^(\S+) \S+ (\S+) \[([^\]]+)\] "(\S+) (\S+) ([^"]*)" (\d{3}) (\d+|-)'
    r'(?: "([^"]*)" "([^"]*)")?'
)
NGINX_FIELDS = [
    ("remote_addr", 1, "string"),
    ("remote_user", 2, "string"),
    ("time_local", 3, "string"),
    ("method", 4, "string"),
    ("path", 5, "string"),
    ("protocol", 6, "string"),
    ("status", 7, "int"),
    ("bytes_sent", 8, "long"),
    ("referer", 9, "string"),
    ("user_agent", 10, "string"),
]


@register_source
class FileSource(Source):
    TYPE = "file"
    parallel_safe = True  # stateless reads

    def __init__(
        self,
        path: str,
        format: str = "parquet",
        schema: str | None = None,
        options: dict | None = None,
        pattern: str | None = None,
        pattern_fields: list | None = None,
        tables: list | None = None,
    ):
        self.path = path
        self.format = format
        self.schema = schema
        self.options = options or {}
        self.pattern = pattern
        self.pattern_fields = pattern_fields
        # multi-table mode: path is a directory holding one object (or
        # sub-directory) per table — ≈ the S3 provider listing objects
        # into TableIDs (s3/storage/storage.go:56 area)
        self.tables = list(tables) if tables else None

    def table_list(self, spark: SparkSession) -> list[TableID]:
        if self.tables:
            return [TableID("", t) for t in self.tables]
        return [TableID("", self.path.rstrip("/").split("/")[-1].split(".")[0])]

    def _table_path(self, table: TableID) -> str:
        if not self.tables:
            return self.path
        import os

        base = self.path.rstrip("/")
        ext = {"parquet": "parquet", "orc": "orc", "json": "json", "csv": "csv"}.get(self.format)
        candidates = ([f"{base}/{table.name}.{ext}"] if ext else []) + [f"{base}/{table.name}"]
        for cand in candidates:
            # remote URIs can't be stat-ed cheaply; trust the first form
            if "://" in cand or os.path.exists(cand):
                return cand
        return candidates[-1]

    def load_table(self, spark: SparkSession, table: TableID, where: str | None = None) -> DataFrame:
        fmt = self.format
        path = self._table_path(table)
        if fmt in ("parquet", "orc") and not self.schema:
            df = read_files(spark, path, fmt, self.options)
        elif fmt in ("parquet", "orc", "json", "csv", "text"):
            reader = spark.read.format(fmt)
            if self.schema:
                reader = reader.schema(self.schema)
            elif fmt == "csv":
                reader = reader.option("inferSchema", "true").option("header", "true")
            for k, v in self.options.items():
                reader = reader.option(k, v)
            df = reader.load(path)
        elif fmt == "line":
            df = spark.read.text(path).withColumnRenamed("value", "line")
        elif fmt == "nginx":
            df = self._parse_lines(spark.read.text(path), NGINX_COMBINED, NGINX_FIELDS)
        elif fmt == "regex":
            assert self.pattern and self.pattern_fields, "regex format needs pattern+fields"
            df = self._parse_lines(spark.read.text(path), self.pattern, self.pattern_fields)
        else:
            raise ValueError(f"file source: unknown format {fmt!r}")
        if where:
            df = df.filter(where)
        return df

    @staticmethod
    def _parse_lines(raw: DataFrame, pattern: str, fields: list) -> DataFrame:
        # try_cast: unmatched lines extract '' which must become NULL,
        # not an ANSI cast error (Spark 4 default is ANSI mode)
        cols = [
            F.regexp_extract(F.col("value"), pattern, idx).try_cast(typ).alias(name)
            for name, idx, typ in fields
        ]
        # unparsed dead-letter: lines not matching keep raw text
        matched = F.regexp_extract(F.col("value"), pattern, 0) != ""
        return raw.select(
            *cols,
            F.when(~matched, F.col("value")).alias("_unparsed_raw"),
        )
