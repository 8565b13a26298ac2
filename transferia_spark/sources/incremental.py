"""Incremental (cursor-based) snapshots.

≈ ``IncrementalStorage`` (``pkg/abstract/storage.go:354-357``,
``pkg/providers/postgres/incremental_storage.go`` in
transferia/transferia): each run reads ``WHERE cursor_col > last_state``
and commits the new max as state — delta snapshots by a monotone column.

State lives in a small JSON file (stand-in for the coordinator's state
store; on a cluster this would be a table or object-store key — the
interface is the same).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transferia_spark import durable


@dataclass
class IncrementalState:
    path: str

    def get(self, table: str):
        """Returns the cursor as (value, spark_type) or None. Legacy
        bare-string entries surface as (value, None)."""
        if not os.path.exists(self.path):
            return None
        with open(self.path) as f:
            ent = json.load(f).get(table)
        if ent is None:
            return None
        if isinstance(ent, dict):
            return ent.get("value"), ent.get("type")
        return ent, None

    def set(self, table: str, cursor, cursor_type: str | None = None) -> None:
        data = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                data = json.load(f)
        # persist WITH the type tag so the next run compares the cursor
        # in the column's own type instead of via implicit string casts
        # (ADVICE r1: numeric/timestamp cursors vs a string literal)
        data[table] = {"value": cursor, "type": cursor_type}
        durable.publish(self.path, json.dumps(data))


def incremental_read(
    df: DataFrame, cursor_col: str, state: IncrementalState, table: str
) -> tuple[DataFrame, str | None]:
    """Filter to rows past the stored cursor; returns (delta, new_cursor).

    The cursor is typed: the stored JSON value is cast back to the
    cursor column's Spark type before the comparison, so numeric and
    timestamp cursors compare natively (and the predicate stays
    pushdown-eligible — a cast literal, not a cast column). Caller
    commits ``new_cursor`` via ``state.set(table, value, type)`` only
    after the sink write succeeds — the same commit-after-delivery
    ordering the reference uses (``updateIncrementalState``,
    load_snapshot.go:228).

    At-least-once window: rows committed between this scan and the
    sink write are re-read next run (cursor is the delta's max, not
    the write-time max) — the reference documents the same contract;
    idempotent/upsert sinks absorb the replay.
    """
    dt = df.schema[cursor_col].dataType.simpleString()
    stored = state.get(table)
    if stored is not None:
        value, _typ = stored
        delta = df.filter(F.col(cursor_col) > F.lit(value).cast(dt))
    else:
        delta = df
    row = delta.agg(F.max(cursor_col).alias("m")).collect()[0]
    new_cursor = row["m"]
    if new_cursor is None:
        return delta, (stored[0] if stored is not None else None)
    # JSON-representable form; the type tag restores it on read
    json_value = new_cursor if isinstance(new_cursor, (int, float, str)) else str(new_cursor)
    return delta, json_value


def cursor_type_of(df: DataFrame, cursor_col: str) -> str:
    """The Spark type string to persist alongside the cursor value."""
    return df.schema[cursor_col].dataType.simpleString()
