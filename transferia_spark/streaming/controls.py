"""Control-event routing for replication streams: TRUNCATE and DDL
ChangeItems through ``foreachBatch``.

≈ ``pkg/middlewares/nonrow_separator.go`` + the sinks' control handling
(truncate table-load brackets, ``changeitem/kind.go:9-45``) and the
relation-message restart of ``postgres/publisher_replication.go:202``.

Pinned semantics (the Spark-native translation, tested in
tests/test_controls.py):

- **TRUNCATE at LSN t**: rows with lsn ≤ t in the batch are dropped
  (the truncate would wipe them anyway), the sink's truncate callback
  fires once for the LAST truncate in the processed prefix, then later
  rows apply to the emptied table. When the stream routes on ``_table``
  (multi-table replication) the truncate scopes to ITS table: only that
  table's rows drop and the callback receives the table name.
  Re-processing the batch after a crash re-truncates then re-applies —
  idempotent end state.
- **DDL at LSN q**: rows and controls BEFORE q are applied, the DDL is
  recorded as handled (a persisted watermark), the drift callback runs
  (typically: evolve the schema registry), and the batch ABORTS with
  :class:`SchemaDriftDetected` — Spark leaves the batch uncommitted, the
  supervisor restarts the query with the evolved schema, and the batch
  reprocesses idempotently; the recorded watermark stops the same DDL
  from re-triggering, so the restart makes progress. This is exactly
  the schema_drift.py supervisor contract (SURVEY §7 hard part 1): a
  Structured Streaming query has a static schema per run, so mid-stream
  DDL *is* a restart.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transferia_spark import durable
from transferia_spark.cdc.changeitem import (
    LSN_COL,
    OP_COL,
    OP_DDL,
    OP_TRUNCATE,
    split_rows_and_controls,
)


class SchemaDriftDetected(RuntimeError):
    """A DDL control event needs a query restart with an evolved schema.

    Raised AFTER the pre-DDL prefix was applied and the DDL watermark
    persisted; the supervisor catches it (transient, not fatal),
    re-probes the schema, and restarts from the checkpoint.
    """

    def __init__(self, lsn: int, info: str | None = None):
        super().__init__(
            f"ddl control event at lsn {lsn} requires a schema restart"
            + (f": {info}" if info else "")
        )
        self.lsn = lsn
        self.info = info


class ControlRouter:
    """foreachBatch wrapper: route row events to ``sink`` and control
    events to callbacks, in LSN order.

    ``on_truncate()`` must clear the target table; ``on_ddl(lsn)`` runs
    before the restart is requested (evolve the registry there). The
    handled-DDL watermark persists at ``state_file`` so the reprocessed
    batch after the restart flows through.
    """

    def __init__(
        self,
        sink: Callable[[DataFrame, int], None],
        on_truncate: Callable[[], None],
        on_ddl: Callable[[int], None] | None = None,
        state_file: str | None = None,
    ):
        self.sink = sink
        self.on_truncate = on_truncate
        self.on_ddl = on_ddl
        self.state_file = state_file

    def _handled_ddl(self) -> int:
        if not self.state_file:
            return -1
        try:
            with open(self.state_file) as f:
                return int(json.load(f)["ddl_lsn"])
        except (FileNotFoundError, ValueError, KeyError):
            return -1

    def _record_ddl(self, lsn: int) -> None:
        if not self.state_file:
            return
        durable.publish(self.state_file, json.dumps({"ddl_lsn": lsn}))

    def _fire_truncate(self, table: str | None) -> None:
        # zero-arg callbacks (single-table pipelines) stay supported;
        # table-aware callbacks receive the truncated table's name
        import inspect

        if len(inspect.signature(self.on_truncate).parameters) == 0:
            self.on_truncate()
        else:
            self.on_truncate(table)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        rows, controls = split_rows_and_controls(batch_df)
        has_table = "_table" in batch_df.columns
        # controls are rare singletons (one TRUNCATE/DDL statement per
        # stream position) — a bounded driver collect by design
        ctl_cols = [LSN_COL, OP_COL] + (["_table"] if has_table else [])
        ctl = sorted(
            (int(r[LSN_COL]), r[OP_COL], r["_table"] if has_table else None)
            for r in controls.select(*ctl_cols).collect()
        )
        if not ctl:
            self.sink(batch_df, batch_id)
            return
        handled = self._handled_ddl()
        pending_ddl = [
            lsn for lsn, op, _t in ctl if op == OP_DDL and lsn > handled
        ]
        horizon = pending_ddl[0] if pending_ddl else None
        prefix_ctl = [
            (lsn, op, t) for lsn, op, t in ctl if horizon is None or lsn < horizon
        ]
        # a TRUNCATE scopes to ITS table when the stream routes on
        # _table (multi-table replication); without routing it is global
        truncs: dict[str | None, int] = {}
        for lsn, op, t in prefix_ctl:
            if op == OP_TRUNCATE:
                truncs[t] = max(truncs.get(t, 0), lsn)
        prefix_rows = rows
        if horizon is not None:
            prefix_rows = prefix_rows.filter(F.col(LSN_COL) < horizon)
        for t, t_lsn in sorted(truncs.items(), key=lambda kv: kv[1]):
            # rows of that table at-or-before its truncate are wiped anyway
            dead = F.col(LSN_COL) <= t_lsn
            if has_table and t is not None:
                dead = dead & (F.col("_table") == t)
            prefix_rows = prefix_rows.filter(~dead)
            self._fire_truncate(t)
        if prefix_rows.head(1):
            self.sink(prefix_rows, batch_id)
        if horizon is not None:
            self._record_ddl(horizon)
            if self.on_ddl is not None:
                self.on_ddl(horizon)
            raise SchemaDriftDetected(horizon)


__all__ = ["ControlRouter", "SchemaDriftDetected"]
