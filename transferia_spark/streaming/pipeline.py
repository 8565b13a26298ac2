"""Replication pipeline assembly: source → transform chain → sink.

≈ ``BasicStrategy`` + ``sink_factory.MakeAsyncSink``
(``pkg/replicationstrategy/basic_strategy.go:93``,
``pkg/sink_factory/sink_factory.go:31-197``): the reference wraps the
sink in a fixed middleware order (metering → transformation → type
strictness → filter → stats → bufferer → retrier → sink). In Spark
that order maps to:

  readStream (source, checkpointed offsets)
    → Transformation chain (narrow DataFrame ops = the transformer
      middlewares, fused by Catalyst)
    → observe() counters (Statistician/metering)
    → trigger interval (Bufferer TriggingInterval, default 333 ms →
      we default to availableNow/processingTime per caller)
    → foreachBatch sink with retry (Retrier) and idempotent apply

Run modes mirror transfer types (``pkg/abstract/transfer_type.go``):
`start()` = INCREMENT_ONLY; a prior batch load + `start()` =
SNAPSHOT_AND_INCREMENT (overlap dedup via snapshot_plus_changelog).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from transferia_spark.operators.base import Transformation
from transferia_spark.schema.colschema import TableID


@dataclass
class ReplicationPipeline:
    """One continuous transfer: stream → per-table transform chain →
    foreachBatch sink.

    ``sink`` is any callable ``(DataFrame, batch_id) -> None`` —
    typically a ``BucketedCdcApplySink``; ``transformation`` applies
    before the sink exactly like the reference's transformation
    middleware.
    """

    stream: DataFrame
    sink: Callable[[DataFrame, int], None]
    table: TableID = field(default_factory=lambda: TableID("", "stream"))
    transformation: Transformation | None = None
    checkpoint_dir: str | None = None
    trigger: dict | None = None  # e.g. {"availableNow": True} / {"processingTime": "333 milliseconds"}
    observe_counters: bool = True
    # optional pkg/stats-parity registry: when set, a
    # StreamingQueryListener folds progress (input rows, observed
    # counters, batch durations) into it — registered on the first
    # start and reused by every restart, so nothing is counted twice
    registry: object | None = None
    _listener: object | None = field(default=None, init=False, repr=False)

    def transformed(self) -> DataFrame:
        df = self.stream
        if self.transformation is not None:
            from transferia_spark.cdc.changeitem import (
                OP_COL,
                split_rows_and_controls,
            )

            if OP_COL in df.columns:
                # ≈ nonrow_separator.go: the transformation middleware
                # sees ROW items only. Control ChangeItems (TRUNCATE /
                # DDL) carry NULL payloads — a filter or cast
                # transformer would silently drop or corrupt them, and
                # a lost TRUNCATE leaves rows that should be wiped.
                # Split, transform rows, then re-join the controls
                # projected onto the transformed schema (controls only
                # ever carry meta columns; anything else rides NULL).
                rows, controls = split_rows_and_controls(df)
                routed = self.transformation.apply(self.table, rows)
                assert len(routed) == 1, (
                    "streaming fan-out: use one pipeline per route"
                )
                out = routed[0][1]
                ctl_types = {
                    f.name: f.dataType for f in controls.schema.fields
                }
                df = out.unionByName(
                    controls.select(
                        *[
                            (
                                F.col(f.name)
                                if ctl_types.get(f.name) == f.dataType
                                else F.lit(None).cast(f.dataType)
                            ).alias(f.name)
                            for f in out.schema.fields
                        ]
                    )
                )
            else:
                routed = self.transformation.apply(self.table, df)
                assert len(routed) == 1, (
                    "streaming fan-out: use one pipeline per route"
                )
                df = routed[0][1]
        if self.observe_counters:
            df = df.observe(
                "transferia_metrics", F.count(F.lit(1)).alias("rows_pushed")
            )
        return df

    def start(self, query_name: str = "replication") -> StreamingQuery:
        if self.registry is not None and self._listener is None:
            from transferia_spark.stats import make_streaming_listener

            self._listener = make_streaming_listener(self.registry)
            self.stream.sparkSession.streams.addListener(self._listener)
        writer = (
            self.transformed()
            .writeStream.queryName(query_name)
            # update mode: with foreachBatch this behaves as append for
            # non-aggregated streams and emits changed groups for
            # windowed aggs — the sink decides how to apply either way
            .outputMode("update")
            .foreachBatch(self.sink)
        )
        if self.checkpoint_dir:
            writer = writer.option("checkpointLocation", self.checkpoint_dir)
        trigger = self.trigger or {"processingTime": "333 milliseconds"}
        writer = writer.trigger(**trigger)
        return writer.start()

    def run_available(self, query_name: str = "replication_batch") -> None:
        """Process everything currently available, then stop — the
        snapshot-catchup / test mode (trigger availableNow)."""
        self.trigger = {"availableNow": True}
        q = self.start(query_name)
        q.awaitTermination()
