"""Metrics parity with the reference's ``pkg/stats``.

The reference threads a metrics registry through every source, sink,
and middleware (``pkg/stats/{sinker,source,middleware_*}.go``):
counters (``sinker.transactions.total``, parsed/unparsed rows), timers
(``sinker.time.push``), and per-table row gauges
(``SinkerStats.Table``, capped at 1000 tables —
``sinker.go:47-56``). In Spark the equivalents are:

- batch path: ``DataFrame.observe`` aggregates (computed inline by the
  job, no second scan) harvested into the registry after the action;
- streaming path: a ``StreamingQueryListener`` that folds every
  progress event's ``observedMetrics`` / ``numInputRows`` / batch
  duration into the same registry.

The registry itself is a minimal in-memory structure with the
reference's metric-name conventions; anything cloud-specific
(Solomon/Prometheus push, ``pkg/stats/server.go``) is out of scope —
``snapshot()`` returns a plain dict a scraper can export.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

MAX_TABLES = 1000  # sinker.go caps per-table series the same way


class MetricsRegistry:
    """Thread-safe counters / gauges / timers, named like the
    reference (``sinker.transactions.total``, ``sinker.time.push``,
    ``sinker.table.rows``)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._counters: dict[str, float] = defaultdict(float)
        self._gauges: dict[str, float] = {}
        # name -> [count, total_s, max_s]: running values, so a timer's
        # memory stays constant for the life of a replication
        self._timers: dict[str, list] = {}

    def counter_add(self, name: str, delta: float = 1.0) -> None:
        with self._lock:
            self._counters[name] += delta

    def gauge_set(self, name: str, value: float) -> None:
        with self._lock:
            self._gauges[name] = value

    def timer_record(self, name: str, seconds: float) -> None:
        with self._lock:
            t = self._timers.get(name)
            if t is None:
                self._timers[name] = [1, seconds, seconds]
            else:
                t[0] += 1
                t[1] += seconds
                t[2] = max(t[2], seconds)

    def table_rows(self, table: str, metric: str, rows: float) -> None:
        """≈ ``SinkerStats.Table`` — per-table counter with the series
        cap."""
        with self._lock:
            key = f"sinker.table.{metric}.{table}"
            n_tables = sum(1 for k in self._counters if k.startswith("sinker.table."))
            if key not in self._counters and n_tables >= MAX_TABLES:
                return
            self._counters[key] += rows

    def snapshot(self) -> dict[str, Any]:
        with self._lock:
            return {
                "counters": dict(self._counters),
                "gauges": dict(self._gauges),
                "timers": {
                    k: {"count": n, "total_s": total, "max_s": mx}
                    for k, (n, total, mx) in self._timers.items()
                },
            }


class ObservedBatch:
    """Batch-path metering: wrap a frame with ``observe`` aggregates,
    run the action, then ``harvest`` folds the observed values into the
    registry — one scan total (the observation computes inline).

        ob = ObservedBatch(registry, table="ns.users")
        df = ob.attach(df)
        df.write...            # the action
        ob.harvest()
    """

    def __init__(self, registry: MetricsRegistry, table: str):
        self.registry, self.table = registry, table
        self.obs = Observation()

    def attach(self, df: DataFrame) -> DataFrame:
        return df.observe(
            self.obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                F.when(F.col(df.columns[0]).isNull(), 0).otherwise(1)
            ).alias("first_col_non_null"),
        )

    def harvest(self) -> dict:
        got = self.obs.get
        rows = got.get("rows", 0) or 0
        self.registry.counter_add("sinker.transactions.total")
        self.registry.table_rows(self.table, "rows", rows)
        return got


def timed_push(registry: MetricsRegistry):
    """Context manager recording ``sinker.time.push`` (≈
    ``SinkerStats.Elapsed``)."""

    class _Timer:
        def __enter__(self):
            self.t0 = time.time()
            return self

        def __exit__(self, *exc):
            registry.timer_record("sinker.time.push", time.time() - self.t0)
            return False

    return _Timer()


def make_streaming_listener(registry: MetricsRegistry):
    """StreamingQueryListener harvesting progress into the registry:
    input rows (``source.count``), observed metrics from the
    pipeline's ``observe`` node (``rows_pushed``), and batch duration
    (``sinker.time.push``). Register with
    ``spark.streams.addListener(make_streaming_listener(reg))``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            registry.counter_add("worker.queries.started")

        def onQueryProgress(self, event):
            p = event.progress
            registry.counter_add("source.count", p.numInputRows or 0)
            registry.gauge_set(
                "source.rows_per_second", p.processedRowsPerSecond or 0.0
            )
            dur = (p.durationMs or {}).get("triggerExecution")
            if dur is not None:
                registry.timer_record("sinker.time.push", dur / 1000.0)
            for name, row in (p.observedMetrics or {}).items():
                d = row.asDict() if hasattr(row, "asDict") else dict(row)
                for k, v in d.items():
                    if isinstance(v, (int, float)) and v is not None:
                        registry.counter_add(f"observed.{name}.{k}", v)

        def onQueryTerminated(self, event):
            registry.counter_add("worker.queries.terminated")

        def onQueryIdle(self, event):
            pass

    return _Listener()


__all__ = [
    "MetricsRegistry",
    "ObservedBatch",
    "timed_push",
    "make_streaming_listener",
    "MAX_TABLES",
]
