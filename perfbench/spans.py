"""In-memory span recorder for the traced benchmark pass.

Spans are recorded by wrapping the public entry points of each layer
from the outside (the program itself carries no tracing code). A span
holds its name, start, end, the span that caused it and the run id;
spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run_id": self.run_id, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        orig = getattr(owner, attr)
        if getattr(orig, "_perfbench_traced", False):
            return
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        traced._perfbench_traced = True
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------ queries

    def closed(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.closed(name)]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans
            if c["parent"] == span["id"] and c["end"] is not None
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def layer_self_s(self, layer: str) -> float:
        return sum(
            self.self_time(s) for s in self.spans
            if s["end"] is not None and s["name"].split(".")[0] == layer
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def install(tracer: Tracer) -> None:
    """Wrap every layer boundary the per-layer metrics are built from."""
    # the cdc package re-exports functions under its module names, so
    # the modules themselves come from importlib
    collapse_mod = importlib.import_module("transferia_spark.cdc.collapse")
    merge_mod = importlib.import_module("transferia_spark.cdc.merge")
    from transferia_spark.operators.base import Transformation
    from transferia_spark.plans import transfer
    from transferia_spark.sinks.files import FileSink
    from transferia_spark.sources.files import FileSource
    from transferia_spark.streaming.bucketed_table import (
        BucketedCdcApplySink,
        BucketedParquetTable,
    )
    from transferia_spark.streaming.pipeline import ReplicationPipeline

    tracer.wrap(transfer, "activate", "plans.activate")
    tracer.wrap(FileSource, "table_list", "sources.table_list")
    tracer.wrap(FileSource, "load_table", "sources.load_table")
    tracer.wrap(Transformation, "apply_batch", "operators.apply_batch")
    tracer.wrap(FileSink, "cleanup", "sinks.cleanup")
    tracer.wrap(FileSink, "write", "sinks.write")
    tracer.wrap(ReplicationPipeline, "start", "pipeline.start")
    tracer.wrap(BucketedCdcApplySink, "__call__", "bucketed_table.apply")
    tracer.wrap(BucketedParquetTable, "read", "bucketed_table.read")
    tracer.wrap(BucketedParquetTable, "compact_buckets", "bucketed_table.compact")
    # merge_batch (the read path's delta resolution) holds its own
    # reference to collapse, so both names are wrapped
    tracer.wrap(collapse_mod, "collapse", "collapse.collapse")
    tracer.wrap(merge_mod, "collapse", "collapse.collapse")
