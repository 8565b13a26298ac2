"""Snapshot resume via per-table/per-part progress
(≈ snapshot_table_progress_tracker.go: a failed multi-table load must
not restart from zero)."""

from __future__ import annotations

import os
import time

import pytest

from transferia_spark.plans.transfer import TransferSpec, activate
from transferia_spark.schema.colschema import TableID
from transferia_spark.sinks.base import CleanupPolicy
from transferia_spark.sinks.files import FileSink
from transferia_spark.sources.base import Source
from transferia_spark.sources.files import FileSource
from transferia_spark.tasks.progress import SnapshotProgress


def test_progress_store_tables_and_parts(tmp_path):
    p = SnapshotProgress(str(tmp_path / "prog.json"), operation_id="op1")
    assert not p.table_done("a")
    p.mark_table("a", rows=10)
    assert p.table_done("a") and not p.table_done("b")

    p.mark_part("b", "part-0")
    p.mark_part("b", "part-2")
    assert p.part_done("b", "part-0") and not p.part_done("b", "part-1")
    assert p.pending_parts("b", ["part-0", "part-1", "part-2", "part-3"]) == [
        "part-1", "part-3",
    ]
    # table completion is independent of part records
    assert not p.table_done("b")

    # operations are isolated
    other = SnapshotProgress(str(tmp_path / "prog.json"), operation_id="op2")
    assert not other.table_done("a")
    p.clear()
    assert not p.table_done("a")
    assert other._load() is not None  # file survives clear of one op


class _FlakySink(FileSink):
    """Fails the write of a named table once, then heals — simulating
    a snapshot dying partway through the table list."""

    def __init__(self, path, fail_table):
        super().__init__(path=path, format="parquet")
        self.fail_table = fail_table
        self.writes: list[str] = []

    def write(self, df, table):
        if table.name == self.fail_table:
            raise RuntimeError(f"injected failure on {table.name}")
        self.writes.append(table.name)
        super().write(df, table)


def test_activate_resumes_from_completed_tables(spark, sf_dir, tmp_path):
    out = str(tmp_path / "out")
    progress = SnapshotProgress(str(tmp_path / "progress.json"), operation_id="xfer-1")

    def spec(sink):
        return TransferSpec(
            src=FileSource(path=sf_dir, format="parquet",
                           tables=["nation", "region"]),
            dst=sink,
            cleanup=CleanupPolicy.DISABLED,
            progress=progress,
        )

    flaky = _FlakySink(out, fail_table="region")
    with pytest.raises(RuntimeError, match="injected"):
        activate(spark, spec(flaky))
    assert flaky.writes == ["nation"]          # nation committed before the crash
    assert progress.table_done("nation") and not progress.table_done("region")

    healed = _FlakySink(out, fail_table="<none>")
    written = activate(spark, spec(healed))
    assert healed.writes == ["region"]         # nation NOT re-read or re-written
    assert written["nation"] == -2             # reported as resumed-skip
    assert spark.read.parquet(os.path.join(out, "region")).count() == 5
    assert spark.read.parquet(os.path.join(out, "nation")).count() == 25


class _SixTables(Source):
    TYPE = "_six"
    parallel_safe = True

    def table_list(self, spark):
        return [TableID("", f"t{i}") for i in range(1, 7)]

    def load_table(self, spark, table, where=None):
        return spark.createDataFrame([(table.name,)], "name string")


def test_activate_fails_fast_on_first_write_error(spark, tmp_path):
    """The first failed write stops the activation: output tables not
    yet started are neither written nor marked done, the one already
    running finishes and commits its progress, and the first error is
    raised."""
    progress = SnapshotProgress(str(tmp_path / "progress.json"), operation_id="xfer-ff")
    sink = _FlakySink(str(tmp_path / "out"), fail_table="t1")
    with pytest.raises(RuntimeError, match="injected failure on t1"):
        activate(spark, TransferSpec(src=_SixTables(), dst=sink, progress=progress),
                 process_count=2)
    assert sink.writes == ["t2"]
    assert [t for t in ("t1", "t2", "t3", "t4", "t5", "t6")
            if progress.table_done(t)] == ["t2"]
    for t in ("t3", "t4", "t5", "t6"):
        assert not os.path.exists(tmp_path / "out" / t)


def test_progress_commits_once_after_all_outputs_under_contention(spark):
    """Every source table feeds two outputs (its clean rows and its
    ``_unparsed`` dead letters). With more pool workers than cores and
    a short switch interval, each source is marked done exactly once,
    and only after both its outputs were written."""
    import sys
    import threading

    from transferia_spark.sinks.base import Sink

    sources = [f"s{i}" for i in range(12)]

    class DualSource(Source):
        TYPE = "_dual"
        parallel_safe = True

        def table_list(self, spark):
            return [TableID("", s) for s in sources]

        def load_table(self, spark, table, where=None):
            return spark.createDataFrame([(1, None), (2, "bad")], "v long, _unparsed_raw string")

    lock = threading.Lock()
    written: set[str] = set()
    marks: list[tuple[str, bool]] = []

    class RecordingSink(Sink):
        TYPE = "_rec"
        parallel_safe = True

        def cleanup(self, table, policy):
            pass

        def write(self, df, table):
            with lock:
                written.add(table.fqtn())

    class Progress:
        def table_done(self, name):
            return False

        def mark_table(self, name):
            with lock:
                marks.append((name, {name, f"{name}_unparsed"} <= written))

    errors: list[BaseException] = []

    def run():
        try:
            activate(spark, TransferSpec(src=DualSource(), dst=RecordingSink(),
                                         progress=Progress()), process_count=16)
        except BaseException as e:  # noqa: BLE001 — surfaced by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        t = threading.Thread(target=run)
        t.start()
        t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not t.is_alive() and errors == []
    assert len(written) == 2 * len(sources)
    assert sorted(marks) == sorted((s, True) for s in sources)


class _Ids(Source):
    """One table ``t`` of ids 0..n-1 in 4 partitions; with ``fail_at``
    the task holding that id raises after the others committed."""

    TYPE = "_ids"

    def __init__(self, n, fail_at=None):
        self.n, self.fail_at = n, fail_at

    def table_list(self, spark):
        return [TableID("", "t")]

    def load_table(self, spark, table, where=None):
        from pyspark.sql import functions as F

        df = spark.range(0, self.n, 1, 4)
        if self.fail_at is None:
            return df
        fail_at = self.fail_at

        def check(i):
            if i == fail_at:
                time.sleep(2)
                raise RuntimeError("task failed mid-job")
            return i

        return df.select(F.udf(check, "long")("id").alias("id"))


def test_failed_drop_activation_keeps_previous_table(spark, tmp_path):
    """A DROP activation whose write dies mid-job leaves the previous
    activation's table readable and whole: the new copy was only
    staged, and the old one goes only once a new one is in."""
    from pyspark.sql import functions as F

    sink = FileSink(path=str(tmp_path / "out"), format="parquet")

    def run(src):
        activate(spark, TransferSpec(src=src, dst=sink,
                                     cleanup=CleanupPolicy.DROP))

    def state():
        df = sink.read_back(spark, TableID("", "t"))
        return tuple(df.agg(F.count(F.lit(1)), F.sum("id")).collect()[0])

    run(_Ids(100))
    with pytest.raises(Exception, match="task failed mid-job"):
        run(_Ids(200, fail_at=150))
    assert state() == (100, sum(range(100)))
    run(_Ids(200))
    assert state() == (200, sum(range(200)))
    assert sorted(os.listdir(tmp_path / "out")) == [".t.lock", "t"]
