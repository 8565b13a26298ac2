"""Transfer spec + activation: the engine's top-level entry points.

≈ the reference's ``model.Transfer`` (``pkg/abstract/model/transfer.go:17-39``
in transferia/transferia), transfer types SNAPSHOT_ONLY /
INCREMENT_ONLY / SNAPSHOT_AND_INCREMENT (``transfer_type.go:6-10``),
``trcli activate`` flow (``pkg/worker/tasks/activate_delivery.go:27`` →
``load_snapshot.go:65``) and ``trcli upload``
(``upload_tables.go:58``).

The Spark translation of the lifecycle (SURVEY §3.1): the coordinator,
worker pools, part queues and progress trackers all collapse into one
Spark job per table — a table part IS a partition; Spark schedules and
retries them. What remains is exactly this module: spec → table list →
per-table DataFrame → transformation chain → cleanup policy → sink
write → incremental-state commit.
"""

from __future__ import annotations

import enum
import fnmatch
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from transferia_spark.operators.base import Transformation
from transferia_spark.schema.colschema import TableID
from transferia_spark.sinks.base import CleanupPolicy, Sink
from transferia_spark.sources.base import Source
from transferia_spark.sources.incremental import IncrementalState, incremental_read


class TransferType(str, enum.Enum):
    SNAPSHOT_ONLY = "SNAPSHOT_ONLY"
    INCREMENT_ONLY = "INCREMENT_ONLY"
    SNAPSHOT_AND_INCREMENT = "SNAPSHOT_AND_INCREMENT"


@dataclass
class TransferSpec:
    src: Source
    dst: Sink
    type: TransferType = TransferType.SNAPSHOT_ONLY
    transformation: Transformation = field(default_factory=Transformation)
    # include/exclude object lists (≈ model.DataObjects / BuildIncludeMap,
    # storage.go:28-43); glob patterns over fqtn
    include: list[str] | None = None
    exclude: list[str] = field(default_factory=list)
    cleanup: CleanupPolicy = CleanupPolicy.DROP
    # per-table pushdown predicates (WhereStatement)
    filters: dict[str, str] = field(default_factory=dict)
    # incremental cursor column per table + state store
    cursor_cols: dict[str, str] = field(default_factory=dict)
    state: IncrementalState | None = None
    keys: dict[str, list[str]] = field(default_factory=dict)
    # pinned typesystem version → value-representation fallbacks
    # (≈ model/transfer.go:41-57 TypeSystemVersion + typesystem/fallback.go)
    type_system_version: int | None = None
    # ≈ abstract.RegularSnapshot (enabled/interval/cron); the engine
    # exposes the schedule, an external scheduler triggers activate()
    regular_snapshot: dict = field(default_factory=dict)
    # replication endpoint for the `trcli replicate` verb (≈ the
    # provider's replication half the reference derives from the same
    # src endpoint): {source: {format,path,schema,options}, target:
    # {kind,root,keys,n_buckets}, checkpoint_dir, trigger}
    replication: dict = field(default_factory=dict)
    # per-table snapshot progress (≈ snapshot_table_progress_tracker.go):
    # when set, activate() skips tables the store marks completed and
    # marks each table after its write commits — a failed multi-table
    # snapshot resumes instead of restarting from zero
    progress: "object | None" = None


def _selected(spec: TransferSpec, table: TableID) -> bool:
    name = table.fqtn()
    if spec.include is not None and not any(fnmatch.fnmatch(name, p) for p in spec.include):
        return False
    return not any(fnmatch.fnmatch(name, p) for p in spec.exclude)


UNPARSED_SUFFIX = "_unparsed"


def route_unparsed(routed: dict[TableID, "object"]) -> dict[TableID, "object"]:
    """Dead-letter routing for unparsable rows (≈ ``generic_parser.go:575``
    ``NewUnparsed``: rows a parser cannot decode go to a sibling
    ``<table>_unparsed`` table, not into the clean table and not to
    /dev/null).

    Any frame carrying ``_unparsed_raw`` splits: clean rows (marker
    NULL) keep the table, poison rows map onto the reference's unparsed
    schema (``UnparsedSchema``, generic_parser.go:231: _timestamp,
    _partition, _offset, _idx, unparsed_row, reason). Both outputs
    derive from the same plan; sinks that want a strict single pass can
    write the flagged frame partitioned on the marker instead.
    """
    from pyspark.sql import functions as F

    out: dict[TableID, object] = {}
    for table, df in routed.items():
        if "_unparsed_raw" not in df.columns:
            out[table] = df
            continue
        bad = F.col("_unparsed_raw").isNotNull()
        clean_cols = [c for c in df.columns if c not in ("_unparsed_raw", "_error")]
        out[table] = df.filter(~bad).select(*clean_cols)
        dead = df.filter(bad).select(
            (F.col("_timestamp") if "_timestamp" in df.columns else F.current_timestamp()).alias("_timestamp"),
            (F.col("_partition").cast("string") if "_partition" in df.columns else F.lit("")).alias("_partition"),
            (F.col("_offset").cast("long") if "_offset" in df.columns else F.lit(0)).alias("_offset"),
            (F.col("_idx").cast("long") if "_idx" in df.columns else F.lit(0)).alias("_idx"),
            F.col("_unparsed_raw").alias("unparsed_row"),
            (F.col("_error") if "_error" in df.columns else F.lit("unparsed")).alias("reason"),
        )
        out[TableID(table.namespace, table.name + UNPARSED_SUFFIX)] = dead
    return out


def activate(
    spark: SparkSession, spec: TransferSpec, process_count: int | None = None
) -> dict[str, int]:
    """Snapshot load: plan every table, then clean and write each output.

    Plan-then-write (≈ the reference's ProcessCount-bounded semaphore
    over table parts, ``load_snapshot.go:902``): the driver plans every
    pending source table (load, incremental cursor, transformer chain,
    ``route_unparsed``, typesystem fallbacks — all lazy) and
    ``unionByName``s the frames routed onto one output table. A thread
    pool then runs one worker per output table: its cleanup, then its
    single write, so Spark interleaves the tables' jobs. A source
    table's progress mark and cursor commit once every output table it
    fed is written. After the first failed write no further output
    table starts; running ones finish and commit, then the first error
    is raised. Workers inherit the caller's Spark local properties.

    ``process_count=None`` sizes the pool to ``min(#output tables,
    defaultParallelism)`` when both ``spec.src`` and ``spec.dst``
    declare ``parallel_safe``, else 1 (one worker = serial, in table
    order); an explicit ``process_count`` is the pool size.

    Returns per-output-table row counts: -1 written (count not
    materialized), -2 source table skipped as already done by
    ``spec.progress``."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from transferia_spark.sources.incremental import cursor_type_of

    written: dict[str, int] = {}
    pending = []
    for t in spec.src.table_list(spark):
        if not _selected(spec, t):
            continue
        if spec.progress is not None and spec.progress.table_done(t.fqtn()):
            # resumed operation: this table's write committed in a
            # previous run (tracker contract — don't redo it)
            written[t.fqtn()] = -2
        else:
            pending.append(t)
    # activation-scoped one-instant snapshot (r10 ≈ mysql/storage.go:
    # 71-140 single BeginSnapshot): when the source offers it, ALL
    # pending tables' frames materialize under ONE fence round — tables
    # loaded one by one would each open their own instant. A resumed
    # activation fences only the tables still pending.
    preloaded: dict[str, "DataFrame"] = {}
    loader = getattr(spec.src, "load_tables_consistent", None)
    if (
        loader is not None
        and len(pending) > 1
        and getattr(spec.src, "live", {}).get("consistent")
    ):
        preloaded = loader(spark, tables=pending, wheres=spec.filters)

    outputs: dict[TableID, "DataFrame"] = {}
    feeds: dict[str, set[str]] = {}  # source table → outputs not yet written
    cursors: dict[str, tuple] = {}
    for table in pending:
        name = table.fqtn()
        df = preloaded.get(name)
        if df is None:
            df = spec.src.load_table(spark, table, where=spec.filters.get(name))
        cursor = spec.cursor_cols.get(name)
        if spec.type != TransferType.SNAPSHOT_ONLY and spec.state is not None and cursor:
            df, new_cursor = incremental_read(df, cursor, spec.state, name)
            if new_cursor is not None:
                cursors[name] = (new_cursor, cursor_type_of(df, cursor))
        routed = route_unparsed(spec.transformation.apply_batch({table: df}))
        if spec.type_system_version is not None:
            from transferia_spark.schema.typesystem import apply_fallbacks

            routed = {
                t: apply_fallbacks(d, spec.type_system_version)
                for t, d in routed.items()
            }
        for out_table, out_df in routed.items():
            # many-to-one routing: one write holds every source's rows
            prev = outputs.get(out_table)
            outputs[out_table] = (
                out_df if prev is None
                else prev.unionByName(out_df, allowMissingColumns=True)
            )
        feeds[name] = {t.fqtn() for t in routed}

    lock = threading.Lock()
    errors: list[Exception] = []

    def commit(name: str) -> None:
        # AFTER every output write of this source table succeeded
        # (tracker flush ordering; updateIncrementalState,
        # load_snapshot.go:228) — the cursor keeps its column type
        if spec.progress is not None:
            spec.progress.mark_table(name)
        if name in cursors:
            spec.state.set(name, *cursors[name])

    for name in [n for n, outs in feeds.items() if not outs]:
        commit(name)
    if process_count is None:
        safe = spec.src.parallel_safe and spec.dst.parallel_safe
        process_count = (
            min(len(outputs), spark.sparkContext.defaultParallelism) if safe else 1
        )
    workers = max(1, process_count)
    slots = threading.BoundedSemaphore(workers)

    @inheritable_thread_target(spark)
    def write_one(out_table: TableID, df) -> None:
        # cleanup-then-load, once per output table
        spec.dst.cleanup(out_table, spec.cleanup)
        spec.dst.write(df, out_table)
        with lock:
            written[out_table.fqtn()] = -1
            for name, outs in feeds.items():
                if out_table.fqtn() in outs:
                    outs.discard(out_table.fqtn())
                    if not outs:
                        commit(name)

    def run(out_table: TableID, df) -> None:
        try:
            write_one(out_table, df)
        except Exception as e:  # noqa: BLE001 — re-raised by activate
            errors.append(e)
        finally:
            slots.release()

    with ThreadPoolExecutor(max_workers=workers) as pool:
        for out_table, df in outputs.items():
            slots.acquire()
            if errors:
                break  # fail fast: later output tables never start
            pool.submit(run, out_table, df)
    if errors:
        raise errors[0]
    return written


def run_regular_snapshots(
    spark: SparkSession,
    spec: TransferSpec,
    max_runs: int | None = None,
    sleep_fn=None,
) -> list[dict[str, int]]:
    """Scheduled re-snapshots (≈ ``abstract.RegularSnapshot``,
    ``pkg/abstract/regular_snapshot.go:5-19``): re-run ``activate`` on
    the configured interval. With incremental cursor columns declared,
    every run past the first is a delta snapshot (the cursor state
    carries between runs — ``updateIncrementalState`` ordering);
    without them, each run is a full reload under the cleanup policy.

    ``regular_snapshot: {enabled: true, interval: <seconds>}`` in
    transfer.yaml; cron-style schedules belong to an external
    scheduler invoking ``trcli activate``, exactly like the reference's
    control plane. ``max_runs``/``sleep_fn`` exist for tests and
    bounded backfills.
    """
    import time as _time

    cfg = spec.regular_snapshot or {}
    if not cfg.get("enabled", False):
        return [activate(spark, spec)]
    interval = float(cfg.get("interval", 3600))
    sleep = sleep_fn if sleep_fn is not None else _time.sleep
    results: list[dict[str, int]] = []
    while True:
        results.append(activate(spark, spec))
        if max_runs is not None and len(results) >= max_runs:
            return results
        sleep(interval)


def add_tables(
    spark: SparkSession, spec: TransferSpec, tables: list[str]
) -> dict[str, int]:
    """≈ ``tasks.AddTables`` (``worker/tasks/add_tables.go:25``): grow a
    transfer's table set — snapshot-load ONLY the new tables (the
    existing ones are not reloaded), then widen the include list so
    subsequent activations/replication cover them. The reference stops
    the replication job around this; in Spark the streaming query
    restart is the caller's concern (schema_drift supervisor)."""
    if spec.include is None:
        # include=None selects EVERYTHING already (see _selected) —
        # nothing to add, nothing to reload
        return {}
    # include entries are fnmatch patterns (same matching as _selected):
    # a table already covered by any pattern is not "fresh"
    fresh = [
        t
        for t in tables
        if not any(fnmatch.fnmatch(t, pat) for pat in spec.include)
    ]
    counts = upload(spark, spec, fresh) if fresh else {}
    spec.include.extend(fresh)
    return counts


def remove_tables(spec: TransferSpec, tables: list[str]) -> None:
    """≈ ``tasks.RemoveTables``: narrow the transfer — data already
    delivered stays (the reference never deletes on remove), future
    runs exclude the tables."""
    if spec.include:
        # empty include after filtering selects NOTHING (not everything)
        # per _selected — removing every table stops the transfer cold
        spec.include = [t for t in spec.include if t not in tables]
    for t in tables:
        if t not in spec.exclude:
            spec.exclude.append(t)


def upload(spark: SparkSession, spec: TransferSpec, tables: list[str]) -> dict[str, int]:
    """Ad-hoc (re)load of explicit tables (≈ tasks.Upload)."""
    narrowed = TransferSpec(
        src=spec.src,
        dst=spec.dst,
        type=TransferType.SNAPSHOT_ONLY,
        transformation=spec.transformation,
        include=tables,
        exclude=list(spec.exclude),
        cleanup=spec.cleanup,
        filters=dict(spec.filters),
        keys=dict(spec.keys),
    )
    return activate(spark, narrowed)
