"""The two benchmark workloads.

Constructing a workload generates its seeded inputs and reference
results (before any Spark work). ``prepare`` seeds the target and warms
up, timed as part of ``setup_s``; ``measure`` runs the timed phase and
the correctness checks; ``abort`` stops what a pass that raised left
running. Every workload reports the same
end-to-end metrics; README.md says what each one means per workload.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow.compute as pc

import gen
from spans import median

# ------------------------------------------------------------------ common


class Run:
    """Counters and metrics of one pass over a workload."""

    def __init__(self, spark, work: str, seconds: float, tracer=None):
        self.spark = spark
        self.work = work
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.notes: dict[str, object] = {}
        self._marks: list[str] = []
        self._mark_t = time.perf_counter()

    def mark(self, label: str) -> None:
        """Record the time since the previous mark (a note, for sizing)."""
        now = time.perf_counter()
        self._marks.append(f"{label} {now - self._mark_t:.1f}")
        self._mark_t = now
        self.notes["marks"] = ", ".join(self._marks)

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, msg: str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n
        if len(self.errors) < 20:
            self.errors.append(msg)


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond
    it, and its label; with fewer than 40 samples, the maximum."""
    n = len(samples)
    if n == 0:
        return 0.0, "no samples"
    xs = sorted(samples)
    for p in (99, 95, 90, 75):
        k = int(np.ceil(p / 100 * n)) - 1
        if n - 1 - k >= 10:
            return xs[k], f"p{p} of n={n}"
    return xs[-1], f"max of n={n}"


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes, files) of data files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return size, files


def rows_equal(actual: dict | None, expected: dict | None) -> bool:
    if actual is None or expected is None:
        return actual is expected
    return all(actual.get(k) == v for k, v in expected.items())


def noop_write_s(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def bucket_map(table, keys: list[int]) -> dict[int, int]:
    """Bucket of each key under the table's own layout function (one
    Spark job, run during set-up)."""
    spark = table.spark
    df = spark.createDataFrame([(int(k),) for k in keys], "id long")
    return {r[0]: r[1] for r in df.select("id", table._bucket_of().alias("b")).collect()}


def manifest_doc(root: str) -> dict | None:
    """The current manifest, read straight from disk."""
    try:
        with open(os.path.join(root, "_CURRENT")) as f:
            v = int(f.read().strip())
        with open(os.path.join(root, f"_manifest_v{v}.json")) as f:
            return json.load(f)
    except (FileNotFoundError, ValueError):
        return None


class ManifestWatch:
    """Samples the on-disk manifest: deepest pending delta tail seen and
    the number of bucket base rewrites between samples."""

    def __init__(self, root: str):
        self.root = root
        self.pending_max = 0
        self.rewritten = 0
        self._last: dict | None = None

    def sample(self) -> None:
        doc = manifest_doc(self.root)
        if doc is None:
            return
        self.pending_max = max(self.pending_max, len(doc.get("deltas", [])))
        buckets = doc.get("buckets", {})
        if self._last is not None:
            self.rewritten += sum(1 for b, v in buckets.items() if self._last.get(b) != v)
        self._last = dict(buckets)


def timed_lookups(run: Run, read_one, cases: list[tuple[int, dict | None]], warm: int = 0) -> list[float]:
    """Point reads: ``read_one(key)`` returns the row dict or None. The
    first ``warm`` reads are checked but not timed: they compile the
    lookup path, which the reads before them do not use."""
    out = []
    for i, (k, want) in enumerate(cases):
        t = time.perf_counter()
        try:
            got = read_one(k)
        except Exception as e:  # noqa: BLE001 — counted, run continues
            run.fail(f"lookup {k}: {e!r}")
            continue
        if i >= warm:
            out.append(1000 * (time.perf_counter() - t))
        if rows_equal(got, want):
            run.ok()
        else:
            run.fail(f"lookup {k}: got {got}, expected {want}")
    return out


def warm_session(spark, work: str) -> None:
    """JVM class loading, codegen, the parquet writer and reader. Python
    workers are left to the workloads that use them (the WAL source)."""
    path = os.path.join(work, "warm.parquet")
    spark.range(20_000).selectExpr("id", "id * 2 AS v", "cast(id AS string) AS s").write.mode(
        "overwrite").parquet(path)
    df = spark.read.parquet(path)
    df.groupBy((df.id % 7).alias("g")).count().collect()


def count_calls(obj, attr: str) -> list[int]:
    """Count calls to ``obj.attr`` on this one instance. The apply sink
    retries inside one call, so counting ``table.merge`` attempts and
    subtracting ``batches_applied`` gives the retries."""
    orig = getattr(obj, attr)
    calls = [0]

    def counted(*args, **kwargs):
        calls[0] += 1
        return orig(*args, **kwargs)

    setattr(obj, attr, counted)
    return calls


def drain(run: Run, sink) -> float:
    """Wait for the sink's background folds; an error they raise is a
    failed op. Returns the wait in seconds."""
    t = time.perf_counter()
    try:
        sink.wait_for_compaction()
    except Exception as e:  # noqa: BLE001 — a compactor error is a failed op
        run.fail(f"compactor: {e!r}")
    return time.perf_counter() - t


def count_retries(run: Run, sink, attempts: list[int]) -> None:
    retries = attempts[0] - sink.batches_applied
    run.layer["bucketed_table.retries"] = float(retries)
    if retries:
        run.fail(f"apply sink retried {retries} times", n=retries)


# ------------------------------------------------------ snapshot_transfer


class SnapshotTransfer:
    name = "snapshot_transfer"
    N_FACT = 300_000
    WARM_ACTIVATIONS = 3
    MIN_ACTIVATIONS = 5
    LOOKUPS = 10
    WARM_LOOKUPS = 2
    SCANS = 2

    def __init__(self, seed: int, work: str, seconds: float, scale: float = 1.0):
        self.work = work
        rng = np.random.default_rng(seed)
        self.src = os.path.join(work, "src")
        n = int(self.N_FACT * scale)
        self.inputs = gen.gen_snapshot(rng, self.src, n)
        self.expected = gen.snapshot_expected(self.src, self.inputs["tables"])
        self.lookup_keys = [int(k) for k in rng.choice(n, self.LOOKUPS, replace=False)]
        self.lookup_rows = gen.snapshot_rows(self.src, "events", self.lookup_keys)

    def _spec(self, out: str):
        from transferia_spark.operators import Transformation, build
        from transferia_spark.plans.transfer import TransferSpec, TransferType
        from transferia_spark.sinks.base import CleanupPolicy
        from transferia_spark.sinks.files import FileSink
        from transferia_spark.sources.files import FileSource

        chain = (
            Transformation()
            .add(build("filter_rows", filters=[gen.SNAP_FILTER]))
            .add(build("mask_field", columns=gen.SNAP_MASK, salt=gen.SNAP_SALT))
            .add(build("rename_tables", mapping=gen.SNAP_RENAME))
            .add(build("convert_to_string", columns=gen.SNAP_TO_STRING))
        )
        return TransferSpec(
            src=FileSource(path=self.src, format="parquet", tables=self.inputs["tables"]),
            dst=FileSink(path=out, format="parquet"),
            type=TransferType.SNAPSHOT_ONLY,
            transformation=chain,
            cleanup=CleanupPolicy.DROP,
        )

    def prepare(self, run: Run) -> None:
        from transferia_spark.plans import transfer

        self.out = os.path.join(run.work, "snap_out")
        self.spec = self._spec(self.out)
        # full transfers until the JIT has compiled the hot path: the
        # first activations of a fresh JVM run up to twice as long
        for _ in range(self.WARM_ACTIVATIONS):
            transfer.activate(run.spark, self.spec)

    def measure(self, run: Run) -> None:
        from pyspark.sql import functions as F

        from transferia_spark.plans import transfer
        from transferia_spark.schema.colschema import TableID

        spark, rows = run.spark, self.inputs["rows"]
        times: list[float] = []
        t_end = time.perf_counter() + run.seconds
        while time.perf_counter() < t_end or len(times) < self.MIN_ACTIVATIONS:
            t = time.perf_counter()
            try:
                transfer.activate(spark, self.spec)
            except Exception as e:  # noqa: BLE001
                run.fail(f"activate: {e!r}")
                break
            times.append(time.perf_counter() - t)
        lat = [1000 * t for t in times]
        run.e2e |= {
            "rows_per_s": rows / median(times, default=float("inf")),
            "latency_p50_ms": median(lat),
        }
        self.check_output(run)
        sink = self.spec.dst
        sales = TableID("", "sales")

        def read_one(k):
            got = sink.read_back(spark, sales).filter(F.col("id") == k).collect()
            return got[0].asDict() if got else None

        lookups = timed_lookups(run, read_one, [(k, self.lookup_rows.get(k)) for k in self.lookup_keys],
                                warm=self.WARM_LOOKUPS)
        want = self.expected["sales"]
        scans = []
        for _ in range(self.SCANS):
            t = time.perf_counter()
            got = sink.read_back(spark, sales).agg(F.count(F.lit(1)), F.sum("qty")).collect()[0]
            scans.append(1000 * (time.perf_counter() - t))
            if (got[0], got[1]) == (want["rows"], want["qty_sum"]):
                run.ok()
            else:
                run.fail(f"scan: got {tuple(got)}, expected {(want['rows'], want['qty_sum'])}")
        run.e2e |= {
            "lookup_p50_ms": median(lookups),
            "scan_p50_ms": median(scans[1:]),
        }
        run.notes["latency"] = "activate() wall time per full transfer"
        run.notes["activations"] = " ".join(f"{t:.2f}" for t in times)
        run.notes["lookups"] = " ".join(f"{t:.0f}" for t in lookups)
        run.notes["scans"] = " ".join(f"{t:.0f}" for t in scans)
        run.layer["latency_tail_ms"], run.notes["latency_tail"] = tail(lat)
        run.layer["lookup_tail_ms"], run.notes["lookup_tail"] = tail(lookups)
        if run.tracer is not None:
            self.layers(run)

    def abort(self, run: Run) -> None:
        pass  # activate() leaves nothing running

    def check_output(self, run: Run) -> None:
        """Row count and per-column checksums of every output table."""
        import duckdb

        con = duckdb.connect()
        for table, want in self.expected.items():
            path = os.path.join(self.out, table)
            try:
                got = gen.table_checksums(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
            except Exception as e:  # noqa: BLE001
                run.fail(f"{table}: unreadable output {e!r}")
                continue
            bad = [c for c, s in want["sums"].items() if got["sums"].get(c) != s]
            if got["rows"] != want["rows"] or bad:
                run.fail(f"{table}: rows {got['rows']} vs {want['rows']}, columns differ: {bad}")
            else:
                run.ok()
        con.close()

    def layers(self, run: Run) -> None:
        """Per-layer figures from the spans plus the noop-write probes."""
        tr, spark, spec = run.tracer, run.spark, self.spec
        acts = tr.closed("plans.activate")

        def per_activation(name: str) -> list[float]:
            # sum of one layer's spans inside each activate() span
            out = []
            for a in acts:
                out.append(sum(
                    s["end"] - s["start"] for s in tr.closed(name)
                    if a["start"] <= s["start"] and s["end"] <= a["end"]
                ))
            return out

        # probes: scan of the loaded frames, then of the transformed
        # frames, each written to the noop sink (median of three)
        scan_s = exec_s = 0.0
        for t in spec.src.table_list(spark):
            df = spec.src.load_table(spark, t)
            scan_s += median(noop_write_s(df) for _ in range(3))
            for _, out in spec.transformation.apply_batch({t: df}).items():
                exec_s += median(noop_write_s(out) for _ in range(3))
        write_s = median(per_activation("sinks.write"))
        out_bytes, out_files = dir_stats(self.out)
        out_rows = sum(w["rows"] for w in self.expected.values())
        run.layer |= {
            "plans.activate_s": median(tr.durations("plans.activate")),
            "plans.self_s": median(tr.self_time(a) for a in acts),
            "sources.table_list_ms": 1000 * median(per_activation("sources.table_list")),
            "sources.load_table_ms": 1000 * median(per_activation("sources.load_table")),
            "sources.scan_s": scan_s,
            "sources.rows_read": float(self.inputs["rows"]),
            "operators.apply_batch_ms": 1000 * median(per_activation("operators.apply_batch")),
            "operators.exec_s": exec_s - scan_s,
            "operators.rows_out_ratio": out_rows / self.inputs["rows"],
            "sinks.cleanup_ms": 1000 * median(per_activation("sinks.cleanup")),
            "sinks.write_s": write_s,
            "sinks.encode_commit_s": write_s - exec_s,
            "sinks.bytes_written": float(out_bytes),
            "sinks.files_written": float(out_files),
        }


# -------------------------------------------------------- cdc_replication


class CdcReplication:
    name = "cdc_replication"
    RATE = 1000  # events/s offered in phase A (open loop)
    # s between WAL file arrivals in phase A. A micro-batch of one file
    # takes ~0.6-0.9 s at local[3], so each file is its own batch and the
    # lag is the trigger wait plus that batch. Gaps shorter than a batch
    # let batches take one file or two at random, which made the lag
    # swing between runs
    INTERVAL = 1.5
    # the run alternates phase A and phase B this many times, so each
    # metric samples the whole timed phase: a slow spell of the host
    # then moves one round, not one metric's only window
    ROUNDS = 3
    BACKLOG = 15_000  # events per phase B, landed at once in MAX_EVENTS files
    MAX_EVENTS = 5_000  # max_events_per_batch
    # set-up lands the warm files in groups of (files, events per file).
    # A group of three is one batch reading three files in parallel, so
    # every Python worker the timed batches need is started before
    # timing; the last two groups have the shapes of phase A and phase B
    # and compile those batch paths before timing
    WARM_GROUPS = ((3, 1500), (3, 1500), (1, 1500), (2, MAX_EVENTS))
    LOOKUPS = 10
    WARM_LOOKUPS = 2
    N_SEED = 30_000
    N_BUCKETS = 16
    # no bucket reaches its fold threshold (>= MAX_DELTAS pending) within
    # a run, so the timed phases measure decode, planning, commit and
    # delta append only; the one fold after them is timed on its own
    MAX_DELTAS = 32
    SCANS = 1

    def __init__(self, seed: int, work: str, seconds: float, scale: float = 1.0):
        self.work = work
        rng = np.random.default_rng(seed)
        files_a = max(1, int(round(seconds / self.ROUNDS / self.INTERVAL)))
        self.inputs = gen.gen_cdc(
            rng, os.path.join(work, "cdc_in"), int(self.N_SEED * scale),
            [int(e * scale) for n, e in self.WARM_GROUPS for _ in range(n)],
            self.ROUNDS, files_a, int(self.RATE * self.INTERVAL),
            int(self.BACKLOG * scale), self.MAX_EVENTS, self.LOOKUPS,
        )
        self.cols = [gen.KEY] + [c.name for c in gen.CDC_COLS]
        tbl = self.inputs.expected
        self.expected_scan = (tbl.num_rows, int(pc.sum(tbl.column("l1")).as_py()))
        self.query = self.sink = None

    def prepare(self, run: Run) -> None:
        from transferia_spark.streaming.bucketed_table import (
            BucketedCdcApplySink,
            BucketedParquetTable,
        )
        from transferia_spark.streaming.pipeline import ReplicationPipeline
        from transferia_spark.streaming.wal_source import WalJsonDataSource, wal_output_schema

        spark, inp = run.spark, self.inputs
        root = os.path.join(run.work, "cdc")
        self.wal = os.path.join(root, "wal")
        os.makedirs(self.wal)
        self.ckpt = os.path.join(root, "ckpt")
        self.target = BucketedParquetTable(
            spark, os.path.join(root, "target"), keys=[gen.KEY],
            n_buckets=self.N_BUCKETS, merge_mode="delta", max_deltas=self.MAX_DELTAS,
        )
        self.target.overwrite(spark.read.parquet(inp.seed_path))
        run.mark("seed")
        self.watch = ManifestWatch(self.target.root)
        spark.dataSource.register(WalJsonDataSource)
        stream = (
            spark.readStream.format("waljson")
            .schema(wal_output_schema(gen.ddl([gen.Col(gen.KEY, "long")] + gen.CDC_COLS)))
            .option("path", self.wal)
            .option("ack_file", os.path.join(root, "ack.json"))
            .option("max_events_per_batch", str(self.MAX_EVENTS))
            .load()
        )
        self.sink = BucketedCdcApplySink(self.target)
        self.attempts = count_calls(self.target, "merge")
        self.query = ReplicationPipeline(
            stream=stream, sink=self.sink, checkpoint_dir=self.ckpt,
            trigger={"processingTime": "100 milliseconds"},
        ).start("perfbench_cdc")
        run.mark("start")
        g = 0
        for n, _ in self.WARM_GROUPS:
            group = inp.warm[g:g + n]
            for i, (path, _) in enumerate(group, start=g):
                os.rename(path, os.path.join(self.wal, f"0-warm{i:02d}.jsonl"))
            if not self.wait_committed(group[-1][1]):
                raise RuntimeError(f"warm-up files {g}.. were not committed: {self.query.exception()}")
            g += n
        run.mark("warm")

    # ---------------------------------------------------------- offsets

    def _batch_ids(self) -> list[int]:
        try:
            return sorted(int(n) for n in os.listdir(os.path.join(self.ckpt, "commits")) if n.isdigit())
        except FileNotFoundError:
            return []

    def _commit(self, b: int) -> tuple[int, int, float] | None:
        """(batch id, end lsn, commit time) of committed batch ``b``."""
        try:
            mtime = os.stat(os.path.join(self.ckpt, "commits", str(b))).st_mtime
            with open(os.path.join(self.ckpt, "offsets", str(b))) as f:
                end = int(json.loads(f.read().splitlines()[-1])["lsn"])
        except (FileNotFoundError, ValueError, KeyError, IndexError):
            return None
        return b, end, mtime

    def commits(self) -> list[tuple[int, int, float]]:
        return [c for b in self._batch_ids() if (c := self._commit(b)) is not None]

    def committed_end(self) -> int:
        """End lsn of the latest commit (polled, so it reads one file)."""
        ids = self._batch_ids()
        c = self._commit(ids[-1]) if ids else None
        return c[1] if c else 0

    def wait_committed(self, lsn: int, timeout: float = 90.0) -> bool:
        """Whether a commit covers ``lsn`` within ``timeout``; False at
        once when the query has stopped on an error."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.committed_end() >= lsn:
                return True
            if self.query.exception() is not None:
                return False
            time.sleep(0.02)
        return False

    def abort(self, run: Run) -> None:
        if self.query is not None:
            self.query.stop()
        if self.sink is not None:
            drain(run, self.sink)

    # ----------------------------------------------------------- measure

    def measure(self, run: Run) -> None:
        inp = self.inputs
        dues, lates, backlog, landed = [], [], [], []
        drained = True
        for r, rnd in enumerate(inp.rounds):
            # phase A: open loop, one pre-rendered file per INTERVAL
            t0 = time.time() + 0.05
            for i, (path, _, last) in enumerate(rnd.phase_a):
                due = t0 + i * self.INTERVAL
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                os.rename(path, os.path.join(self.wal, os.path.basename(path)))
                lates.append(1000 * (time.time() - due))
                dues.append(due)
                backlog.append(last - self.committed_end())
                self.watch.sample()
            if not self.wait_committed(rnd.phase_a[-1][2]):
                drained = False
                break
            # phase B: the backlog lands at once, one file per batch
            landed.append(time.time())
            for path in rnd.backlog:
                os.rename(path, os.path.join(self.wal, os.path.basename(path)))
            if not self.wait_committed(rnd.end_lsn):
                drained = False
                break
        run.mark("rounds")
        commits = self.commits()
        self.watch.sample()
        progress = list(self.query.recentProgress)
        error = self.query.exception()
        self.query.stop()
        drain_s = drain(run, self.sink)
        self.watch.sample()
        if error is not None:
            run.fail(f"replication query failed: {error}")
        if not drained:
            run.fail("a round did not drain", n=inp.final_lsn - self.committed_end())
        # lag per event: from its file's due time to the commit of the
        # first batch whose end offset covers its lsn
        ends = np.array([c[1] for c in commits])
        times = np.array([c[2] for c in commits])
        lags = []
        files_a = [f for rnd in inp.rounds for f in rnd.phase_a]
        for (_, first, last), due in zip(files_a, dues):
            lsns = np.arange(first, last + 1)
            at = np.searchsorted(ends, lsns)
            ok = at < len(ends)
            lags.append(1000 * (times[at[ok]] - due))
        lags = np.concatenate(lags) if lags else np.array([])
        # catch-up per round: from landing its backlog to the commit of
        # the first batch that covers all of it
        rates = []
        for rnd, tb in zip(inp.rounds, landed):
            done = [c[2] for c in commits if c[1] >= rnd.end_lsn]
            if done:
                rates.append(rnd.backlog_events / (done[0] - tb))
        run.e2e |= {
            "rows_per_s": median(rates),
            "latency_p50_ms": float(np.percentile(lags, 50)) if lags.size else 0.0,
        }
        run.mark("stop")
        count_retries(run, self.sink, self.attempts)
        # fold the whole delta tail, so the reads below take the base
        # path whatever the batch boundaries of this run were
        t = time.perf_counter()
        self.target.compact()
        run.layer["bucketed_table.final_fold_s"] = time.perf_counter() - t
        run.mark("fold")
        self.buckets = bucket_map(self.target, [k for k, _ in inp.lookups])
        self.verify(run)
        run.mark("verify")
        lookups = timed_lookups(run, self.read_one, inp.lookups, warm=self.WARM_LOOKUPS)
        scans = self.scans(run)
        run.mark("lookups+scans")
        run.e2e |= {
            "lookup_p50_ms": median(lookups),
            "scan_p50_ms": median(scans),
        }
        run.notes["latency"] = "per-event lag, file due time to checkpoint commit"
        run.notes["batches"] = " ".join(f"{p.numInputRows}:{p.durationMs.get('triggerExecution',0)}" for p in progress if p.numInputRows)
        run.notes["lookups"] = " ".join(f"{t:.0f}" for t in lookups)
        run.notes["catchup_rows_per_s"] = " ".join(f"{x:.0f}" for x in rates)
        run.notes["phase_a"] = f"{self.RATE} events/s in {len(files_a)} files, one per {self.INTERVAL}s"
        run.layer["latency_tail_ms"], run.notes["latency_tail"] = tail(list(lags))
        run.layer["lookup_tail_ms"], run.notes["lookup_tail"] = tail(lookups)
        run.layer |= {
            "open_loop.late_ms": float(np.percentile(lates, 99)) if lates else 0.0,
            "pipeline.backlog_events": float(max(backlog, default=0)),
            "bucketed_table.compact_drain_s": drain_s,
            "bucketed_table.pending_deltas_max": float(self.watch.pending_max),
            "bucketed_table.buckets_rewritten": float(self.watch.rewritten),
            "bucketed_table.bytes_on_disk": float(dir_stats(self.target.root)[0]),
        }
        self.pipeline_layers(run, progress)
        if run.tracer is not None:
            self.layers(run)

    def pipeline_layers(self, run: Run, progress) -> None:
        busy = [p for p in progress if p.numInputRows > 0]

        def dur(key: str) -> float:
            return median(p.durationMs.get(key, 0) for p in busy)

        run.layer |= {
            "pipeline.latest_offset_ms": dur("latestOffset"),
            "pipeline.query_planning_ms": dur("queryPlanning"),
            "pipeline.add_batch_ms": dur("addBatch"),
            "pipeline.wal_commit_ms": dur("walCommit"),
            "pipeline.commit_offsets_ms": dur("commitOffsets"),
            "pipeline.trigger_ms": dur("triggerExecution"),
            "pipeline.batches": float(len(busy)),
            "pipeline.rows_per_batch": median(p.numInputRows for p in busy),
        }

    def read_one(self, k: int) -> dict | None:
        from pyspark.sql import functions as F

        got = (
            self.target.read(buckets=[self.buckets[k]])
            .filter(F.col(gen.KEY) == k).select(*self.cols).collect()
        )
        return got[0].asDict() if got else None

    def scans(self, run: Run) -> list[float]:
        from pyspark.sql import functions as F

        out = []
        for _ in range(self.SCANS):
            t = time.perf_counter()
            got = self.target.read().agg(F.count(F.lit(1)), F.sum("l1")).collect()[0]
            out.append(1000 * (time.perf_counter() - t))
            if (got[0], got[1]) == self.expected_scan:
                run.ok()
            else:
                run.fail(f"scan: got {tuple(got)}, expected {self.expected_scan}")
        return out

    def verify(self, run: Run) -> None:
        """Exact key→row equality of the replicated table."""
        actual = self.target.read().select(*self.cols).toArrow()
        bad = gen.compare_tables(actual, self.inputs.expected)
        n = self.inputs.final_lsn - self.inputs.warm_end
        if bad:
            run.fail(f"target differs: {bad}", n=1)
            run.ok(n - 1)
        else:
            run.ok(n)

    def layers(self, run: Run) -> None:
        import pyarrow.parquet as pq

        from transferia_spark.cdc.collapse import collapse

        tr = run.tracer
        applies = tr.durations("bucketed_table.apply")
        rate, decoded = wal_decode(self.wal)
        # collapse probe: every event of the run as one batch
        path = os.path.join(run.work, "decoded.parquet")
        pq.write_table(decoded, path)
        folded = collapse(run.spark.read.parquet(path), [gen.KEY])
        exec_ms = [1000 * noop_write_s(folded) for _ in range(3)]
        run.layer |= {
            "bucketed_table.apply_ms": 1000 * median(applies),
            "bucketed_table.compact_ms": 1000 * median(tr.durations("bucketed_table.compact")),
            "bucketed_table.compact_calls": float(len(tr.durations("bucketed_table.compact"))),
            "bucketed_table.read_plan_ms": 1000 * median(tr.durations("bucketed_table.read")),
            "wal_source.decode_rows_per_s": rate,
            "collapse.exec_ms": median(exec_ms),
            "collapse.fold_ratio": folded.count() / decoded.num_rows,
        }


def wal_decode(wal_dir: str):
    """Rows/s of the WAL reader called directly (planning plus decode of
    every generated file, in the driver process), and the decoded rows
    as one arrow table."""
    import pyarrow as pa

    from transferia_spark.streaming.wal_source import WalJsonStreamReader, wal_output_schema

    schema = wal_output_schema(gen.ddl([gen.Col(gen.KEY, "long")] + gen.CDC_COLS))
    t = time.perf_counter()
    reader = WalJsonStreamReader(schema, {"path": wal_dir})
    start, end = reader.initialOffset(), reader.latestOffset()
    # every payload column is arrow-safe, so the reader yields batches
    batches = [b for part in reader.partitions(start, end) for b in reader.read(part)]
    rate = sum(b.num_rows for b in batches) / (time.perf_counter() - t)
    return rate, pa.Table.from_batches(batches)


WORKLOADS = {w.name: w for w in (SnapshotTransfer, CdcReplication)}
