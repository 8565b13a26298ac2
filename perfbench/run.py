"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload snapshot_transfer --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
measured with tracing off; with ``--trace 1`` they are the per-layer
metrics: an untraced pass, a traced pass (spans around each layer's
public calls, plus noop-write probes), the tracing overhead as traced
minus untraced, and a single-core (``local[1]``) baseline pass on a
quarter of the input. The passes of a traced run are half as long, on
half the input, as the one pass of an untraced run.

Inputs are generated from ``--seed`` under ``.perfbench_work/`` in the
repository root, which is removed when the run ends. Spark runs in
``local[n]`` with ``n = min(4, cores - 1)``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# one core stays free for the driver's own Python and JVM threads
CPUS = max(1, min(4, (os.cpu_count() or 2) - 1))


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True, name="rss-sampler")
        self.period = period
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def reset(self) -> None:
        self.peak = 0

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._halt.wait(self.period)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def configure_env(work: str, cpus: int) -> None:
    """Keep every file Spark and the JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1536m")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_session(work: str):
    from transferia_spark import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # a heap of fixed size: a heap that grows on demand makes the
            # GC work of a run depend on when it grew
            "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        },
    )


def stop_jvm() -> None:
    """Stop Spark and the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, then reap
            proc.kill()
            proc.wait()


def guarded(run, wl, phase: str, fn) -> bool:
    """Run one phase of a pass. An exception is a failed op: the pass
    stops, the workload stops what it left running, and the metrics
    measured so far still print."""
    try:
        fn(run)
        return True
    except Exception as e:  # noqa: BLE001 — reported, not raised
        run.fail(f"{phase}: {e!r}")
    try:
        wl.abort(run)
    except Exception as e:  # noqa: BLE001
        run.fail(f"abort: {e!r}")
    return False


def one_pass(workload_cls, seed: int, work: str, seconds: float, spark, session_s: dict,
             rss: RssSampler, tracer=None, scale: float = 1.0):
    """Generate inputs, set up, measure. Returns the filled ``Run``."""
    from workloads import Run

    os.makedirs(work, exist_ok=True)
    t = time.perf_counter()
    wl = workload_cls(seed, work, seconds, scale=scale)
    gen_s = time.perf_counter() - t
    run = Run(spark, work, seconds, tracer)
    rss.reset()
    t = time.perf_counter()
    prepared = guarded(run, wl, "prepare", wl.prepare)
    prepare_s = time.perf_counter() - t
    t = time.perf_counter()
    if prepared:
        guarded(run, wl, "measure", wl.measure)
    run.notes["phases"] = f"gen {gen_s:.1f}s session {session_s['get_spark_s']:.1f}+{session_s['warmup_s']:.1f}s prepare {prepare_s:.1f}s measure {time.perf_counter() - t:.1f}s"
    run.e2e["setup_s"] = session_s["get_spark_s"] + session_s["warmup_s"] + prepare_s
    run.e2e["peak_rss_mb"] = rss.peak / (1 << 20)
    run.layer["session.get_spark_s"] = session_s["get_spark_s"]
    run.layer["session.warmup_s"] = session_s["warmup_s"]
    shutil.rmtree(work, ignore_errors=True)
    return run


def layer_metrics(untraced, traced, baseline, e2e_names) -> dict[str, float]:
    """Per-layer figures of a traced run: the traced pass's layers and
    self times, the overhead, and the single-core baseline."""
    tr = traced.tracer
    # untraced figures that are per-layer here (tails, scans, memory,
    # open-loop lateness), then the traced pass's layer figures
    out = untraced.e2e | untraced.layer | traced.layer
    runs = (untraced, traced, baseline)
    out["failed_ops_share"] = sum(r.failed for r in runs) / max(1, sum(r.attempted for r in runs))
    for layer in ("sources", "operators", "sinks", "pipeline", "bucketed_table", "collapse"):
        out[f"{layer}.self_ms"] = 1000 * tr.layer_self_s(layer)
    for m in e2e_names:
        out[f"overhead.{m}"] = traced.e2e.get(m, 0.0) - untraced.e2e.get(m, 0.0)
    out["baseline_1cpu.rows_per_s"] = baseline.e2e.get("rows_per_s", 0.0)
    out["baseline_1cpu.latency_p50_ms"] = baseline.e2e.get("latency_p50_ms", 0.0)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="write the traced pass's spans here (JSON lines)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "transferia_spark", "__init__.py")):
        print(f"perfbench: no transferia_spark package in {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from workloads import WORKLOADS, warm_session

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work, CPUS)
    rss = RssSampler()
    rss.start()
    try:
        t = time.perf_counter()
        spark = start_session(work)
        session = {"get_spark_s": time.perf_counter() - t}
        t = time.perf_counter()
        warm_session(spark, work)
        session["warmup_s"] = time.perf_counter() - t
        # a traced run makes three passes, so each is half the length and
        # half the input of an untraced run's one pass
        seconds, scale = (args.seconds / 2, 0.5) if args.trace else (args.seconds, 1.0)
        main_run = one_pass(cls, args.seed, os.path.join(work, "main"), seconds, spark, session, rss,
                            scale=scale)
        runs = [main_run]
        if args.trace:
            from spans import Tracer, install

            tracer = Tracer(f"{args.workload}-{args.seed}")
            install(tracer)
            try:
                traced = one_pass(cls, args.seed, os.path.join(work, "traced"), seconds, spark,
                                  session, rss, tracer=tracer, scale=scale)
            finally:
                tracer.restore()
            if args.spans_out:
                tracer.dump(args.spans_out)
            # single-core baseline: same job on local[1], a quarter of the
            # input
            spark.stop()
            os.environ["SPARK_GRAFT_CPUS"] = "1"
            t = time.perf_counter()
            spark = start_session(work)
            restart = {"get_spark_s": time.perf_counter() - t, "warmup_s": 0.0}
            base = one_pass(cls, args.seed, os.path.join(work, "base"), seconds, spark, restart,
                            rss, scale=0.25)
            runs += [traced, base]
            e2e_names = [m["name"] for m in spec["end_to_end"]]
            metrics_all = layer_metrics(main_run, traced, base, e2e_names)
            wanted = spec["per_layer"]
        else:
            metrics_all = main_run.e2e
            wanted = spec["end_to_end"]
    finally:
        rss.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    metrics = {}
    for m in wanted:
        # a layer the workload does not use reports 0 (idle)
        metrics[m["name"]] = {"value": float(metrics_all.get(m["name"], 0.0)), "unit": m["unit"]}
    for r in runs:
        for e in r.errors:
            print(f"FAILED: {e}")
    for k, v in main_run.notes.items():
        print(f"note {k}: {v}")
    for label, r in zip(("traced", "baseline"), runs[1:]):
        print(f"note {label} phases: {r.notes.get('phases')}; marks: {r.notes.get('marks')}")
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:>16.4f} {m['unit']}")
    share = failed / attempted if attempted else 1.0
    print(f"failed_ops_share {share:.6f} ({failed} of {attempted}); correct={failed == 0}")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
