"""Steadiness check: repeat a workload over several seeds and report,
per metric, the median, the quartiles and the spread (distance between
the quartiles as a share of the median, from
``statistics.quantiles(values, n=4)``). Metrics whose spread exceeds a
third of their bound in BENCHMARK.json are flagged.

    python3 perfbench/steady.py --workload snapshot_transfer
    python3 perfbench/steady.py --workload cdc_replication --seeds 11 12 13 --json out.json

Each run is ``run.py --trace 0`` (the end-to-end metrics, which carry
the bounds); seeds default to 100-104.

Run from the repository root; runs are sequential, one Spark at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    out["notes"] = [ln for ln in lines if ln.startswith(("note ", "FAILED"))]
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, spread) with spread = (q3 - q1) / median."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, ((q3 - q1) / abs(med)) if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=list(range(100, 105)))
    ap.add_argument("--json", help="also write every run's result here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    results = []
    for s in args.seeds:
        r = run_once(args.workload, s, spec["run_seconds"])
        results.append(r)
        print(f"seed {s}: correct={r['correct']} failed={r['failed']}/{r['attempted']} wall={r['wall_s']:.1f}s",
              flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "seeds": args.seeds, "runs": results}, f, indent=1)
    print(f"\n{args.workload}: {len(results)} runs")
    print(f"{'metric':36s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'spread':>8s} {'bound':>6s}")
    flagged = 0
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med, q1, q3, sp = spread(vals)
        bound = bounds[name]
        flag = ""
        if name != "setup_s" and sp > bound / 3:
            flag = "  <-- above bound/3"
            flagged += 1
        print(f"{name:36s} {med:14.4f} {q1:14.4f} {q3:14.4f} {sp:8.4f} {bound:6.2f}{flag}")
    walls = [r["wall_s"] for r in results]
    print(f"wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    return 1 if flagged or not all(r["correct"] for r in results) else 0


if __name__ == "__main__":
    sys.exit(main())
