#!/usr/bin/env python
"""trcli-equivalent CLI over transfer.yaml.

≈ ``cmd/trcli/{activate,upload,check,validate,describe,replicate}`` in
transferia/transferia.

Usage:
  python scripts/trcli.py activate  --transfer transfer.yaml
  python scripts/trcli.py activate  --transfer transfer.yaml --regular --max-runs 3
  python scripts/trcli.py replicate --transfer transfer.yaml [--once]
                                    [--state-dir d] [--max-attempts N]
  python scripts/trcli.py status    --state-dir d [--transfer-id id]
  python scripts/trcli.py upload    --transfer transfer.yaml --tables t1,t2
  python scripts/trcli.py check     --transfer transfer.yaml   # parse+validate only
  python scripts/trcli.py validate  --transfer transfer.yaml   # alias of check
  python scripts/trcli.py describe  --transfer transfer.yaml   # endpoints+plan summary
  python scripts/trcli.py checksum  --transfer transfer.yaml   # verify delivery
  python scripts/trcli.py compact   --src dir/ --dst table/ [--target-mb 256]
  python scripts/trcli.py rebucket  --src table/ [--n-buckets N]

``replicate`` is the long-lived process (``replicate.go:24``): activate
if the coordinator state says so, then a supervised streaming loop —
restarts on transient errors from the Spark checkpoint, stops (and
clears activation state) on fatal ones. ``--once`` runs a single
availableNow catch-up pass, the recorded-log mode.
"""

from __future__ import annotations

import argparse
import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])


def main() -> int:
    ap = argparse.ArgumentParser(prog="trcli")
    ap.add_argument(
        "verb",
        choices=[
            "activate", "replicate", "status", "upload", "check",
            "validate", "describe", "checksum", "compact", "rebucket",
        ],
    )
    ap.add_argument("--transfer", help="path to transfer.yaml")
    ap.add_argument("--src", help="compact: fragmented parquet directory")
    ap.add_argument(
        "--n-buckets", type=int, default=None,
        help="rebucket: explicit new bucket count (default: size-derived, "
             "growth only)",
    )
    ap.add_argument(
        "--dst",
        help="compact: parquet directory to replace (may equal --src)",
    )
    ap.add_argument("--target-mb", type=int, default=256,
                    help="compact: target output file size")
    ap.add_argument("--partition-by", default="",
                    help="compact: comma list of partition columns")
    ap.add_argument("--tables", default="", help="comma list (upload/checksum)")
    ap.add_argument(
        "--regular", action="store_true",
        help="activate on the regular_snapshot schedule (interval loop)",
    )
    ap.add_argument(
        "--max-runs", type=int, default=None,
        help="bound the --regular loop (default: run forever)",
    )
    ap.add_argument(
        "--process-count", type=int, default=None,
        help="activate: output tables written concurrently (ProcessCount "
        "parity); default min(#output tables, Spark default parallelism) "
        "when source and sink are parallel-safe, else 1",
    )
    ap.add_argument(
        "--state-dir", default=".trcli_state",
        help="replicate: coordinator state + health + checkpoint directory",
    )
    ap.add_argument(
        "--transfer-id", default="transfer",
        help="replicate: transfer id for state/health files",
    )
    ap.add_argument(
        "--once", action="store_true",
        help="replicate: one availableNow catch-up pass, then exit",
    )
    ap.add_argument(
        "--max-attempts", type=int, default=None,
        help="replicate: bound the restart loop (default: run forever)",
    )
    ap.add_argument(
        "--max-runtime", type=float, default=None,
        help="replicate: stop the continuous query cleanly after N seconds",
    )
    ap.add_argument(
        "--retry-interval", type=float, default=10.0,
        help="replicate: seconds between restart attempts",
    )
    args = ap.parse_args()

    if args.verb == "compact":
        from transferia_spark.session import get_spark
        from transferia_spark.tasks.compact import (
            compact_dir,
            data_file_count,
            is_bucketed_table_root,
        )

        if args.src and is_bucketed_table_root(args.src) and not args.dst:
            # merge-on-read maintenance: fold the pending delta tail of
            # a BucketedParquetTable in place (keys/bucket count come
            # from its own _meta.json)
            from transferia_spark.tasks.compact import (
                compact_bucketed_table,
            )

            spark = get_spark()
            v = compact_bucketed_table(spark, args.src)
            print(f"folded delta tail: {args.src} now at version {v}")
            return 0
        if not (args.src and args.dst):
            ap.error("compact needs --src and --dst")
        spark = get_spark()
        before = data_file_count(args.src)
        compact_dir(
            spark, args.src, args.dst,
            target_file_bytes=args.target_mb * 1024 * 1024,
            partition_cols=[c for c in args.partition_by.split(",") if c] or None,
        )
        after = data_file_count(args.dst)
        print(f"compacted: {before} -> {after} files in {args.dst}")
        return 0

    if args.verb == "rebucket":
        if not args.src:
            ap.error("rebucket needs --src (BucketedParquetTable root)")
        from transferia_spark.session import get_spark
        from transferia_spark.tasks.compact import rebucket_bucketed_table

        spark = get_spark()
        old_n, new_n, v = rebucket_bucketed_table(
            spark, args.src, n_buckets=args.n_buckets,
        )
        if old_n == new_n:
            print(f"no rebucket needed: {args.src} stays at {new_n} buckets")
        else:
            print(
                f"rebucketed: {args.src} {old_n} -> {new_n} buckets "
                f"(version {v})"
            )
        return 0

    if args.verb == "status":
        # ≈ the health heartbeat the reference posts via
        # coordinator.TransferHealth — read back without a SparkSession
        from transferia_spark.tasks.replicate import TransferStateStore

        store = TransferStateStore(args.state_dir)
        state = store.get(args.transfer_id)
        health = store.health(args.transfer_id)
        print(f"status: {state.get('status', 'not activated')}")
        if state.get("source_position") is not None:
            print(f"source_position: {state['source_position']}")
        if health:
            import datetime as _dt

            ts = _dt.datetime.fromtimestamp(health["ts"]).isoformat()
            print(f"retry_count: {health['retry_count']}")
            print(f"last_error: {health['last_error'] or '(none)'}")
            print(f"last_heartbeat: {ts}")
        # dead-letter visibility (≈ the <table>_unparsed rows a user
        # checks after a transfer): count + a reason sample, no Spark
        import json as _json
        import os as _os

        from transferia_spark.tasks.replicate import dead_letter_count

        dl_dir = _os.path.join(args.state_dir, f"unparsed_{args.transfer_id}")
        n = dead_letter_count(dl_dir)
        print(f"unparsed_rows: {n}")
        if n:
            sample = sorted(
                f for f in _os.listdir(dl_dir) if f.endswith(".json")
            )[:3]
            for name in sample:
                with open(_os.path.join(dl_dir, name)) as fh:
                    doc = _json.load(fh)
                print(
                    f"  {doc.get('file')}:{doc.get('byte_pos')} "
                    f"{doc.get('reason')}"
                )
        return 0

    if not args.transfer:
        ap.error(f"{args.verb} needs --transfer")

    from transferia_spark.plans.config import transfer_from_yaml

    spec = transfer_from_yaml(args.transfer)
    if args.verb in ("check", "validate"):
        print(f"OK: type={spec.type.value} "
              f"transformers={len(spec.transformation.transformers)}")
        return 0
    if args.verb == "describe":
        # ≈ cmd/trcli/describe: endpoint + plan summary, no execution
        print(f"type: {spec.type.value}")
        print(f"src:  {type(spec.src).__name__}")
        print(f"dst:  {type(spec.dst).__name__}  cleanup={spec.cleanup.value}")
        for t in spec.transformation.transformers:
            print(f"transformer: {t.TYPE}")
        if spec.include:
            print(f"include: {','.join(spec.include)}")
        if spec.exclude:
            print(f"exclude: {','.join(spec.exclude)}")
        rs = spec.regular_snapshot or {}
        if rs.get("enabled"):
            print(f"regular_snapshot: every {rs.get('interval', 3600)}s")
        return 0

    from transferia_spark.plans.transfer import (
        activate,
        run_regular_snapshots,
        upload,
    )
    from transferia_spark.session import get_spark

    spark = get_spark()
    tables = [t for t in args.tables.split(",") if t]
    if args.verb == "replicate":
        from transferia_spark.tasks.replicate import run_replication

        report = run_replication(
            spark, spec,
            transfer_id=args.transfer_id,
            state_dir=args.state_dir,
            once=args.once,
            max_attempts=args.max_attempts,
            max_runtime=args.max_runtime,
            retry_interval=args.retry_interval,
        )
        print(
            f"replicate: attempts={report.attempts} "
            f"activated={report.activated} errors={len(report.errors)}"
        )
        return 0
    if args.verb == "checksum":
        # ≈ trcli's verification path (tasks.VerifyDelivery / Checksum)
        from transferia_spark.tasks.checksum import verify_transfer

        results = verify_transfer(spark, spec, tables or None)
        bad = 0
        for name, errs in sorted(results.items()):
            status = "OK" if not errs else "; ".join(errs)
            bad += bool(errs)
            print(f"{name}: {status}")
        return 1 if bad else 0
    if args.verb == "activate":
        if args.regular:
            runs = run_regular_snapshots(spark, spec, max_runs=args.max_runs)
            print(f"runs: {len(runs)}")
            written = runs[-1]
        else:
            written = activate(spark, spec, process_count=args.process_count)
    else:
        if not tables:
            ap.error("upload needs --tables")
        written = upload(spark, spec, tables)
    for name in written:
        print(f"written: {name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
