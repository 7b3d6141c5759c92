"""Table-maintenance job — the scheduled housekeeping pass a long-lived
lake needs. The pipeline DAG (``orchestration/flight_pipeline_dag.py``)
runs ``compact`` on bronze once a week, after that day's pipeline run,
so no append can land between the compaction's listing and its swap.

Two maintenance families, each a first-class operator elsewhere in the
engine, wired here into one spark-submit entry point:

- ``compact``     small-file compaction of a parquet directory
                  (operators/compaction.py — size-targeted rewrite to a
                  NEW directory; the caller swaps atomically)
- ``vacuum``      orphan-snapshot removal for BucketedMergeTable roots
                  (operators/transactional.py — losing optimistic
                  writers leak uuid dirs; never run under a live writer)

Usage:
    python -m airflow_project_flight_price_analysis_spark.jobs.maintenance \
        compact --path /wh/bronze --out /wh/bronze_c [--target-mb 128]
    python -m ... maintenance vacuum --root /wh/merge_table
    # (key/n_buckets are adopted from the root's table_properties.json;
    #  only a legacy pre-properties root needs BOTH --key and
    #  --n-buckets passed explicitly)

Emits one JSON report line to stdout (the flight_pipeline convention).
"""

from __future__ import annotations

import argparse
import json
import sys

from ..session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="maintenance")
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("compact", help="small-file compaction")
    c.add_argument("--path", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--target-mb", type=int, default=128)

    v = sub.add_parser("vacuum", help="merge-table orphan removal")
    v.add_argument("--root", required=True)
    # key/n_buckets are ADOPTED from the table's pinned
    # table_properties.json — passing them here (and getting them
    # wrong) was exactly the mis-routing hazard the r7 ADVICE flagged;
    # legacy pre-properties roots can still supply them explicitly
    v.add_argument("--key", default=None,
                   help="only for legacy roots without "
                        "table_properties.json")
    v.add_argument("--n-buckets", type=int, default=None,
                   help="only for legacy roots without "
                        "table_properties.json")

    args = ap.parse_args(argv)
    report: dict = {"cmd": args.cmd}

    if args.cmd == "vacuum":
        # pure-filesystem maintenance: no SparkSession needed. Require
        # an EXISTING table — the handle's makedirs would otherwise
        # fabricate an empty skeleton at a mistyped --root and report
        # success while the real table's orphans survive (r7 review).
        import os

        from ..operators.transactional import BucketedMergeTable

        if not os.path.isdir(os.path.join(args.root, "commits")):
            print(f"error: {args.root} is not a merge-table root "
                  "(no commits/ dir)", file=sys.stderr)
            return 2
        # legacy pre-properties roots (no table_properties.json) with a
        # missing/mismatched --key/--n-buckets raise ValueError — report
        # it in the CLI's stderr-message + exit-2 convention (like the
        # missing-commits check above), not as a raw traceback
        try:
            t = BucketedMergeTable(args.root, args.key,
                                   n_buckets=args.n_buckets)
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        removed = t.vacuum()
        report.update(root=args.root, removed=len(removed))
    else:
        from ..operators.compaction import compact_parquet

        spark = get_spark(app_name=f"fpa-maintenance-{args.cmd}")
        n = compact_parquet(spark, args.path, args.out,
                            target_file_bytes=args.target_mb * 1024 * 1024)
        report.update(path=args.path, out=args.out, files=n)

    json.dump(report, sys.stdout)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
