"""Table-maintenance job — the scheduled housekeeping pass a long-lived
lake needs. The pipeline DAG (``orchestration/flight_pipeline_dag.py``)
runs ``compact`` on bronze once a week, after that day's pipeline run,
so no append can land between the compaction's listing and its swap.

``compact`` is small-file compaction of a parquet directory
(operators/compaction.py — size-targeted rewrite to a NEW directory;
the caller swaps atomically), wrapped here as a spark-submit entry
point.

Usage:
    python -m airflow_project_flight_price_analysis_spark.jobs.maintenance \
        compact --path /wh/bronze --out /wh/bronze_c [--target-mb 128]

Emits one JSON report line to stdout (the flight_pipeline convention).
"""

from __future__ import annotations

import argparse
import json
import sys

from ..operators.compaction import compact_parquet
from ..session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="maintenance")
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("compact", help="small-file compaction")
    c.add_argument("--path", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--target-mb", type=int, default=128)

    args = ap.parse_args(argv)
    spark = get_spark(app_name=f"fpa-maintenance-{args.cmd}")
    n = compact_parquet(spark, args.path, args.out,
                        target_file_bytes=args.target_mb * 1024 * 1024)
    json.dump({"cmd": args.cmd, "path": args.path, "out": args.out, "files": n},
              sys.stdout)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
