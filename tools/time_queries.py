"""Standalone A/B timing for named queries: median of N noop-sink runs
through bench.py's own per-query measurement (sf0.001 warm-up,
clearCache between iters, builder timed separately, one GC and settle
per query).

Usage: python tools/time_queries.py <iters> <name> [<name> ...]
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_project_flight_price_analysis_spark.plans import all_queries  # noqa: E402
from airflow_project_flight_price_analysis_spark.session import get_spark  # noqa: E402
from bench import measure  # noqa: E402


def main() -> None:
    iters = int(sys.argv[1])
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = "/root/testdata/sf0.001"
    spark = get_spark(app_name="fpa-time-queries")
    queries = all_queries()
    for name in names:
        queries[name](spark, warm_dir).write.mode("overwrite").format(
            "noop").save()
    out = {}
    for name in names:
        samples, bsamples = measure(spark, queries[name], sf_dir, iters)
        out[name] = {
            "run_median": round(statistics.median(samples), 3),
            "runs": [round(s, 3) for s in samples],
            "build_median": round(statistics.median(bsamples), 3),
        }
    print("TIMES " + json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
