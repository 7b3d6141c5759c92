"""Dump `.explain("formatted")` for named queries to plans/<round>/.

Usage: python tools/dump_plan.py <suffix> <query_name> [<query_name> ...]

Writes plans/<round>/<short>_<suffix>.txt (e.g. x134_before.txt) with the
pre-execution formatted physical plan at sf0.1 — the optimization-round
evidence files the judge checks plan claims against. The round directory
defaults to the current optimization round (``SPARK_GRAFT_PLAN_ROUND``
overrides it).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_project_flight_price_analysis_spark.plans import all_queries  # noqa: E402
from airflow_project_flight_price_analysis_spark.session import get_spark  # noqa: E402


def formatted_plan(df) -> str:
    """``df``'s pre-execution ``explain("formatted")`` text."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(mode.fromString("formatted"))


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans",
        os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r15"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="fpa-dump-plan")
    queries = all_queries()
    for name in names:
        plan = formatted_plan(queries[name](spark, sf_dir))
        short = name.split("_", 1)[0]
        path = os.path.join(out_dir, f"{short}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {sf_dir} ({suffix})\n")
            f.write(plan)
        print("wrote", path, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
