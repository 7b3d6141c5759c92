"""Flight pipeline job — the spark-submit entry point the orchestrator
(Airflow, per the driver mandate) schedules.

Mirrors the reference DAG's task bodies (``dags/flight_pipeline_dag.py:49-68``):
ingest → transform → validate in one run. The report's counts are
``Observation`` metrics of jobs that run anyway, plus the reconciliation
gate's two read-backs (``dags/tasks/validation.py``).

Usage:
    python -m airflow_project_flight_price_analysis_spark.jobs.flight_pipeline \
        --csv /path/flights.csv --warehouse /path/warehouse
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import star
from ..session import get_spark
from ..sources.flights_csv import read_flights_csv
from ..validation import reconcile


def _counted(df, name: str):
    """``df`` with its row count observed by the first action that runs it."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _clean_metrics(bronze):
    """``rows_in``/``rows_dropped_invalid`` of the clean pass over ``bronze``,
    observed inside a global aggregate: AQE never replaces that with an empty
    relation, so the shuffle stage carrying the metrics stays in its plan."""
    obs = Observation("clean_metrics")
    star.clean_flights(bronze, observation=obs).agg(F.count(F.lit(1))).collect()
    return obs.get


def run_pipeline(spark: SparkSession, csv_path: str, warehouse: str) -> dict:
    bronze_path = f"{warehouse}/bronze_flights"
    dims = {"dim_airlines": 0, "dim_airports": 0, "dim_date": 0}
    clean = {"rows_in": 0, "rows_dropped_invalid": 0}
    staged_rows = fact_rows = 0

    # --- ingest (ingestion.py:18-129); its count job also counts the CSV ---
    raw, source_obs = _counted(read_flights_csv(spark, csv_path), "source_rows")
    n_new = star.ingest_increment(spark, raw, bronze_path)
    # an empty first load writes no bronze: a no-op run, all counts 0
    if star.path_exists(spark, bronze_path):
        # --- transform (transformation.py:45-138) ---
        # clean_obs counts the bronze scan feeding the build (deduped_rows)
        # and its invalid rows (A7); each dim is counted as it is written
        clean_obs = Observation("clean_metrics")
        bronze = star.read_bronze(spark, bronze_path)
        silver = star.clean_flights(bronze, observation=clean_obs)
        schema = star.build_star_schema(silver)
        observed = {name: _counted(getattr(schema, name), name) for name in dims}
        for name, (dim, _) in observed.items():
            dim.write.mode("overwrite").parquet(f"{warehouse}/{name}")
        # FKs resolve against the dims as written: no dim aggregation reruns.
        # Every table this run wrote is read back with the schema it was
        # written with: inferring one costs a footer-reading job per read
        fact = star.build_fact(silver, *(
            spark.read.schema(observed[n][0].schema).parquet(f"{warehouse}/{n}")
            for n in ("dim_airlines", "dim_airports")))
        fact.write.mode("overwrite").parquet(f"{warehouse}/fact_flights")
        dims = {name: obs.get["rows"] for name, (_, obs) in observed.items()}
        # the first dim write completes clean_obs. If its shuffle stage came
        # out empty (no valid row, or no airline), AQE replaced the write's
        # plan with an empty relation and the metrics observed inside that
        # stage were dropped: the observation holds an empty row, which
        # Observation.get cannot convert. An empty dim_airlines is the only
        # run that can leave it so; observe the clean pass once more there
        clean = clean_obs.get if dims["dim_airlines"] else _clean_metrics(bronze)

        # --- validate (validation.py:17-49, post-dedup semantics) ---
        # independent read-backs: each lists and counts the files on storage
        # now, so staged_rows re-counts bronze AFTER the build (a partition
        # lost or doubled since its scan fails staging_ok)
        staged_rows = star.read_bronze(spark, bronze_path).count()
        fact_rows = spark.read.schema(fact.schema).parquet(f"{warehouse}/fact_flights").count()
    report = reconcile(source_rows=source_obs.get["rows"], deduped_rows=clean["rows_in"],
                       staged_rows=staged_rows, fact_rows=fact_rows)
    return {"ingested_new_rows": n_new,
            "rows_dropped_invalid": int(clean["rows_dropped_invalid"] or 0),
            "dims": dims, **report.as_dict()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--csv", required=True, help="raw flight CSV path")
    ap.add_argument("--warehouse", required=True, help="parquet warehouse dir")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="flight-pipeline")
    try:
        report = run_pipeline(spark, args.csv, args.warehouse)
    finally:
        spark.stop()
    print(json.dumps(report))
    return 0 if report["passed"] else 1


if __name__ == "__main__":
    sys.exit(main())
