"""Airflow DAG shim: schedules the Spark jobs (driver mandate — "Airflow
schedules Spark analysis jobs"; orchestration stays OUTSIDE the engine).

Mirrors the reference DAG structure (``dags/flight_pipeline_dag.py``):
- schedule @daily, catchup off, 3 retries / 5 min       (:13-27)
- readiness sensors before work                          (:30-46)
- linear deps sensors >> ingest >> transform >> validate (:68)

One linear DAG, one run at a time (``max_active_runs=1``): two
overlapping runs would anti-join the same bronze and both append the
same new rows, so bronze would hold them twice, and a run whose
read-back counts the other run's append fails ``staging_ok``. Each
append is sized as it is written (``star.ingest_increment``), so there
is no compaction task.

Differences by design:
- Task bodies are ``spark-submit`` invocations of
  ``airflow_project_flight_price_analysis_spark.jobs.flight_pipeline``
  (cluster-side execution), not in-worker pandas.
- The MySQL/Postgres sensors become a storage-availability check (the
  engine's warehouse is parquet, not a DB), kept as a lightweight Python
  sensor for shape parity.
- No offset Variable: bronze's ``row_hash`` column owns incremental
  state (SURVEY.md §2.7).

The warehouse (``FPA_WAREHOUSE``) must be a mounted file-system path:
the readiness probe checks its parent directory with ``os.path.isdir``,
so an object-store URI holds the DAG at its sensor.

Import-gated: Airflow is not installed in the build container; this
module is importable only where Airflow is (it no-ops otherwise so the
test suite can at least parse-check it).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

try:
    from airflow import DAG
    from airflow.operators.bash import BashOperator
    from airflow.sensors.python import PythonSensor

    HAVE_AIRFLOW = True
except ImportError:  # build container has no airflow — engine is unaffected
    HAVE_AIRFLOW = False

WAREHOUSE = os.environ.get("FPA_WAREHOUSE", "/data/warehouse")
CSV_PATH = os.environ.get("FPA_CSV", "/data/flights.csv")
SPARK_SUBMIT = os.environ.get("SPARK_SUBMIT", "spark-submit")
# Zip of airflow_project_flight_price_analysis_spark/ shipped to executors;
# spark-submit's primary resource must be a script path (it has no -m flag),
# so the command submits the thin launcher next to this file.
PY_FILES = os.environ.get(
    "FPA_PY_FILES", os.path.join(os.path.dirname(__file__), "fpa_package.zip")
)
LAUNCHER = os.path.join(os.path.dirname(__file__), "launch_flight_pipeline.py")
PIPELINE_CMD = (
    f"{SPARK_SUBMIT} --deploy-mode cluster "
    "--conf spark.sql.adaptive.enabled=true "
    f"--py-files {PY_FILES} "
    f"{LAUNCHER} --csv {CSV_PATH} --warehouse {WAREHOUSE}"
)


def _warehouse_ready() -> bool:
    """Readiness probe (reference: SqlSensor SELECT 1, poke 10s/timeout
    600s, flight_pipeline_dag.py:30-46). Here: storage reachable."""
    return os.path.isdir(os.path.dirname(WAREHOUSE))


if HAVE_AIRFLOW:
    default_args = {
        "retries": 3,                      # flight_pipeline_dag.py:16
        "retry_delay": timedelta(minutes=5),  # :17
    }

    with DAG(
        dag_id="flight_price_pipeline_spark",
        schedule="@daily",                 # :25
        catchup=False,                     # :26
        start_date=datetime(2026, 1, 1),
        max_active_runs=1,
        default_args=default_args,
    ) as dag:
        wait_for_storage = PythonSensor(
            task_id="wait_for_warehouse",
            python_callable=_warehouse_ready,
            poke_interval=10,              # :34
            timeout=600,                   # :35
        )

        # one spark-submit runs ingest→transform→validate end to end and
        # fails the task (nonzero exit) when the reconciliation gate trips
        run_pipeline = BashOperator(
            task_id="run_flight_pipeline",
            bash_command=PIPELINE_CMD,
        )

        # :68 (linear deps)
        wait_for_storage >> run_pipeline
