"""Airflow DAG shim: schedules the Spark jobs (driver mandate — "Airflow
schedules Spark analysis jobs"; orchestration stays OUTSIDE the engine).

Mirrors the reference DAG structure (``dags/flight_pipeline_dag.py``):
- schedule @daily, catchup off, 3 retries / 5 min       (:13-27)
- readiness sensors before work                          (:30-46)
- linear deps sensors >> ingest >> transform >> validate (:68)

One linear DAG, one run at a time (``max_active_runs=1``): the weekly
bronze compaction and its swap run downstream of the pipeline, behind a
weekly gate. As a separately scheduled DAG it could list bronze while a
pipeline run appended to it, and the swap would move those rows, and
the hashes stored with them, into ``bronze_flights.old``. The next run
would re-ingest them, but until then bronze would lack rows the star
just built from them, and an append committing during the swap would
fail or land in the rollback copy.

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
the weekly swap publishes the compacted table with ``mv``, which an
object-store URI does not support.

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
    from airflow.operators.python import ShortCircuitOperator
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
MAINT_LAUNCHER = os.path.join(
    os.path.dirname(__file__), "launch_maintenance.py"
)

PIPELINE_CMD = (
    f"{SPARK_SUBMIT} --deploy-mode cluster "
    "--conf spark.sql.adaptive.enabled=true "
    f"--py-files {PY_FILES} "
    f"{LAUNCHER} --csv {CSV_PATH} --warehouse {WAREHOUSE}"
)


def _maint_cmd(args: str) -> str:
    return (
        f"{SPARK_SUBMIT} --deploy-mode cluster "
        f"--py-files {PY_FILES} {MAINT_LAUNCHER} {args}"
    )


def _warehouse_ready() -> bool:
    """Readiness probe (reference: SqlSensor SELECT 1, poke 10s/timeout
    600s, flight_pipeline_dag.py:30-46). Here: storage reachable."""
    return os.path.isdir(os.path.dirname(WAREHOUSE))


def _compaction_due(data_interval_end, **_) -> bool:
    """Weekly gate: compact after the run that ends on a Sunday (the
    slot the @weekly preset fires at). Other days skip compaction and
    the swap."""
    return data_interval_end.weekday() == 6


def _swap(src: str) -> str:
    # Rerun-safe at EVERY crash point, not just after complete
    # success (r7 ADVICE + r8 review):
    # - outer guard on the staged .compact: a retry after the
    #   swap already completed (or where compaction never
    #   produced output) is a no-op instead of deleting the
    #   rollback and mv-ing the LIVE table away with nothing to
    #   replace it;
    # - the rollback rotation (drop last week's .old, move the
    #   live table to .old) is additionally guarded on the live
    #   table existing: a retry after a crash BETWEEN the two
    #   mv steps (X already at X.old, X.compact still staged)
    #   skips straight to publishing X.compact and PRESERVES
    #   the rollback — the unguarded form re-ran `rm -rf
    #   {src}.old` first, destroying the only pre-compaction
    #   copy and then failing forever at `mv {src}`.
    # Plain `mv X X.old` against an existing .old would NEST
    # and fail by week 3, hence the rm inside the inner guard.
    # The no-.compact branch distinguishes 'already swapped'
    # (live table present — a benign retry) from 'nothing ever
    # staged' (NEITHER present — no state a completed swap can
    # leave, so a compaction that silently produced no output
    # fails HERE instead of being masked by a green no-op; r8
    # ADVICE).
    return (
        f"if [ -d {src}.compact ]; then "
        f"if [ -d {src} ]; then "
        f"rm -rf {src}.old && mv {src} {src}.old; "
        f"fi && "
        f"mv {src}.compact {src}; "
        f"elif [ -d {src} ]; then "
        f"echo 'swap: {src} already live, no staged .compact "
        f"(retry no-op)'; "
        f"else "
        f"echo 'swap: neither {src}.compact nor {src} exists "
        f"— upstream compaction produced no output' >&2; "
        f"exit 1; "
        f"fi"
    )


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

        weekly_gate = ShortCircuitOperator(
            task_id="weekly_compaction_gate",
            python_callable=_compaction_due,
        )

        # small-file compaction writes a NEW directory; the swap then
        # publishes it (mv is atomic on the same filesystem)
        compact_bronze = BashOperator(
            task_id="compact_bronze",
            bash_command=_maint_cmd(
                f"compact --path {WAREHOUSE}/bronze_flights "
                f"--out {WAREHOUSE}/bronze_flights.compact --target-mb 128"
            ),
        )

        swap_compacted = BashOperator(
            task_id="swap_compacted",
            bash_command=_swap(f"{WAREHOUSE}/bronze_flights"),
        )

        # :68 (linear deps), with the weekly maintenance tail
        (wait_for_storage >> run_pipeline >> weekly_gate
         >> compact_bronze >> swap_compacted)
