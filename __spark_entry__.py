"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``airflow_project_flight_price_analysis_spark``;
this module only aggregates them.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from airflow_project_flight_price_analysis_spark.plans import (  # noqa: E402
    all_oracle_sql,
    all_queries,
)
from airflow_project_flight_price_analysis_spark.plans.kpi import (  # noqa: E402
    q01_avg_fare_by_airline,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (A2 'average fare by airline') on sf0.001."""
    return q01_avg_fare_by_airline(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query; every ``queries()`` key has one."""
    return all_oracle_sql()
