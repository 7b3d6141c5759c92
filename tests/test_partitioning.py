"""Salted skew mitigation, sink round-trips and partition pruning —
equivalence and plan-shape tests (operators/partitioning.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_project_flight_price_analysis_spark.operators.partitioning import (
    salted_agg,
)
from airflow_project_flight_price_analysis_spark.sources import load_table
from tests.conftest import SF_SMALL


def test_salted_agg_matches_plain(spark):
    ev = load_table(spark, SF_SMALL, "events")
    # sum/min/max aggregate the column with the output's name: alias first
    ev2 = ev.withColumn("total", F.col("value"))
    salted = salted_agg(
        ev2, "event_type", salt_source="event_id",
        aggs={"n": "count", "total": "sum"}, n_salts=8,
    )
    plain = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("value").alias("total")
    )
    s = {r["event_type"]: (r["n"], round(r["total"], 6)) for r in salted.collect()}
    p = {r["event_type"]: (r["n"], round(r["total"], 6)) for r in plain.collect()}
    assert s == p


def test_sink_format_round_trips(spark, tmp_path):
    """The curated-output schema survives parquet, ORC, and JSONL
    round-trips (JSONL = the LLM-corpus interchange format; dates/
    timestamps stay ISO-stringable, binary columns are excluded by
    design from text sinks)."""
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.sources import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents").limit(100)
    n = docs.count()
    for fmt in ("parquet", "orc", "json"):
        path = str(tmp_path / f"out_{fmt}")
        docs.write.mode("overwrite").format(fmt).save(path)
        back = spark.read.format(fmt).load(path)
        assert back.count() == n, fmt
        assert set(back.columns) == set(docs.columns), fmt
        # values survive (json infers types; compare as strings on a key col)
        a = {r["doc_id"] for r in docs.select("doc_id").collect()}
        b = {int(r["doc_id"]) for r in back.select("doc_id").collect()}
        assert a == b, fmt


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """Hive-partitioned layout + a filter on the partition column must
    prune at PLANNING time: the scan's PartitionFilters carries the
    predicate and the non-matching partition directories are never read.
    This is the dominant scan optimization at 100 TB (a date-partitioned
    events table read for one day touches 1/Nth of the files), so its
    loss is a regression worth one explicit pin."""
    ev = load_table(spark, SF_SMALL, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_date")
    ev.write.partitionBy("event_date").parquet(path)

    one_day = (
        spark.read.parquet(path)
        .filter(F.col("event_date") == "2024-01-01")
        .select("event_id", "value")
    )
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters")[1][:200], plan
    # partition pruning happened: the scan reports fewer files than the
    # full dataset holds (one directory's worth, not all days)
    import glob
    all_parts = len(glob.glob(f"{path}/event_date=*"))
    assert all_parts > 1, "testdata spans one day; partition test is vacuous"
    assert one_day.count() > 0
