"""Determinism tests for the temporal operators on constructed edge-case
data the driver testdata doesn't contain (timestamp collisions)."""

from __future__ import annotations

from airflow_project_flight_price_analysis_spark.plans.temporal import q32_asof_join


def test_asof_join_includes_same_timestamp_click(spark, tmp_path):
    """ASOF semantics are inclusive (e.ts >= c.ts): a click sharing the
    error's exact timestamp must be seen, deterministically — the window
    orders by (ts, event_type, event_id) so the tie can't flip on
    partition-internal sort order (ADVICE r1: ts-only ordering made this
    a coin flip the testdata never tossed)."""
    sf_dir = str(tmp_path)
    rows = [
        # user 1: click exactly at the error's ts — must be the as-of match
        (1, 10, "click", 1_000_000_000_000),
        (2, 10, "error", 1_000_000_000_000),
        # user 2: click strictly after the error — must NOT match
        (3, 20, "error", 2_000_000_000_000),
        (4, 20, "click", 2_000_001_000_000),  # 1 ms later (survives µs truncation)
        # user 3: ordinary strictly-before click
        (5, 30, "click", 3_000_000_000_000),
        (6, 30, "error", 3_500_000_000_000),
    ]
    # ts stored as long nanoseconds, mirroring the driver testdata layout
    # that sources.testdata.load_table normalizes via timestamp_micros;
    # value and props complete the declared table
    spark.createDataFrame(
        [(*r, 0.0, "{}") for r in rows],
        "event_id long, user_id long, event_type string, ts long, value double, props string",
    ).write.parquet(f"{sf_dir}/events.parquet")

    got = {r["event_id"]: r for r in q32_asof_join(spark, sf_dir).collect()}
    assert got[2]["last_click_ts"] == got[2]["error_ts"]  # inclusive tie
    assert got[3]["last_click_ts"] is None  # later click invisible
    assert got[6]["last_click_ts"] is not None


def test_banded_left_join_null_payload_not_duplicated(spark):
    """ADVICE r5 repro: one left row with a NULL payload and one matching
    right row must yield exactly ONE output row, payload and match
    intact."""
    from airflow_project_flight_price_analysis_spark.operators.asof import (
        banded_range_join,
    )

    left = spark.createDataFrame([(1, 100, None)], "k int, lts int, pay int")
    right = spark.createDataFrame([(1, 100, 7)], "k int, rts int, rid int")
    out = banded_range_join(
        left, right, ["k"], "lts", "rts",
        lower_seconds=-10, upper_seconds=10,
    ).collect()
    assert len(out) == 1 and out[0].rid == 7 and out[0].pay is None


def test_banded_range_join_rejects_colliding_names(spark):
    """Non-key name overlap (including right_ts == left_ts) would make
    the delta expression ambiguous — the guard must fail fast."""
    import pytest
    from airflow_project_flight_price_analysis_spark.operators.asof import (
        banded_range_join,
    )

    left = spark.createDataFrame([(1, 100, 5)], "k int, ts int, v int")
    right = spark.createDataFrame([(1, 100, 6)], "k int, ts int, w int")
    with pytest.raises(ValueError, match="collision|share non-key"):
        banded_range_join(
            left, right, ["k"], "ts", "ts",
            lower_seconds=0, upper_seconds=10,
        )
