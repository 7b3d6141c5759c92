"""Temporal & semi-structured operator queries (q32-q35): as-of join,
JSON extraction, sliding event-time windows, banded range join.

The reference has no temporal operators (SURVEY.md §2.4: "No sort-merge,
theta, range, as-of, or interval joins exist in the reference"), but a
query engine serving its `events`-style workloads needs them; each is
built as a composition of DataFrame primitives chosen for 100 TB scale:

- as-of join   → single shuffle on the entity key + one ordered window
  pass (``last(..., ignorenulls)``) — never a per-row subquery.
- range join   → time-axis bucketing turns the inequality predicate into
  an equi-join on (key, bucket) with a bounded residual filter; the pair
  space is bounded by bucket population, not corpus size.
- sliding windows → native ``window(ts, width, slide)`` (each row fans
  out to width/slide windows map-side; the shuffle key is the window).
- JSON         → ``get_json_object`` (codegen'd JsonPath, no UDF).

All four are DuckDB-oracle-checked (ASOF JOIN / inequality join /
epoch-bucket arithmetic / json_extract_string).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..sources import load_table


def q32_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every ``error`` event, the timestamp of the most
    recent ``click`` by the same user at-or-before the error.

    Spark shape: one shuffle on ``user_id``, one ordered window with
    ``last(click_ts, ignorenulls=True)`` over all prior rows — the
    classic union-then-scan as-of plan. No join, no subquery; at scale
    the window sort piggybacks the shuffle's sort order.

    Tie handling: the window orders by (ts, event_type, event_id), not ts
    alone — 'click' < 'error', so a click sharing the error's exact
    timestamp deterministically sorts before it and is seen, matching
    ASOF's inclusive ``e.ts >= c.ts`` bound (ts-only ordering made
    same-timestamp inclusion a sort-tie coin flip).

    Both sides live in one source table, so the as-of is one scan and
    one window; a two-DataFrame as-of operator scanned events twice and
    carried an extra timestamp column (measured 0.9s vs 0.3s at sf0.1).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("error", "click")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_type", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        ev.withColumn("last_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "error")
        .select(
            "event_id", "user_id",
            F.col("ts").alias("error_ts"),
            "last_click_ts",
        )
        .orderBy("event_id")
    )


def q33_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull ``$.k`` out of the ``props`` JSON
    string column and aggregate on it — ``get_json_object`` stays inside
    whole-stage codegen (no Python, no full JSON parse into a struct)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            "value",
        )
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("k")
    )


def q34_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h width, 30 min slide) per
    event_type — native ``window()``: each event fans out to exactly
    width/slide = 2 windows map-side; the shuffle key is (window, type)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type", "n", "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


def q35_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: per error event, how many clicks the same user
    made in the preceding 10 minutes (inclusive bounds).

    Scale shape: bucket the time axis at the band width (600 s); a click
    can only fall in the error's bucket or the one before, so exploding
    each error to those two bucket keys turns the inequality join into an
    equi-join on (user_id, bucket) + a residual BETWEEN filter. Each
    (error, click) pair meets in exactly one bucket — no post-dedup. The
    shuffle key is (user_id, bucket): pair-space bounded by per-bucket
    population, never O(n²) — the same blocking idea as LSH banding.

    The general form (arbitrary band and key columns) is
    ``operators/asof.py::banded_range_join``, property-tested against
    the brute-force inequality join; this registered query keeps its
    fused single-source form.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp("ts") / 600)
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "ts", bucket.alias("b"))
        .withColumn("bucket", F.explode(F.array(F.col("b") - 1, F.col("b"))))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        bucket.alias("bucket"),
    )
    matched = errors.join(
        clicks,
        (errors.user_id == clicks.c_user)
        & (errors.bucket == clicks.bucket)
        & (F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("click_ts") <= F.col("ts")),
        "left",
    )
    return (
        matched.groupBy("event_id", "user_id")
        .agg(F.count("click_ts").alias("n_clicks_10m"))
        .orderBy("event_id")
    )


QUERIES = {
    "q32_asof_join": q32_asof_join,
    "q33_json_extract": q33_json_extract,
    "q34_sliding_windows": q34_sliding_windows,
    "q35_range_join": q35_range_join,
}

ORACLE = {
    "q32_asof_join": """
        SELECT e.event_id, e.user_id,
               e.ts AS error_ts,
               c.ts AS last_click_ts
        FROM (SELECT * FROM events WHERE event_type = 'error') e
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON e.user_id = c.user_id AND e.ts >= c.ts
        ORDER BY e.event_id
    """,
    "q33_json_extract": """
        SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
               COUNT(*) AS n,
               ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY 1 ORDER BY 1
    """,
    # slide = 1800 s, width = 2*slide ⇒ every event is in exactly the two
    # windows starting at 1800*(floor(epoch/1800) - {0,1})
    "q34_sliding_windows": """
        SELECT make_timestamp(CAST(1800 * (floor(epoch(ts) / 1800) - off)
                                   * 1000000 AS BIGINT)) AS window_start,
               event_type,
               COUNT(*) AS n,
               ROUND(SUM(value), 2) AS sum_value
        FROM events, (SELECT unnest([0, 1]) AS off)
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "q35_range_join": """
        SELECT e.event_id, e.user_id, COUNT(c.ts) AS n_clicks_10m
        FROM (SELECT * FROM events WHERE event_type = 'error') e
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON e.user_id = c.user_id
         AND c.ts >= e.ts - INTERVAL 10 MINUTE
         AND c.ts <= e.ts
        GROUP BY 1, 2 ORDER BY 1
    """,
}


def q43_json_typed_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parse: ``from_json`` with an explicit schema turns the
    props string into a struct column once, after which field access is a
    free struct projection — the right pattern when several fields are
    extracted (vs one ``get_json_object`` JsonPath walk per field)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "p", F.from_json("props", "k int")
    )
    return (
        parsed.select("event_id", F.col("p.k").alias("k"))
        .filter(F.col("k") < 10)
        .orderBy("event_id")
    )


QUERIES.update({"q43_json_typed_struct": q43_json_typed_struct})

ORACLE.update({
    "q43_json_typed_struct": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) < 10
        ORDER BY event_id
    """,
})
