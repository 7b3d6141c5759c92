"""Event-time windowed aggregations & streaming dedup — SURVEY.md §2.9 X7.

Operators over an ``events``-shaped stream (event_id, ts, user_id,
event_type, value, props):

- tumbling window counts+sums with watermarked late-data bound
- session windows (native ``session_window``, the streaming form of the
  batch lag-gap sessionization in plans/relational.q19)
- ``dropDuplicatesWithinWatermark`` — the streaming form of the hash
  ledger (state TTL'd by the watermark instead of a persistent table)

State-store posture at scale: watermarks bound state size; the shuffle
key is (window, group key) — skewed event types can be salted by
appending a bucket of user_id to the group key and re-aggregating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EVENTS_DDL = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")


def tumbling_counts(events: DataFrame, width: str = "10 minutes",
                    watermark: str = "30 minutes") -> DataFrame:
    """Tumbling event-time window per event_type: count + sum(value)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type", "n", "total_value",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "1 hour") -> DataFrame:
    """Native session windows per user: events per session + bounds."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, keys: list[str] | None = None,
                           watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact-dedup: state is scoped by the watermark — the
    bounded-memory replacement for the reference's ever-growing hash
    ledger when the duplicate horizon is known (e.g. at-least-once
    upstream delivery)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_interval_join(left: DataFrame, right: DataFrame, key: str,
                         time_col: str = "ts", lookback: str = "30 minutes",
                         left_watermark: str = "2 hours",
                         right_watermark: str = "2 hours") -> DataFrame:
    """Stream-stream inner join: each LEFT row matches RIGHT rows with the
    same ``key`` whose event time falls in ``[left.ts - lookback,
    left.ts]``.

    Both sides carry watermarks and the join condition bounds event time
    in both directions, so the state store can evict: a right row is
    droppable once the left watermark passes ``right.ts + lookback``;
    a left row once the right watermark passes ``left.ts``. Without the
    time bound Spark would (correctly) refuse to run the join in append
    mode — unbounded state. Columns come back prefixed ``l_`` / ``r_``
    to keep the self-join case unambiguous."""
    lw = left.withWatermark(time_col, left_watermark)
    rw = right.withWatermark(time_col, right_watermark)
    l = lw.select([F.col(c).alias(f"l_{c}") for c in lw.columns])
    r = rw.select([F.col(c).alias(f"r_{c}") for c in rw.columns])
    cond = (
        (F.col(f"l_{key}") == F.col(f"r_{key}"))
        & (F.col(f"r_{time_col}") >= F.col(f"l_{time_col}") - F.expr(f"INTERVAL {lookback}"))
        & (F.col(f"r_{time_col}") <= F.col(f"l_{time_col}"))
    )
    return l.join(r, cond, "inner")
