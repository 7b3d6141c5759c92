"""The reference's five BI/KPI queries (SURVEY.md §2.5 A2-A6), transposed
onto the driver testdata star schema per FIXTURES.md §4 role mapping:

- airline           → supplier (``s_name``)
- route (src → dst) → customer's nation → supplier's nation (role-playing
  dim, mirroring the reference's source/destination airports,
  ``scripts/init_postgres.sql:9-13`` role-played in ``fact_flights``)
- total_fare        → ``l_extendedprice * (1 - l_discount) * (1 + l_tax)``
- calendar dim      → derived from ``orders.o_orderdate``
- seasonality       → deterministic month bucket (Jun/Jul → 'Peak',
  Dec → 'Winter Holidays', else 'Regular') — mirrors the reference's
  seasonality labels (``images/dashboard.png``) with the J4 divergence-fix
  (deterministic, order-free; ``dags/tasks/transformation.py:100``).

Reference query provenance: ``deliverables/project_report.md:88-114``.

Scale posture (100 TB): fact-side tables (lineitem, orders) are never
collected or broadcast; fixed-size dimension joins (supplier 100·sf rows,
nation 25) carry explicit ``broadcast()`` hints; customer (150k·sf — a
*scaling* dimension) is deliberately unhinted so AQE broadcasts it only
while it fits the threshold and shuffles it at cluster scale;
aggregations are partial
(map-side combine) by construction of groupBy/agg; top-k uses orderBy+limit
which Spark executes as a per-partition TakeOrdered without a global sort.
The lineitem⋈orders join is the one genuine shuffle — on a cluster both
sides would be bucketed by orderkey to make it a zero-shuffle SMJ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact_agg import exact_mean, exact_mean_oracle
from ..sources import load_table

# total fare per line item: price net of discount, plus tax.
# Written identically (same association order) in the oracle SQL so both
# engines produce bit-identical doubles per row.
_FARE_SQL = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"


def _seasonality(month_col: F.Column) -> F.Column:
    return (
        F.when(month_col.isin(6, 7), F.lit("Peak"))
        .when(month_col == 12, F.lit("Winter Holidays"))
        .otherwise(F.lit("Regular"))
    )


_SEASONALITY_SQL = (
    "CASE WHEN month(o_orderdate) IN (6, 7) THEN 'Peak' "
    "WHEN month(o_orderdate) = 12 THEN 'Winter Holidays' "
    "ELSE 'Regular' END"
)



def _avg_fare_exact() -> F.Column:
    """Order-independent exact mean fare WITHOUT the decimal accumulator
    (r8): the r7 DECIMAL(18,6) form was exact but left Tungsten's
    long-sum fast path — per-row double→BigDecimal conversion cost
    1.8–2.3× on q01/q03/q04 (r7 VERDICT A/B, reproduced). The
    split-two-long micro-unit scheme in functions/exact_agg.py is
    equally order-independent, runs at the double-AVG floor, and its
    accumulators hold ~9e12 rows/group — 100 TB-safe where a single
    long would silently wrap near sf 20 on a 3-group aggregate."""
    return exact_mean(_FARE_SQL)


def q01_avg_fare_by_airline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — AVG(total_fare) GROUP BY airline (project_report.md:92-96)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("s_name").alias("airline"))
        .agg(_avg_fare_exact().alias("avg_fare"))
        .orderBy(F.desc("avg_fare"), "airline")
    )


def q02_booking_count_by_airline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — COUNT(*) GROUP BY airline (project_report.md:98-102)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("s_name").alias("airline"))
        .agg(F.count("*").alias("bookings"))
        .orderBy(F.desc("bookings"), "airline")
    )


def q03_fare_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — avg fare by calendar period (dashboard 'Fare Trend Over Time').

    lineitem ⋈ orders is the engine's one large-large join; at cluster scale
    both sides are bucketed on orderkey (see module docstring).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.year("o_orderdate").alias("year"),
            F.month("o_orderdate").alias("month"),
        )
        .agg(
            _avg_fare_exact().alias("avg_fare"),
            F.count("*").alias("bookings"),
        )
        .orderBy("year", "month")
    )


def q04_seasonal_fare_variation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — avg fare AND booking count by seasonality, one pass
    (project_report.md:104-109; dashboard 'Seasonal Fare Variation')."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(_seasonality(F.month("o_orderdate")).alias("seasonality"))
        .agg(
            _avg_fare_exact().alias("avg_fare"),
            F.count("*").alias("total_bookings"),
        )
        .orderBy("seasonality")
    )


def q05_top_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — top-10 routes by flight count with role-playing location dim
    (project_report.md:111-114; dashboard 'Most Popular Routes').

    Ties are broken deterministically (flights desc, then route name) so the
    limit is stable across engines. Top-k executes as TakeOrdered — no
    global sort materialization.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    src_nation = nation.select(
        F.col("n_nationkey").alias("src_nationkey"),
        F.col("n_name").alias("src_airport"),
    )
    dst_nation = nation.select(
        F.col("n_nationkey").alias("dst_nationkey"),
        F.col("n_name").alias("dst_airport"),
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer scales with sf (150k·sf rows) — no explicit broadcast
        # hint; AQE picks BHJ while it fits the threshold and falls back to
        # a shuffled join at cluster scale instead of forcing a multi-GB
        # broadcast. nation/supplier stay hinted (fixed-size dims).
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(src_nation), cust.c_nationkey == src_nation.src_nationkey)
        .join(F.broadcast(dst_nation), sup.s_nationkey == dst_nation.dst_nationkey)
        .groupBy("src_airport", "dst_airport")
        .agg(F.count("*").alias("flights"))
        .orderBy(F.desc("flights"), "src_airport", "dst_airport")
        .limit(10)
    )


def q47_date_season_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13b — exact-date seasonality lookup dim (r2 VERDICT missing #2).

    The reference builds a date→seasonality dict from the raw rows and
    maps it onto the date dim with a 'Normal' default
    (``dags/tasks/transformation.py:100-101``: ``set_index(departure_dt)
    ['seasonality'].to_dict()`` — LAST raw row wins — then
    ``dim_date['seasonality'].map(...).fillna('Normal')``). Spark-first
    re-expression with the J4 divergence-fix (SURVEY §2.4): last-wins is
    made deterministic and order-free with ``max_by(label, o_orderkey)``
    instead of depending on pandas insertion order.

    The planted per-row label is ``o_orderpriority`` over the
    urgent/high subset, so (a) several labels compete within one date —
    last-wins actually selects; (b) dates with no urgent/high order
    exercise the 'Normal' default.

    Scale posture: the lookup is per-date (≈ |calendar| rows — KB-sized
    at any corpus scale), so it carries an explicit ``broadcast()``; the
    date-dim side stays distributed. Same shape at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    lookup = (
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(F.col("o_orderdate").alias("date_id"))
        .agg(F.expr("max_by(o_orderpriority, o_orderkey)").alias("season"))
    )
    dim = orders.select(F.col("o_orderdate").alias("date_id")).distinct()
    return (
        dim.join(F.broadcast(lookup), "date_id", "left")
        .select("date_id", F.coalesce("season", F.lit("Normal")).alias("seasonality"))
        .orderBy("date_id")
    )


QUERIES = {
    "q01_avg_fare_by_airline": q01_avg_fare_by_airline,
    "q02_booking_count_by_airline": q02_booking_count_by_airline,
    "q03_fare_trend": q03_fare_trend,
    "q04_seasonal_fare_variation": q04_seasonal_fare_variation,
    "q05_top_routes": q05_top_routes,
    "q47_date_season_lookup": q47_date_season_lookup,
}

ORACLE = {
    "q01_avg_fare_by_airline": f"""
        SELECT s_name AS airline,
               {exact_mean_oracle(_FARE_SQL)} AS avg_fare
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_name
        ORDER BY avg_fare DESC, airline
    """,
    "q02_booking_count_by_airline": f"""
        SELECT s_name AS airline, COUNT(*) AS bookings
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_name
        ORDER BY bookings DESC, airline
    """,
    "q03_fare_trend": f"""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
               CAST(month(o_orderdate) AS INTEGER) AS month,
               {exact_mean_oracle(_FARE_SQL)} AS avg_fare,
               COUNT(*) AS bookings
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "q04_seasonal_fare_variation": f"""
        SELECT {_SEASONALITY_SQL} AS seasonality,
               {exact_mean_oracle(_FARE_SQL)} AS avg_fare,
               COUNT(*) AS total_bookings
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
        ORDER BY 1
    """,
    "q05_top_routes": """
        SELECT src.n_name AS src_airport,
               dst.n_name AS dst_airport,
               COUNT(*) AS flights
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation src ON c_nationkey = src.n_nationkey
        JOIN nation dst ON s_nationkey = dst.n_nationkey
        GROUP BY 1, 2
        ORDER BY flights DESC, src_airport, dst_airport
        LIMIT 10
    """,
    "q47_date_season_lookup": """
        WITH lookup AS (
            SELECT o_orderdate AS date_id,
                   max_by(o_orderpriority, o_orderkey) AS season
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
            GROUP BY 1
        ),
        dim AS (SELECT DISTINCT o_orderdate AS date_id FROM orders)
        SELECT dim.date_id,
               COALESCE(lookup.season, 'Normal') AS seasonality
        FROM dim LEFT JOIN lookup USING (date_id)
        ORDER BY date_id
    """,
}
