"""Relational operator queries — SURVEY.md §2.1-2.7 coverage.

One named query per operator family, each paired with DuckDB oracle SQL
that encodes the *decided* semantics (divergence-fixes included). Column
aliases match exactly between engines — the driver sorts columns by name
before value-hashing.

Scale notes per query are inline; the common posture: no collects, dims
broadcast, aggregations partial map-side, window functions partitioned by
a high-cardinality key (never a global window), and all expressions
codegen-able Catalyst (zero Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.cleaning import parse_stopovers_expr, row_hash_expr
from ..functions.exact_agg import (
    exact_mean,
    exact_mean_oracle,
    exact_parts,
    exact_parts_oracle,
    exact_sum,
    exact_sum_oracle,
    micros_from_parts_sql,
    ratio_from_parts_sql,
    rounded_from_parts_sql,
)
from ..session import scale_out
from ..sources import load_table


# --- P1/P2/P7/P8: rename, project, coerce, validity filter -----------------

def q06_clean_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze→silver cleaning slice (rename P1, project P2, coerce P7,
    validity filter P8 — ``dags/tasks/transformation.py:56-79``).

    The filter + projection both push into the parquet scan (check
    ``PushedFilters`` in explain); only 5 of 11 lineitem columns are read.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .select(
            F.col("l_orderkey").alias("booking_id"),
            F.col("l_linenumber").alias("leg"),
            F.round(F.coalesce(F.col("l_extendedprice").cast("double"), F.lit(0.0)), 2).alias("base_fare"),
            # raw product, not rounded: per-row IEEE arithmetic is
            # bit-identical across engines; rounding at half-cent ties isn't
            (F.col("l_extendedprice") * F.col("l_tax")).alias("tax_surcharge"),
            F.lower(F.trim(F.col("l_returnflag"))).alias("return_flag"),
        )
    )


# --- P6: stopovers-style token parser --------------------------------------

def q07_parse_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 analog — the reference's stopovers parser
    (``dags/tasks/transformation.py:14-24``) applied to
    ``o_orderpriority`` ('1-URGENT' → 1, …): digit-extraction with
    coerce-to-0 fallback, then a distribution count."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(parse_stopovers_expr("o_orderpriority").alias("urgency"))
        .groupBy("urgency")
        .agg(F.count("*").alias("n"))
        .orderBy("urgency")
    )


# --- P4 + D1/X1: row hash + dedup ledger anti-join -------------------------

def _lp(expr: str) -> str:
    """DuckDB twin of row_hash_expr's injective length-prefix encoding."""
    return f"concat(CAST(length({expr}) AS VARCHAR), ':', {expr})"


_HASH_COLS_SQL = "concat_ws('|', " + ", ".join(_lp(e) for e in (
    "CAST(l_orderkey AS VARCHAR)",
    "CAST(l_linenumber AS VARCHAR)",
    "CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR)",
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR)",
    "l_returnflag",
    "l_linestatus",
    "CAST(CAST(l_shipdate AS DATE) AS VARCHAR)",
)) + ")"


#: the hashed lineitem columns, in hash order, and the casts that make
#: their string forms engine-portable (doubles as decimals, timestamp as date)
_HASH_COLS = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
              "l_returnflag", "l_linestatus", "l_shipdate"]
_HASH_CASTS = {"l_quantity": "decimal(18,2)", "l_extendedprice": "decimal(18,2)",
               "l_shipdate": "date"}


def _hash_inputs(li: DataFrame) -> DataFrame:
    """``li``'s hashed columns, each cast under its own name."""
    return li.select(*(F.col(c).cast(_HASH_CASTS[c]).alias(c) if c in _HASH_CASTS else c
                       for c in _HASH_COLS))


def q08_row_hash_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — vectorized row-content hash (vs the reference's row-at-a-time
    ``df.apply(md5, axis=1)``, ``dags/tasks/ingestion.py:69``) + exact-dup
    profile. Doubles are decimal-cast before stringification so the hash is
    engine-portable; at scale sha2-256 replaces md5 (see row_hash_expr)."""
    li = load_table(spark, sf_dir, "lineitem")
    hashed = _hash_inputs(li).select(row_hash_expr(_HASH_COLS).alias("row_hash"))
    return hashed.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("row_hash").alias("n_unique"),
    )


def q09_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — hash-ledger anti-join (``dags/tasks/ingestion.py:72-90``):
    rows already in the ledger (here: shipped before 1997) are dropped;
    only unseen rows pass. At 100 TB the ledger is partitioned by hash
    prefix so this is a co-partitioned SMJ, not a broadcast (SURVEY §7.4.3).
    """
    li = load_table(spark, sf_dir, "lineitem")
    hashed = _hash_inputs(li).withColumn("row_hash", row_hash_expr(_HASH_COLS))
    ledger = hashed.filter(F.year("l_shipdate") < 1997).select("row_hash")
    fresh = hashed.join(ledger, "row_hash", "left_anti")
    return fresh.agg(F.count("*").alias("n_new_rows"))


# --- D2/D3/D4: distinct dim builders ---------------------------------------

def q10_dim_airlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 — single-column distinct → dim_airlines
    (``dags/tasks/transformation.py:82-83``). Partial (map-side) distinct
    then a tiny shuffle on the dim key."""
    sup = load_table(spark, sf_dir, "supplier")
    return sup.select(F.col("s_name").alias("airline_name")).distinct().orderBy("airline_name")


def q11_dim_airports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 — union of two role-playing projections + distinct → dim_airports
    (``dags/tasks/transformation.py:86-88``). Customer-side and
    supplier-side nations mirror source/destination airports."""
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    src = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).select(
        F.col("n_nationkey").alias("airport_code"), F.col("n_name").alias("airport_name")
    )
    dst = sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey).select(
        F.col("n_nationkey").alias("airport_code"), F.col("n_name").alias("airport_name")
    )
    return src.unionByName(dst).distinct().orderBy("airport_code")


def q12_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 + P10-P13 — calendar dimension from distinct order dates
    (``dags/tasks/transformation.py:91-101``): date parts, Monday=0
    weekday, weekend flag, deterministic seasonality bucket (J4 fix)."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("date_id")
    return (
        orders.select(F.to_date("o_orderdate").alias("date_id"))
        .distinct()
        .select(
            F.date_format(d, "yyyy-MM-dd").alias("date_id"),
            F.year(d).alias("year"),
            F.month(d).alias("month"),
            F.dayofmonth(d).alias("day"),
            F.quarter(d).alias("quarter"),
            F.weekday(d).alias("day_of_week"),
            (F.weekday(d) >= 5).alias("is_weekend"),
            F.when(F.month(d).isin(6, 7), "Peak")
            .when(F.month(d) == 12, "Winter Holidays")
            .otherwise("Regular")
            .alias("seasonality"),
        )
        .orderBy("date_id")
    )
    # dates surface as ISO strings at the query boundary (engine-portable
    # value hashing); internal dim_date stays DateType (operators/star.py)


# --- J2/J3: anti / semi joins (D5 upsert-diff, hash membership) ------------

def q13_customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/D5 — left-anti join: the insert-if-new diff
    (``dags/tasks/transformation.py:26-43``). The right side is filtered
    (urgent orders only) so the result is non-empty at every sf — an
    anti-join against the full orders table matches every customer and
    proves nothing. At scale: anti join on the natural key, both sides
    hash-partitioned."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q14_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — left-semi join: hash-membership probe without materializing the
    probe side (``dags/tasks/ingestion.py:82`` ``isin`` semantics)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .agg(F.count("*").alias("n_active_customers"))
    )


# --- J4: deterministic last-wins map ---------------------------------------

def q15_label_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 divergence-fix — the reference's dict build keeps the *last* row
    per key (order-dependent, ``dags/tasks/transformation.py:100``); the
    engine uses deterministic ``max()`` per key instead."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.max("event_type").alias("label"))
        .orderBy("day")
    )


# --- J1 + P14: full fact build (broadcast FK resolution) -------------------

def q16_fact_flights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — the star-schema fact build: three broadcast dim joins resolve
    FKs (replacing the reference's driver-side dict maps,
    ``dags/tasks/transformation.py:43,123-125``), inner-join semantics drop
    unmatched rows (P14 ``dropna``, ``:134``), then the fact projection (P2).

    Plan shape to expect: one shuffle (lineitem⋈orders on orderkey — at
    cluster scale bucketed away), fixed-size dims (supplier, nation)
    broadcast by hint, customer broadcast only while AQE's size stats
    allow (it scales with sf, so no forced hint), the whole map side a
    single WholeStageCodegen span."""
    # widen the single-row-group local fact file before the 5-join probe
    # chain — otherwise every hash probe runs in the scan's one task
    # (measured 1.42s → 0.94s at sf0.1; no-op on a real cluster where
    # the fact table has >= parallelism splits)
    li = scale_out(load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    src_nation = nation.select(F.col("n_nationkey").alias("src_key"), F.col("n_name").alias("src_airport"))
    dst_nation = nation.select(F.col("n_nationkey").alias("dst_key"), F.col("n_name").alias("dst_airport"))

    fare = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer scales with sf — no broadcast hint (AQE decides; at
        # cluster scale this becomes a shuffled join / bucketed co-location
        # like lineitem⋈orders instead of a forced multi-GB broadcast).
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(src_nation), cust.c_nationkey == F.col("src_key"))
        .join(F.broadcast(dst_nation), sup.s_nationkey == F.col("dst_key"))
        .select(
            F.col("l_orderkey").alias("booking_id"),
            F.col("l_linenumber").alias("leg"),
            F.col("s_name").alias("airline"),
            F.col("src_airport"),
            F.col("dst_airport"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("departure_date_id"),
            F.col("o_orderpriority").alias("class"),
            F.round(F.col("l_extendedprice"), 2).alias("base_fare"),
            (F.col("l_extendedprice") * F.col("l_tax")).alias("tax_surcharge"),
            fare.alias("total_fare"),
        )
    )


# --- A1/A7/O4: counts + reconciliation gate --------------------------------

def q17_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 — row-count reconciliation (``dags/tasks/validation.py:17-49``)
    in ONE pass (conditional aggregation), not the reference's three
    separate count queries; ≤1% loss budget evaluated inline."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count("*").alias("source_count"),
        F.sum(
            F.when((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0), 1).otherwise(0)
        ).cast("long").alias("valid_count"),
    )
    return agg.select(
        "source_count",
        "valid_count",
        (F.col("source_count") - F.col("valid_count")).alias("dropped"),
        F.round((F.col("source_count") - F.col("valid_count")) * 100.0 / F.col("source_count"), 4).alias("loss_pct"),
        ((F.col("source_count") - F.col("valid_count")) * 100.0 / F.col("source_count") <= 1.0).alias("within_budget"),
    )


# --- §2.6/§2.7: window functions -------------------------------------------

def q18_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ``topk_per_group`` (the ``row_number() ≤ k``
    window) — partitioned by customer (high-cardinality ⇒ scales out;
    never a global window). Deterministic tie-break on orderkey."""
    from ..operators.ranking import topk_per_group

    orders = load_table(spark, sf_dir, "orders")
    return (
        topk_per_group(orders, ["o_custkey"],
                       [F.desc("o_totalprice"), F.asc("o_orderkey")], 3)
        .select(
            F.col("o_custkey").alias("customer_id"),
            F.col("o_orderkey").alias("order_id"),
            "rank",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


def q19_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (lag + gap>30min cumulative flag) — the
    window-function form of streaming ``session_window`` (SURVEY X7).
    Partitioned by user_id; per-user event counts are small and unskewed."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        events.withColumn("new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("long").alias("n_sessions"),
             F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


# --- pivot / rollup ---------------------------------------------------------

def q20_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority × status. Explicit pivot values
    (no discovery pass); missing cells coalesced to 0 to match SQL
    conditional-aggregation semantics."""
    orders = load_table(spark, sf_dir, "orders")
    p = (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "priority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    ).orderBy("priority")


def q21_rollup_fare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(year, quarter) — hierarchical totals with NULL grouping rows,
    matching ANSI ROLLUP in the oracle."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(F.year("o_orderdate").alias("year"), F.quarter("o_orderdate").alias("quarter"), "o_totalprice")
        .rollup("year", "quarter")
        .agg(
            # order-independent exact mean on the long-sum fast path
            # (functions/exact_agg.py; kpi.py::_avg_fare_exact rationale)
            exact_mean("o_totalprice").alias("avg_price"),
            F.count("*").alias("n"),
        )
        .orderBy(F.asc_nulls_first("year"), F.asc_nulls_first("quarter"))
    )


# --- X6: profiling ----------------------------------------------------------

def q22_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cardinality/range profile in one pass. (The approximate
    variant — approx_count_distinct / percentile_approx, the right choice
    at 100 TB — is in operators/profiling.py as a rows-only check since
    sketch outputs aren't oracle-comparable.)"""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.date_format(F.min(F.to_date("l_shipdate")), "yyyy-MM-dd").alias("first_ship"),
        F.date_format(F.max(F.to_date("l_shipdate")), "yyyy-MM-dd").alias("last_ship"),
    )


QUERIES = {
    "q06_clean_project": q06_clean_project,
    "q07_parse_priority": q07_parse_priority,
    "q08_row_hash_profile": q08_row_hash_profile,
    "q09_incremental_dedup": q09_incremental_dedup,
    "q10_dim_airlines": q10_dim_airlines,
    "q11_dim_airports": q11_dim_airports,
    "q12_dim_date": q12_dim_date,
    "q13_customers_without_urgent_orders": q13_customers_without_urgent_orders,
    "q14_customers_with_orders": q14_customers_with_orders,
    "q15_label_per_day": q15_label_per_day,
    "q16_fact_flights": q16_fact_flights,
    "q17_reconciliation": q17_reconciliation,
    "q18_top_orders_per_customer": q18_top_orders_per_customer,
    "q19_sessionization": q19_sessionization,
    "q20_status_pivot": q20_status_pivot,
    "q21_rollup_fare": q21_rollup_fare,
    "q22_profile": q22_profile,
}

ORACLE = {
    "q06_clean_project": """
        SELECT l_orderkey AS booking_id,
               l_linenumber AS leg,
               ROUND(COALESCE(CAST(l_extendedprice AS DOUBLE), 0.0), 2) AS base_fare,
               l_extendedprice * l_tax AS tax_surcharge,
               lower(trim(l_returnflag)) AS return_flag
        FROM lineitem
        WHERE l_quantity > 0 AND l_extendedprice > 0
    """,
    "q07_parse_priority": r"""
        SELECT CASE
                 WHEN lower(trim(o_orderpriority)) IS NULL THEN 0
                 WHEN regexp_matches(lower(trim(o_orderpriority)), '^(direct|non[- ]?stop)$') THEN 0
                 WHEN regexp_extract(lower(trim(o_orderpriority)), '(\d+)', 1) <> ''
                   THEN COALESCE(TRY_CAST(regexp_extract(lower(trim(
                        o_orderpriority)), '(\d+)', 1) AS INTEGER), 0)
                 ELSE 0
               END AS urgency,
               COUNT(*) AS n
        FROM orders
        GROUP BY 1 ORDER BY 1
    """,
    "q08_row_hash_profile": f"""
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT md5({_HASH_COLS_SQL})) AS n_unique
        FROM lineitem
    """,
    "q09_incremental_dedup": f"""
        WITH hashed AS (SELECT md5({_HASH_COLS_SQL}) AS row_hash, l_shipdate FROM lineitem),
             ledger AS (SELECT DISTINCT row_hash FROM hashed WHERE year(l_shipdate) < 1997)
        SELECT COUNT(*) AS n_new_rows
        FROM hashed WHERE row_hash NOT IN (SELECT row_hash FROM ledger)
    """,
    "q10_dim_airlines": """
        SELECT DISTINCT s_name AS airline_name FROM supplier ORDER BY 1
    """,
    "q11_dim_airports": """
        SELECT DISTINCT airport_code, airport_name FROM (
            SELECT n_nationkey AS airport_code, n_name AS airport_name
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            UNION ALL
            SELECT n_nationkey, n_name
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
        ) ORDER BY airport_code
    """,
    "q12_dim_date": """
        SELECT strftime(date_id, '%Y-%m-%d') AS date_id,
               CAST(year(date_id) AS INTEGER) AS year,
               CAST(month(date_id) AS INTEGER) AS month,
               CAST(day(date_id) AS INTEGER) AS day,
               CAST(quarter(date_id) AS INTEGER) AS quarter,
               CAST(isodow(date_id) - 1 AS INTEGER) AS day_of_week,
               isodow(date_id) - 1 >= 5 AS is_weekend,
               CASE WHEN month(date_id) IN (6, 7) THEN 'Peak'
                    WHEN month(date_id) = 12 THEN 'Winter Holidays'
                    ELSE 'Regular' END AS seasonality
        FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS date_id FROM orders)
        ORDER BY 1
    """,
    "q13_customers_without_urgent_orders": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        ORDER BY c_custkey
    """,
    "q14_customers_with_orders": """
        SELECT COUNT(*) AS n_active_customers FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "q15_label_per_day": """
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, MAX(event_type) AS label
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "q16_fact_flights": """
        SELECT l_orderkey AS booking_id,
               l_linenumber AS leg,
               s_name AS airline,
               src.n_name AS src_airport,
               dst.n_name AS dst_airport,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS departure_date_id,
               o_orderpriority AS class,
               ROUND(l_extendedprice, 2) AS base_fare,
               l_extendedprice * l_tax AS tax_surcharge,
               l_extendedprice * (1 - l_discount) * (1 + l_tax) AS total_fare
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation src ON c_nationkey = src.n_nationkey
        JOIN nation dst ON s_nationkey = dst.n_nationkey
    """,
    "q17_reconciliation": """
        WITH c AS (
            SELECT COUNT(*) AS source_count,
                   CAST(SUM(CASE WHEN l_quantity > 0 AND l_extendedprice > 0 THEN 1 ELSE 0 END) AS BIGINT) AS valid_count
            FROM lineitem
        )
        SELECT source_count, valid_count,
               source_count - valid_count AS dropped,
               ROUND((source_count - valid_count) * 100.0 / source_count, 4) AS loss_pct,
               (source_count - valid_count) * 100.0 / source_count <= 1.0 AS within_budget
        FROM c
    """,
    "q18_top_orders_per_customer": """
        SELECT o_custkey AS customer_id, o_orderkey AS order_id, rank,
               ROUND(o_totalprice, 2) AS total_price
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
            ) AS rank
            FROM orders
        ) WHERE rank <= 3
    """,
    "q19_sessionization": """
        WITH e AS (
            SELECT user_id, ts, event_id,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events
        )
        SELECT user_id,
               CAST(SUM(CASE WHEN prev_ts IS NULL
                             OR date_diff('second', prev_ts, ts) > 1800
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
               COUNT(*) AS n_events
        FROM e GROUP BY user_id ORDER BY user_id
    """,
    "q20_status_pivot": """
        SELECT o_orderpriority AS priority,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
               CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        FROM orders GROUP BY 1 ORDER BY 1
    """,
    "q21_rollup_fare": f"""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
               CAST(quarter(o_orderdate) AS INTEGER) AS quarter,
               {exact_mean_oracle("o_totalprice")} AS avg_price,
               COUNT(*) AS n
        FROM orders
        GROUP BY ROLLUP(year, quarter)
        ORDER BY year ASC NULLS FIRST, quarter ASC NULLS FIRST
    """,
    "q22_profile": """
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT l_orderkey) AS n_orders,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_suppkey) AS n_suppliers,
               strftime(MIN(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS first_ship,
               strftime(MAX(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS last_ship
        FROM lineitem
    """,
}


# ===========================================================================
# Second wave: wider relational coverage (round-1 extension of §2.2/2.5/2.6)
# ===========================================================================

from ..sources import register_views  # noqa: E402
from ..functions.cleaning import clean_text_expr  # noqa: E402


def q23_standardize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — trim + title-case standardization (transformation.py:56-59)
    on part names; initcap is whitespace-split title-casing (the engine's
    pinned divergence from pandas .str.title(), SURVEY P5)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            clean_text_expr("p_name").alias("name_title"),
            F.lower(F.trim("p_name")).alias("name_lower"),
        )
        .orderBy("p_partkey")
    )


def q24_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — per-status, per-priority, and grand-total counts in
    one pass (generalizes A3's grouped counts). avg_price follows the
    exact-mean law (r10 sweep of the last ROUND(AVG(money)) — a mean of
    2-decimal prices lands on fractional cents routinely, the q01
    class; q46's CUBE twin is count-only and needs no conversion)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "o_totalprice",
        )
        .groupingSets([["status"], ["priority"], []], "status", "priority")
        .agg(F.count("*").alias("n"),
             exact_mean("o_totalprice").alias("avg_price"))
        .orderBy(F.asc_nulls_first("status"), F.asc_nulls_first("priority"))
    )


def q25_distinct_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates per group: distinct parts and orders served by
    each supplier alongside plain counts (one pass, expand-based plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_suppkey").alias("supplier_id"))
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("supplier_id")
    )


def q26_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT — customers ordering in both 1995 and 1996 vs
    only 1995 (distinct set semantics, tagged and unioned)."""
    orders = load_table(spark, sf_dir, "orders")
    c95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    c96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    both = c95.intersect(c96).withColumn("op", F.lit("both"))
    only95 = c95.exceptAll(c96).withColumn("op", F.lit("only_1995"))
    return both.unionByName(only95).orderBy("op", "o_custkey")


def q27_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per return flag — the
    exact counterpart of the sketch quantiles in x12 (X6)."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.percentile("l_extendedprice", F.lit([0.25, 0.5, 0.75]))
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(pct.alias("p"))
        .select(
            "flag",
            F.round(F.element_at("p", 1), 4).alias("p25"),
            F.round(F.element_at("p", 2), 4).alias("p50"),
            F.round(F.element_at("p", 3), 4).alias("p75"),
        )
        .orderBy("flag")
    )


def q28_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join on nation names (scalar string
    function coverage; the blocked-pair shape mirrors X2 verification)."""
    nation = load_table(spark, sf_dir, "nation")
    a = nation.select(F.col("n_name").alias("a"))
    b = nation.select(F.col("n_name").alias("b"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", F.levenshtein("a", "b").alias("dist"))
        .filter(F.col("dist") <= 8)
        .orderBy("a", "b")
    )


def q29_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic (P10/P11 companions): day offsets, +30d shipping
    SLA date, end-of-month bucketing."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (
        orders.select(d.alias("d")).distinct()
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("order_date"),
            F.datediff("d", F.lit("1995-01-01").cast("date")).alias("days_since_95"),
            F.date_format(F.date_add("d", 30), "yyyy-MM-dd").alias("sla_date"),
            F.date_format(F.last_day("d"), "yyyy-MM-dd").alias("month_end"),
        )
        .orderBy("order_date")
    )


def q30_sql_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL frontend + window frames: monthly revenue, running cumulative
    total, and month-over-month delta via lag."""
    register_views(spark, sf_dir)
    return spark.sql("""
        WITH monthly AS (
            SELECT CAST(year(o_orderdate) AS INT) AS year,
                   CAST(month(o_orderdate) AS INT) AS month,
                   ROUND(SUM(o_totalprice), 2) AS revenue
            FROM orders GROUP BY 1, 2
        )
        SELECT year, month, revenue,
               ROUND(SUM(revenue) OVER (ORDER BY year, month
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
               ROUND(revenue - LAG(revenue) OVER (ORDER BY year, month), 2) AS mom_delta
        FROM monthly ORDER BY year, month
    """)


def q31_sql_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subqueries (EXISTS + scalar) through the SQL frontend."""
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT c_custkey, c_name,
               (SELECT ROUND(MAX(o_totalprice), 2) FROM orders
                WHERE o_custkey = c_custkey) AS max_order
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        ORDER BY c_custkey
    """)


QUERIES.update({
    "q23_standardize_text": q23_standardize_text,
    "q24_grouping_sets": q24_grouping_sets,
    "q25_distinct_aggs": q25_distinct_aggs,
    "q26_set_ops": q26_set_ops,
    "q27_percentiles": q27_percentiles,
    "q28_levenshtein_pairs": q28_levenshtein_pairs,
    "q29_date_arithmetic": q29_date_arithmetic,
    "q30_sql_running_total": q30_sql_running_total,
    "q31_sql_correlated": q31_sql_correlated,
})

ORACLE.update({
    "q23_standardize_text": """
        SELECT p_partkey,
               list_aggregate(list_transform(string_split(trim(p_name), ' '),
                   w -> upper(w[1]) || lower(w[2:])), 'string_agg', ' ') AS name_title,
               lower(trim(p_name)) AS name_lower
        FROM part ORDER BY p_partkey
    """,
    "q24_grouping_sets": f"""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               COUNT(*) AS n,
               {exact_mean_oracle('o_totalprice')} AS avg_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status NULLS FIRST, priority NULLS FIRST
    """,
    "q25_distinct_aggs": """
        SELECT l_suppkey AS supplier_id,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_orderkey) AS n_orders,
               COUNT(*) AS n_lines
        FROM lineitem GROUP BY 1 ORDER BY 1
    """,
    "q26_set_ops": """
        WITH c95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
             c96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        SELECT o_custkey, 'both' AS op FROM (SELECT * FROM c95 INTERSECT SELECT * FROM c96)
        UNION ALL
        SELECT o_custkey, 'only_1995' AS op FROM (SELECT * FROM c95 EXCEPT SELECT * FROM c96)
        ORDER BY op, o_custkey
    """,
    "q27_percentiles": """
        SELECT l_returnflag AS flag,
               ROUND(CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE), 4) AS p25,
               ROUND(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS p50,
               ROUND(CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE), 4) AS p75
        FROM lineitem GROUP BY 1 ORDER BY 1
    """,
    "q28_levenshtein_pairs": """
        SELECT a.n_name AS a, b.n_name AS b, levenshtein(a.n_name, b.n_name) AS dist
        FROM nation a JOIN nation b ON a.n_name < b.n_name
        WHERE levenshtein(a.n_name, b.n_name) <= 8
        ORDER BY a, b
    """,
    "q29_date_arithmetic": """
        SELECT strftime(d, '%Y-%m-%d') AS order_date,
               CAST(date_diff('day', DATE '1995-01-01', d) AS INTEGER) AS days_since_95,
               strftime(CAST(d + INTERVAL 30 DAY AS DATE), '%Y-%m-%d') AS sla_date,
               strftime(last_day(d), '%Y-%m-%d') AS month_end
        FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
        ORDER BY order_date
    """,
    "q30_sql_running_total": """
        WITH monthly AS (
            SELECT CAST(year(o_orderdate) AS INT) AS year,
                   CAST(month(o_orderdate) AS INT) AS month,
                   ROUND(SUM(o_totalprice), 2) AS revenue
            FROM orders GROUP BY 1, 2
        )
        SELECT year, month, revenue,
               ROUND(SUM(revenue) OVER (ORDER BY year, month
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
               ROUND(revenue - LAG(revenue) OVER (ORDER BY year, month), 2) AS mom_delta
        FROM monthly ORDER BY year, month
    """,
    "q31_sql_correlated": """
        SELECT c_custkey, c_name,
               (SELECT ROUND(MAX(o_totalprice), 2) FROM orders
                WHERE o_custkey = c_custkey) AS max_order
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        ORDER BY c_custkey
    """,
})


# ---------------------------------------------------------------------------
# q36: full analytic window-function suite
# ---------------------------------------------------------------------------

def q36_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag / lead / ntile / dense_rank / cume_dist in one ordered window
    per customer. Ordering includes the unique o_orderkey so every rank
    function is deterministic under ties. One shuffle on o_custkey; all
    five functions share the single sorted pass."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_orderkey", "o_custkey",
            F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
            F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
            F.ntile(4).over(w).alias("quartile"),
            F.dense_rank().over(w).alias("drank"),
            F.round(F.cume_dist().over(w), 6).alias("cdist"),
        )
        .orderBy("o_orderkey")
    )


QUERIES.update({"q36_window_suite": q36_window_suite})

ORACLE.update({
    "q36_window_suite": """
        SELECT o_orderkey, o_custkey,
               ROUND(LAG(o_totalprice) OVER w, 2) AS prev_price,
               ROUND(LEAD(o_totalprice) OVER w, 2) AS next_price,
               CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
               CAST(DENSE_RANK() OVER w AS INTEGER) AS drank,
               ROUND(CUME_DIST() OVER w, 6) AS cdist
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_orderkey
    """,
})


# ---------------------------------------------------------------------------
# q37-q39: classic TPC-H query shapes (pricing summary, shipping priority,
# forecast revenue) — the standard OLAP parity check for any new engine.
# Aggregates are sums/counts (not avgs) so both engines round identically.
# ---------------------------------------------------------------------------

def q37_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped pricing summary over filtered lineitem.
    One scan, filter pushed to parquet, map-side partial aggregation —
    the canonical whole-stage-codegen pipeline."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            # 4- and 6-decimal derived money rounded to cents — the
            # exact-half class q83 reddened on (r9); the 2-decimal
            # inputs above cannot land near a cent half, so their
            # plain double sums stay
            exact_sum("l_extendedprice * (1 - l_discount)")
            .alias("sum_disc_price"),
            exact_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")
            .alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q38_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped orders by revenue — selective
    filters on both join sides reach the scans; top-k is TakeOrdered.

    Exact-money discipline, LATE-CENTS form (r9 A/B): unlike the other
    converted sums, this aggregate has ~|orders| GROUPS, so exact_sum's
    once-per-group wide recombination runs effectively per-row — the
    interleaved A/B measured 2.0× over the old double sum (the only
    conversion regression; the few-group shapes were 0.4-0.9×). The
    groups therefore carry only the split (hi, lo) LONG pair, the
    top-10 ranks on the recombined micro total (exact: per-order
    totals are sign-uniform and far below 2^53 micros), and the cents
    law materializes for the 10 SURVIVORS only. Ranking on unrounded
    micros refines the old rounded-cents order — a cutoff tie in cents
    now resolves by exact total first, then o_orderkey; both engines
    replay the identical rule."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    hi, lo = exact_parts("l_extendedprice * (1 - l_discount)")
    return (
        li.filter(F.col("l_shipdate") > F.lit("1998-06-01"))
        .join(
            orders.filter(F.col("o_orderdate") < F.lit("1998-06-01")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(hi.alias("__hi"), lo.alias("__lo"))
        .withColumn("__mu", F.expr(micros_from_parts_sql("__hi", "__lo")))
        .orderBy(F.desc("__mu"), "o_orderkey")
        .limit(10)
        .select(
            "o_orderkey", "o_orderdate", "o_orderpriority",
            F.expr(rounded_from_parts_sql("__hi", "__lo", "DIV"))
            .alias("revenue"),
        )
    )


def q39_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + scalar aggregate; every predicate is
    parquet-pushable (min/max row-group pruning at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum("l_extendedprice * l_discount").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


QUERIES.update({
    "q37_pricing_summary": q37_pricing_summary,
    "q38_shipping_priority": q38_shipping_priority,
    "q39_forecast_revenue": q39_forecast_revenue,
})

ORACLE.update({
    "q37_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               {SUM_DISC} AS sum_disc_price,
               {SUM_CHARGE} AS sum_charge,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "q38_shipping_priority": """
        WITH per_order AS (
            SELECT o_orderkey, o_orderdate, o_orderpriority,
                   {HI} AS hi, {LO} AS lo
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate > TIMESTAMP '1998-06-01'
              AND o_orderdate < TIMESTAMP '1998-06-01'
            GROUP BY 1, 2, 3
        )
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               {REV} AS revenue
        FROM per_order
        ORDER BY {MU} DESC, o_orderkey
        LIMIT 10
    """,
    "q39_forecast_revenue": """
        SELECT {REV_DISC} AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.02 AND 0.04
          AND l_quantity < 24
    """,
})

# 4-/6-decimal derived-money sums rounded to cents take the exact
# micro-unit cents law (the q83 r9 exact-half class); 2-decimal input
# sums above keep plain doubles (cannot land near a cent half)
ORACLE["q37_pricing_summary"] = ORACLE["q37_pricing_summary"].format(
    SUM_DISC=exact_sum_oracle("l_extendedprice * (1 - l_discount)"),
    SUM_CHARGE=exact_sum_oracle(
        "l_extendedprice * (1 - l_discount) * (1 + l_tax)"),
)
_Q38_PARTS = exact_parts_oracle("l_extendedprice * (1 - l_discount)")
ORACLE["q38_shipping_priority"] = ORACLE["q38_shipping_priority"].format(
    HI=_Q38_PARTS[0],
    LO=_Q38_PARTS[1],
    MU=micros_from_parts_sql("hi", "lo"),
    REV=rounded_from_parts_sql("hi", "lo", "//"),
)
ORACLE["q39_forecast_revenue"] = ORACLE["q39_forecast_revenue"].format(
    REV_DISC=exact_sum_oracle("l_extendedprice * l_discount"),
)


# ---------------------------------------------------------------------------
# q40: skew-proof two-phase aggregation, oracle-checked for equivalence
# ---------------------------------------------------------------------------

def q40_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (operators/partitioning.salted_agg)
    over a deliberately low-cardinality key (3 return flags at any scale
    — exactly the shape where one hot reducer straggles). The oracle is
    the PLAIN group-by: the gate proves the salted plan is semantically
    identical to the unsalted one."""
    from ..operators.partitioning import salted_agg

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "total_qty", F.col("l_quantity")
    )
    out = salted_agg(
        li, "l_returnflag", salt_source="l_orderkey",
        aggs={"n": "count", "total_qty": "sum"}, n_salts=16,
    )
    return out.select(
        "l_returnflag", "n", F.round("total_qty", 2).alias("total_qty")
    ).orderBy("l_returnflag")


QUERIES.update({"q40_salted_agg": q40_salted_agg})

ORACLE.update({
    "q40_salted_agg": """
        SELECT l_returnflag, COUNT(*) AS n,
               ROUND(SUM(l_quantity), 2) AS total_qty
        FROM lineitem GROUP BY 1 ORDER BY 1
    """,
})


def q41_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join (lineitem ⋈ orders ⋈ customer ⋈
    supplier ⋈ nation ⋈ region) with a region filter and the
    local-supplier predicate (customer and supplier in the same nation).
    Catalyst reorders the joins and broadcasts every dimension; the
    region filter prunes nation before it ever touches the fact side."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup),
              (li.l_suppkey == sup.s_suppkey)
              & (cust.c_nationkey == sup.s_nationkey))
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region),
              (nation.n_regionkey == region.r_regionkey)
              & (region.r_name == "ASIA"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(exact_sum("l_extendedprice * (1 - l_discount)")
             .alias("revenue"),
             F.count("*").alias("n_lines"))
        .orderBy(F.desc("revenue"), "nation")
    )


QUERIES.update({"q41_local_supplier_volume": q41_local_supplier_volume})

ORACLE.update({
    "q41_local_supplier_volume": """
        SELECT n_name AS nation,
               {REV} AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        GROUP BY 1
        ORDER BY revenue DESC, nation
    """,
})

ORACLE["q41_local_supplier_volume"] = (
    ORACLE["q41_local_supplier_volume"].format(
        REV=exact_sum_oracle("l_extendedprice * (1 - l_discount)"),
    )
)


def q42_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: the set of priorities each
    customer has used, as a sorted array. collect_set alone is
    order-nondeterministic under parallelism — sort_array pins it
    (the same determinism discipline as J4's max()-not-last policy).
    Exercises complex (array-typed) output through the value-hash gate."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.sort_array(F.collect_set("o_orderpriority")).alias("p"))
        .select(
            "o_custkey",
            F.array_join("p", "|").alias("priorities"),
            F.size("p").alias("n_priorities"),
        )
        .orderBy("o_custkey")
    )


QUERIES.update({"q42_collect_sorted": q42_collect_sorted})

ORACLE.update({
    "q42_collect_sorted": """
        SELECT o_custkey,
               array_to_string(list_sort(list_distinct(list(o_orderpriority))), '|') AS priorities,
               CAST(len(list_distinct(list(o_orderpriority))) AS INTEGER) AS n_priorities
        FROM orders GROUP BY 1 ORDER BY 1
    """,
})


def q44_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: per-nation customer counts vs supplier counts —
    nations with only one side present survive with nulls, keys coalesced.
    (Left/anti/semi appear elsewhere; this closes the outer-join gap.)"""
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    c = cust.groupBy(F.col("c_nationkey").alias("ck")).agg(
        F.count("*").alias("n_customers"))
    s = sup.groupBy(F.col("s_nationkey").alias("sk")).agg(
        F.count("*").alias("n_suppliers"))
    return (
        c.join(s, c.ck == s.sk, "full_outer")
        .select(
            F.coalesce("ck", "sk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


def q45_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two projections with different column sets
    stacked with unionByName(allowMissingColumns=True) — missing columns
    null-filled by NAME, never by position (the silent-corruption mode of
    positional UNION when schemas drift)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice")
    b = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderpriority")
    return (
        a.unionByName(b, allowMissingColumns=True)
        .orderBy("o_orderkey")
    )


QUERIES.update({
    "q44_full_outer": q44_full_outer,
    "q45_union_by_name": q45_union_by_name,
})

ORACLE.update({
    "q44_full_outer": """
        WITH c AS (SELECT c_nationkey AS ck, COUNT(*) AS n_customers
                   FROM customer GROUP BY 1),
             s AS (SELECT s_nationkey AS sk, COUNT(*) AS n_suppliers
                   FROM supplier GROUP BY 1)
        SELECT COALESCE(ck, sk) AS nationkey,
               COALESCE(n_customers, 0) AS n_customers,
               COALESCE(n_suppliers, 0) AS n_suppliers
        FROM c FULL OUTER JOIN s ON ck = sk
        ORDER BY nationkey
    """,
    "q45_union_by_name": """
        SELECT * FROM (
            SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
            UNION ALL BY NAME
            SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderstatus = 'O'
        ) ORDER BY o_orderkey
    """,
})


def q46_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping combinations in one
    pass — completes the grouping-sets family (q21 ROLLUP, q24 GROUPING
    SETS). grouping_id disambiguates real nulls from subtotal rows."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"),
             F.grouping_id().alias("gid"))
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    )


QUERIES.update({"q46_cube": q46_cube})

ORACLE.update({
    "q46_cube": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                    AS INTEGER) AS gid
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY gid, o_orderstatus, o_orderpriority
    """,
})


def q48_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted large-large join (§2.5 skew mitigation, the join-side twin
    of q40's salted aggregation): lineitem⋈orders where the probe side
    carries a deterministic salt and the build side is replicated across
    all salt values, splitting any hot orderkey across ``_SALT_BUCKETS``
    reducers. The result is provably identical to the unsalted join (the
    oracle runs the plain join), so the query pins the REWRITE's
    correctness, not just its plan shape.

    Scale shape: this is the manual fallback for skew that AQE's
    skew-join splitting can't reach (e.g. a skewed key feeding a
    follow-on aggregation); replication factor 8 multiplies the orders
    scan, not the lineitem scan (the operator,
    ``operators/skew.py::salted_equi_join``, is property-tested against
    the plain join).
    Revenue sums round to exact 0.01-multiples (repo float policy:
    round sums, not avgs).
    """
    from ..operators.skew import salted_equi_join

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = salted_equi_join(
        li, orders, "l_orderkey", "o_orderkey", buckets=8
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("gross_revenue"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES.update({"q48_salted_skew_join": q48_salted_skew_join})

ORACLE.update({
    "q48_salted_skew_join": """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               ROUND(SUM(l_extendedprice), 2) AS gross_revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
})


def q49_stat_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate suite (§2.6): correlation, sample
    covariance, linear-regression slope/intercept, and sample stddev of
    (quantity, extendedprice) per returnflag — the built-in JVM
    aggregates a profiling/feature-engineering pass uses (no pyspark.ml,
    no UDAF). All are single-pass co-moment aggregates: partial states
    merge associatively, so the plan is one map-side-combined shuffle of
    |groups| rows regardless of corpus size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.corr(q, p), 6).alias("corr_qty_price"),
            F.round(F.covar_samp(q, p), 4).alias("covar_qty_price"),
            F.round(F.regr_slope(p, q), 6).alias("slope"),
            F.round(F.regr_intercept(p, q), 4).alias("intercept"),
            F.round(F.stddev_samp(p), 4).alias("stddev_price"),
        )
        .orderBy("l_returnflag")
    )


QUERIES.update({"q49_stat_suite": q49_stat_suite})

ORACLE.update({
    "q49_stat_suite": """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4)
                   AS covar_qty_price,
               ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 6) AS slope,
               ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4)
                   AS intercept,
               ROUND(STDDEV_SAMP(l_extendedprice), 4) AS stddev_price
        FROM lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag
    """,
})


def q50_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window suite (§2.7 — completes the window-function
    family beyond q36): NTILE quartiles, PERCENT_RANK, and CUME_DIST of
    order value within each priority class. percent_rank/cume_dist are
    rational rank ratios — deterministic across engines given the unique
    (o_totalprice, o_orderkey) ordering; rounding is belt-and-braces.

    Scale shape: one shuffle on o_orderpriority (the window key); the
    output slice (o_orderkey <= 200) filters AFTER the window — ranks are
    computed over full partitions, which is the semantic point.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .filter(F.col("o_orderkey") <= 200)
        .orderBy("o_orderkey")
    )


QUERIES.update({"q50_rank_suite": q50_rank_suite})

ORACLE.update({
    "q50_rank_suite": """
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
               ROUND(CUME_DIST() OVER w, 6) AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
        QUALIFY o_orderkey <= 200
        ORDER BY o_orderkey
    """,
})


def q51_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (§2.3 — the inverse of q20's pivot): per-priority
    order-value summary turned wide→long with the first-class
    ``DataFrame.unpivot`` API (Spark) and ``UNPIVOT`` (DuckDB). All
    melted measures cast to double so the value column is one type —
    the same contract both engines enforce.

    Scale shape: unpivot is a map-side row expansion (3 rows per input
    row, no shuffle); the only exchange is the tiny upstream aggregate.
    """
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )
    return (
        wide.unpivot(
            ids=["o_orderpriority"],
            values=["n_orders", "min_price", "max_price"],
            variableColumnName="metric",
            valueColumnName="val",
        )
        .orderBy("o_orderpriority", "metric")
    )


QUERIES.update({"q51_unpivot": q51_unpivot})

ORACLE.update({
    "q51_unpivot": """
        WITH wide AS (
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS DOUBLE) AS n_orders,
                   ROUND(MIN(o_totalprice), 2) AS min_price,
                   ROUND(MAX(o_totalprice), 2) AS max_price
            FROM orders GROUP BY 1
        )
        SELECT o_orderpriority, metric, val
        FROM (UNPIVOT wide ON n_orders, min_price, max_price
              INTO NAME metric VALUE val)
        ORDER BY o_orderpriority, metric
    """,
})


# --- §2.4/§2.5 extension: correlated-subquery decorrelation -----------------

def q52_decorrelated_avg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, decorrelated (TPC-H Q17 shape):
    revenue from "small lots" — lineitems with quantity below half the
    per-part average — grouped by brand. The oracle states the query the
    way an analyst writes it (a correlated ``(SELECT 0.5*AVG(...) WHERE
    l2.l_partkey = l1.l_partkey)``); the Spark plan is the decorrelated
    form a 100 TB engine must run: the per-part average as a window over
    ``l_partkey`` (ONE shuffle of lineitem, reusing the join key's
    partitioning), then a map-side filter and a broadcast join to part.
    A naive correlated execution is a per-row subquery scan; the
    decorrelated plan touches lineitem exactly once.

    Determinism: l_quantity is integer-valued double, so the per-part
    sum (hence avg, hence the 0.5*avg comparison) is exact in IEEE
    double — no boundary flakiness between engines.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    w = W.partitionBy("l_partkey")
    small = (
        li.withColumn("part_avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.5 * F.col("part_avg_qty"))
    )
    return (
        small.join(F.broadcast(part), small.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_small_lots"),
            F.round(F.sum("l_extendedprice"), 2).alias("small_lot_revenue"),
        )
        .orderBy("p_brand")
    )


QUERIES.update({"q52_decorrelated_avg_filter": q52_decorrelated_avg_filter})

ORACLE.update({
    "q52_decorrelated_avg_filter": """
        SELECT p.p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_small_lots,
               ROUND(SUM(l.l_extendedprice), 2) AS small_lot_revenue
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_quantity < (
            SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey
        )
        GROUP BY 1 ORDER BY 1
    """,
})


def q53_rolling_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling aggregate (§2.7 — the window-frame family's
    missing member next to q30's ROWS cumulative): 7-day rolling revenue
    over the daily totals of ``orders``. The frame is ``RANGE BETWEEN 6
    PRECEDING AND CURRENT ROW`` over an epoch-day ordinal, so calendar
    GAPS shrink the window — ``n_days_7d`` < 7 around missing days —
    which is exactly the semantics a ROWS frame gets wrong (7 *rows*
    back silently spans the gap). Reference analog: the pandas
    ``resample``/rolling trend in visualization.py's fare-trend chart;
    here it's a declarative window, not a driver-side series.

    Determinism: day_rev is rounded before the rolling sums, so the
    7-value rolling additions are over identical 2dp inputs in both
    engines.

    Scale shape: one shuffle aggregates orders to ≤|days| rows (bounded
    by the calendar, ~2.4k here, ~36k for a century), then the window
    runs on the tiny daily frame — the single-partition sort is over
    |days| rows, NOT |orders|, the same bounded-aggregate-then-window
    shape as q30. At 100 TB the daily aggregate is still KiB-sized.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("day_rev"))
        .withColumn(
            "day_num",
            F.datediff(F.col("day"), F.lit("1995-01-01").cast("date")).cast("long"),
        )
    )
    w = W.orderBy("day_num").rangeBetween(-6, 0)
    return (
        daily.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "day_rev",
            F.round(F.sum("day_rev").over(w), 2).alias("rev_7d"),
            F.count(F.lit(1)).over(w).alias("n_days_7d"),
            F.round(F.avg("day_rev").over(w), 4).alias("avg_7d"),
        )
        .orderBy("day")
    )


QUERIES.update({"q53_rolling_range_frame": q53_rolling_range_frame})

ORACLE.update({
    "q53_rolling_range_frame": """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   ROUND(SUM(o_totalprice), 2) AS day_rev
            FROM orders GROUP BY 1
        ),
        numbered AS (
            SELECT day, day_rev,
                   datediff('day', DATE '1995-01-01', day) AS day_num
            FROM daily
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               day_rev,
               ROUND(SUM(day_rev) OVER w, 2) AS rev_7d,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_days_7d,
               ROUND(AVG(day_rev) OVER w, 4) AS avg_7d
        FROM numbered
        WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY day
    """,
})


def q54_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``NOT IN (subquery)`` — the null-aware anti join (§2.4 next to
    q13's plain LEFT ANTI): suppliers with no near-full-quantity
    lineitem. SQL's three-valued logic makes ``x NOT IN (set with
    NULL)`` yield UNKNOWN for every row, so the planner cannot use a
    plain anti join unless it can prove the subquery side non-null —
    Spark plans a null-aware anti join (NAAJ) / adds the
    ``isnull(key)`` disjunct to the join condition. q13 covers the
    NOT-EXISTS shape; this pins the NOT-IN shape, which users write
    interchangeably but which optimizes differently.

    The probe side unions in one explicit NULL-key sentinel row so a
    NULL actually flows through the NAAJ comparison: ``NULL NOT IN
    (non-empty set)`` is UNKNOWN, so the sentinel must be absent from
    the result — both engines prove the three-valued path, on data, not
    just in the plan. (A NULL on the *subquery* side would empty the
    whole result by the same logic — that branch is pinned in
    tests/test_plan_shapes.py::test_not_in_null_subquery_empties_result,
    where an empty result is assertable.)
    The predicate is tight enough that some suppliers survive at every
    test SF, so the row-set itself is a non-vacuous signal (ADVICE r4:
    the old ``l_quantity >= 49`` version returned 0 rows at driver
    scale — every supplier matched — and supplier keys are never null).

    Scale shape: the subquery side (distinct filtered suppkeys) is a
    small set — broadcastable; the probe side streams. Both predicates
    are pushed to the lineitem scan.
    """
    register_views(spark, sf_dir, tables=("supplier", "lineitem"))
    return spark.sql("""
        WITH probe AS (
            SELECT s_suppkey, s_name FROM supplier
            UNION ALL
            SELECT CAST(NULL AS BIGINT) AS s_suppkey,
                   'NULL-KEY SENTINEL' AS s_name
        )
        SELECT s_suppkey, s_name
        FROM probe
        WHERE s_suppkey NOT IN (
            SELECT l_suppkey FROM lineitem
            WHERE l_quantity >= 50 AND month(l_shipdate) = 1
        )
        ORDER BY s_suppkey
    """)


QUERIES.update({"q54_not_in_null_aware": q54_not_in_null_aware})

ORACLE.update({
    "q54_not_in_null_aware": """
        WITH probe AS (
            SELECT s_suppkey, s_name FROM supplier
            UNION ALL
            SELECT CAST(NULL AS BIGINT) AS s_suppkey,
                   'NULL-KEY SENTINEL' AS s_name
        )
        SELECT s_suppkey, s_name
        FROM probe
        WHERE s_suppkey NOT IN (
            SELECT l_suppkey FROM lineitem
            WHERE l_quantity >= 50 AND month(l_shipdate) = 1
        )
        ORDER BY s_suppkey
    """,
})


def q55_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the multiplicity-preserving bag
    variants (§2.5 next to q26's distinct set ops): order-priority
    demand in 1995 vs 1996 as multisets, where INTERSECT ALL keeps
    min(n₉₅, n₉₆) copies per priority and EXCEPT ALL keeps
    max(n₉₅ − n₉₆, 0) — the year-over-year "matched demand" and "excess
    demand" decomposition. Distinct-set operators would collapse each
    priority to one row and lose exactly the quantity being measured.

    Scale shape: Spark plans bag ops as a count-aggregate + generate
    (multiplicity replay) — one shuffle per side on the compared
    columns; the per-priority rollup then reduces the replay. Both
    predicates push to the scan.
    """
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") == 1995).select("o_orderpriority")
    b = orders.filter(F.year("o_orderdate") == 1996).select("o_orderpriority")
    inter = (
        a.intersectAll(b)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("op", F.lit("intersect_all"))
    )
    exc = (
        a.exceptAll(b)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("op", F.lit("except_all"))
    )
    return (
        inter.unionByName(exc)
        .select("op", "o_orderpriority", "n_rows")
        .orderBy("op", "o_orderpriority")
    )


QUERIES.update({"q55_bag_set_ops": q55_bag_set_ops})

ORACLE.update({
    "q55_bag_set_ops": """
        WITH a AS (SELECT o_orderpriority FROM orders
                   WHERE year(o_orderdate) = 1995),
             b AS (SELECT o_orderpriority FROM orders
                   WHERE year(o_orderdate) = 1996),
        i AS (
            SELECT 'intersect_all' AS op, o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
            GROUP BY 2
        ),
        e AS (
            SELECT 'except_all' AS op, o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
            GROUP BY 2
        )
        SELECT * FROM i
        UNION ALL
        SELECT * FROM e
        ORDER BY op, o_orderpriority
    """,
})


def q56_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with LIMIT (§2.4's remaining frontend
    shape): each customer's top-2 orders by value, written the way SQL
    users write it — a per-row dependent subquery — and decorrelated by
    the planner into the same per-key window/top-k machinery q18
    expresses directly. Pins that the engine accepts the LATERAL form
    at all (it reached Spark in 4.0; q31 covers scalar correlation,
    this covers correlated TABLE subqueries).

    Scale shape: after decorrelation the plan is a partitioned window
    over o_custkey — one shuffle, no per-customer re-execution of the
    subquery (the naive nested-loop interpretation).
    """
    register_views(spark, sf_dir, tables=("customer", "orders"))
    return spark.sql("""
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c_custkey <= 100
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey
    """)


QUERIES.update({"q56_lateral_topk": q56_lateral_topk})

ORACLE.update({
    "q56_lateral_topk": """
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c_custkey <= 100
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey
    """,
})


# --- round 5: SQL-frontend surface — recursion, IGNORE NULLS, arrays --------

def q57_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WITH RECURSIVE`` — the iterative SQL-frontend surface (§2.7
    next to q53's RANGE frame): a dense calendar-month spine generated
    by recursion from the orders date bounds, left-joined to monthly
    revenue so months with no orders surface as explicit zero rows (the
    report-grade variant of x45's sequence+explode gap-fill — this one
    pins the recursive-CTE evaluator itself; both engines must converge
    the recursion to the same fixpoint).

    Scale shape: the recursion runs on the one-row bounds aggregate —
    O(months) driver-free iterations of a single-row frame, never
    event-scale; the monthly rollup is the only orders-scale pass
    (partial-agged on the month key); the spine⋈rollup join is
    |months| rows on both sides.
    """
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql("""
        WITH RECURSIVE months AS (
            SELECT date_trunc('MONTH', MIN(o_orderdate)) AS m,
                   date_trunc('MONTH', MAX(o_orderdate)) AS hi
            FROM orders
            UNION ALL
            SELECT m + INTERVAL '1' MONTH, hi FROM months WHERE m < hi
        ),
        rev AS (
            SELECT date_trunc('MONTH', o_orderdate) AS m,
                   ROUND(SUM(o_totalprice), 2) AS revenue,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1
        )
        SELECT date_format(months.m, 'yyyy-MM') AS month,
               COALESCE(rev.revenue, 0.0) AS revenue,
               CAST(COALESCE(rev.n_orders, 0) AS BIGINT) AS n_orders
        FROM months LEFT JOIN rev ON months.m = rev.m
        ORDER BY month
    """)


QUERIES.update({"q57_recursive_month_spine": q57_recursive_month_spine})

ORACLE.update({
    "q57_recursive_month_spine": """
        WITH RECURSIVE months AS (
            SELECT date_trunc('month', MIN(o_orderdate)) AS m,
                   date_trunc('month', MAX(o_orderdate)) AS hi
            FROM orders
            UNION ALL
            SELECT m + INTERVAL 1 MONTH, hi FROM months WHERE m < hi
        ),
        rev AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   ROUND(SUM(o_totalprice), 2) AS revenue,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1
        )
        SELECT strftime(months.m, '%Y-%m') AS month,
               COALESCE(rev.revenue, 0.0) AS revenue,
               CAST(COALESCE(rev.n_orders, 0) AS BIGINT) AS n_orders
        FROM months LEFT JOIN rev ON months.m = rev.m
        ORDER BY month
    """,
})


def q58_locf_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IGNORE NULLS`` window semantics — last-observation-carried-
    forward per user over the event stream (§2.7 window surface; the
    per-entity LOCF every telemetry pipeline runs, and the windowed
    sibling of x45's spine-grain carry-forward). 'error' events mask
    ``value`` to NULL; ``last_value(v) IGNORE NULLS`` over the
    (ts, event_id)-ordered per-user frame repairs them from the most
    recent good reading. The frame clause matters: the default
    RANGE-to-CURRENT frame with IGNORE NULLS is exactly the LOCF
    contract, pinned here with an explicit ROWS frame so both engines
    evaluate the identical window.

    Scale shape: one event-scale shuffle on user_id (window + the final
    per-user rollup share it — the aggregation keys are a prefix of the
    window partition keys, so no second exchange); output is |users|.
    """
    register_views(spark, sf_dir, tables=("events",))
    return spark.sql("""
        WITH base AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
            FROM events
        ),
        locf AS (
            SELECT user_id, v,
                   last_value(v) IGNORE NULLS OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS filled,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM base
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN v IS NULL AND filled IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
               ROUND(MAX(CASE WHEN rn = 1 THEN filled END), 2) AS last_value
        FROM locf
        GROUP BY user_id
        ORDER BY user_id
    """)


QUERIES.update({"q58_locf_ignore_nulls": q58_locf_ignore_nulls})

ORACLE.update({
    "q58_locf_ignore_nulls": """
        WITH base AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
            FROM events
        ),
        locf AS (
            SELECT user_id, v,
                   last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS filled,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM base
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN v IS NULL AND filled IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
               ROUND(MAX(CASE WHEN rn = 1 THEN filled END), 2) AS last_value
        FROM locf
        GROUP BY user_id
        ORDER BY user_id
    """,
})


def q59_array_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-algebra surface (§2.5's set ops lifted to the collection
    domain): per customer, the DISTINCT order-priority profile of 1995
    vs 1996 as sorted arrays, compared with array_intersect /
    array_except — the retained / churned demand decomposition. Pins
    collect_set determinism (sets are unordered — every array is
    sort_array'd before any cross-engine comparison), the null-free
    set-semantics of the array algebra, and array_join rendering.

    Scale shape: one orders-scale shuffle on (custkey, year); the
    year-pivot self-join is |customers|⋈|customers| on the grouping
    key (AQE broadcasts the smaller year side when it fits); arrays are
    bounded by |priorities| = 5, so rows stay narrow.
    """
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    per = (
        orders.filter(yr.isin(1995, 1996))
        .groupBy(F.col("o_custkey").alias("c_custkey"), yr.alias("y"))
        .agg(F.sort_array(F.collect_set("o_orderpriority")).alias("s"))
    )
    a = per.filter(F.col("y") == 1995).select("c_custkey", F.col("s").alias("s95"))
    b = per.filter(F.col("y") == 1996).select("c_custkey", F.col("s").alias("s96"))
    inter = F.sort_array(F.array_intersect("s95", "s96"))
    return (
        a.join(b, "c_custkey")
        .select(
            "c_custkey",
            F.size(inter).alias("n_common"),
            F.size(F.array_except("s95", "s96")).alias("n_only95"),
            F.size(F.array_except("s96", "s95")).alias("n_only96"),
            F.array_join(inter, ",").alias("common_str"),
        )
        .orderBy("c_custkey")
    )


QUERIES.update({"q59_array_set_algebra": q59_array_set_algebra})

ORACLE.update({
    "q59_array_set_algebra": """
        WITH per AS (
            SELECT o_custkey AS c_custkey, year(o_orderdate) AS y,
                   list_sort(list(DISTINCT o_orderpriority)) AS s
            FROM orders WHERE year(o_orderdate) IN (1995, 1996)
            GROUP BY 1, 2
        ),
        a AS (SELECT c_custkey, s AS s95 FROM per WHERE y = 1995),
        b AS (SELECT c_custkey, s AS s96 FROM per WHERE y = 1996)
        SELECT a.c_custkey,
               CAST(len(list_intersect(s95, s96)) AS INTEGER) AS n_common,
               CAST(len(list_filter(s95, x -> NOT list_contains(s96, x))) AS INTEGER) AS n_only95,
               CAST(len(list_filter(s96, x -> NOT list_contains(s95, x))) AS INTEGER) AS n_only96,
               COALESCE(  -- DuckDB renders the empty list as NULL; Spark as ''
                   array_to_string(list_sort(list_intersect(s95, s96)), ','), ''
               ) AS common_str
        FROM a JOIN b USING (c_custkey)
        ORDER BY c_custkey
    """,
})


def q60_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-distinct decomposition: per day, DAU split into new
    vs returning users plus the running total of users ever seen — the
    first-touch pattern behind every growth dashboard. COUNT(DISTINCT)
    cannot run inside a cumulative window at scale; the engine form is
    first-touch attribution (min event day per user → per-day new-user
    counts → running sum), which needs only day-grain state. The two
    engines compute it through different mechanisms (Spark: two
    event-scale aggregates + day-grain window; DuckDB: identical SQL) —
    the oracle pins that the decomposition DAU = new + returning holds
    exactly.

    Scale shape: two event-scale shuffles (per-(day,user) distinct →
    per-day DAU; per-user first day → per-day news), then a |days|-row
    window — same bounded-grain posture as q53/x45. Output |days| rows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    day_users = ev.distinct()
    dau = day_users.groupBy("day").agg(
        F.count("*").cast("bigint").alias("dau")
    )
    news = (
        day_users.groupBy("user_id").agg(F.min("day").alias("day"))
        .groupBy("day").agg(F.count("*").cast("bigint").alias("new_users"))
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        dau.join(news, "day", "left")
        .withColumn("new_users", F.coalesce("new_users", F.lit(0)))
        .withColumn("returning", (F.col("dau") - F.col("new_users")).cast("bigint"))
        .withColumn("cum_users", F.sum("new_users").over(w).cast("bigint"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau", "new_users", "returning", "cum_users",
        )
        .orderBy("day")
    )


QUERIES.update({"q60_new_vs_returning": q60_new_vs_returning})

ORACLE.update({
    "q60_new_vs_returning": """
        WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY 1),
        firsts AS (SELECT user_id, MIN(day) AS day FROM du GROUP BY 1),
        news AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users FROM firsts GROUP BY 1)
        SELECT strftime(dau.day, '%Y-%m-%d') AS day,
               dau.dau,
               CAST(COALESCE(news.new_users, 0) AS BIGINT) AS new_users,
               CAST(dau.dau - COALESCE(news.new_users, 0) AS BIGINT) AS returning,
               CAST(SUM(COALESCE(news.new_users, 0)) OVER (
                   ORDER BY dau.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_users
        FROM dau LEFT JOIN news ON dau.day = news.day
        ORDER BY day
    """,
})


def q61_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic surface: ``try_divide`` (NULL on /0 instead
    of error or ±Inf) and ``try_cast`` (NULL on malformed input) — the
    error-tolerant expression family a pipeline uses so one bad row
    can't fail a 100 TB job (the reference's pandas coercion P7 is the
    same decision at library level; this pins the SQL-surface form).
    Per return flag: how many unit-margin divisions hit a zero
    denominator, the mean of the survivors, and how many of a
    mixed numeric/alpha string column survive a ``try_cast`` to double.

    DuckDB mirror: ``x / NULLIF(d, 0)`` for try_divide (identical NULL
    semantics) and ``TRY_CAST`` (same name, same semantics).

    Scale shape: pure map-side expressions into one 3-group aggregate —
    the cheapest possible plan; no row ever errors, so no task retries.
    """
    li = load_table(spark, sf_dir, "lineitem")
    margin = F.expr("try_divide(l_extendedprice, l_quantity - 1)")
    mixed = F.expr(
        "try_cast(CASE WHEN l_quantity < 10 THEN cast(l_quantity AS string) "
        "ELSE l_linestatus END AS double)"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.when(margin.isNull(), 1)).cast("bigint").alias("n_div_zero"),
            F.round(F.avg(margin), 4).alias("avg_margin"),
            F.count(mixed).cast("bigint").alias("n_numeric"),
            F.round(F.avg(mixed), 4).alias("avg_numeric"),
        )
        .orderBy("l_returnflag")
    )


QUERIES.update({"q61_try_arithmetic": q61_try_arithmetic})

ORACLE.update({
    "q61_try_arithmetic": """
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN l_extendedprice / NULLIF(l_quantity - 1, 0)
                             IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_div_zero,
               ROUND(AVG(l_extendedprice / NULLIF(l_quantity - 1, 0)), 4) AS avg_margin,
               CAST(COUNT(TRY_CAST(CASE WHEN l_quantity < 10
                                        THEN CAST(l_quantity AS VARCHAR)
                                        ELSE l_linestatus END AS DOUBLE)) AS BIGINT) AS n_numeric,
               ROUND(AVG(TRY_CAST(CASE WHEN l_quantity < 10
                                       THEN CAST(l_quantity AS VARCHAR)
                                       ELSE l_linestatus END AS DOUBLE)), 4) AS avg_numeric
        FROM lineitem
        GROUP BY 1
        ORDER BY 1
    """,
})


def q62_map_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column algebra: per-customer order-priority histogram
    built as a MAP column (``map_from_entries`` over a sorted entry
    array — insertion order is deterministic), thinned with
    ``map_filter`` (keep priorities ordered ≥ 2 times), rendered with
    ``map_keys`` + ``array_join``, and exploded back to relational rows
    (``explode`` of a map yields (key, value) pairs). The collection
    sibling of q59's array set-algebra — pins that map state composes
    and round-trips losslessly to rows, so the oracle never needs a map
    type at all (DuckDB mirrors with plain GROUP BY + window algebra).

    Scale shape: one orders-scale shuffle keyed by custkey; maps are
    bounded by |priorities| = 5 entries, so rows stay narrow; the
    explode fans back out to at most 5 rows per customer map-side.
    """
    orders = load_table(spark, sf_dir, "orders")
    cnt = orders.groupBy("o_custkey", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = (
        cnt.groupBy("o_custkey")
        .agg(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(F.struct("o_orderpriority", "n"))
                )
            ).alias("m")
        )
    )
    return (
        m.select(
            F.col("o_custkey").alias("c_custkey"),
            F.size("m").alias("n_priorities"),
            F.array_join(F.map_keys("m"), ",").alias("all_pri"),
            F.explode(F.map_filter("m", lambda k, v: v >= 2)).alias(
                "priority", "n_orders"
            ),
        )
        .withColumn("n_orders", F.col("n_orders").cast("bigint"))
        .orderBy("c_custkey", "priority")
    )


QUERIES.update({"q62_map_algebra": q62_map_algebra})

ORACLE.update({
    "q62_map_algebra": """
        WITH cnt AS (
            SELECT o_custkey AS c_custkey, o_orderpriority AS priority,
                   COUNT(*) AS n
            FROM orders GROUP BY 1, 2
        ),
        agg AS (
            SELECT c_custkey,
                   CAST(COUNT(*) AS INTEGER) AS n_priorities,
                   string_agg(priority, ',' ORDER BY priority) AS all_pri
            FROM cnt GROUP BY 1
        )
        SELECT cnt.c_custkey, agg.n_priorities, agg.all_pri,
               cnt.priority, CAST(cnt.n AS BIGINT) AS n_orders
        FROM cnt JOIN agg USING (c_custkey)
        WHERE cnt.n >= 2
        ORDER BY c_custkey, priority
    """,
})


def q65_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-pair shipping volume (TPC-H Q7 shape): revenue flowing
    between two trading nations in BOTH directions, by ship year — the
    classic two-dimension-table star join where the same dim (nation)
    role-plays twice (supplier side and customer side, the q05 role-play
    rule).

    Scale shape: the two-nation filter is pushed INTO the supplier and
    customer dimension branches BEFORE they touch lineitem, so the fact
    scan is reduced by two broadcast hash joins (supplier side) and a
    pre-filtered customer join; revenue aggregates partially map-side
    into |2 × 2 × years| groups. No lineitem-scale shuffle beyond the
    orders FK join.
    """
    nations = ("NATION_1", "NATION_2")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    ).filter(F.col("n_name").isin(*nations))
    sup_n = sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)\
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust_n = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)\
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    joined = (
        li.join(F.broadcast(sup_n), li.l_suppkey == sup_n.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_n, orders.o_custkey == cust_n.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


QUERIES.update({"q65_volume_shipping": q65_volume_shipping})

ORACLE.update({
    "q65_volume_shipping": """
        SELECT ns.n_name AS supp_nation,
               nc.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        WHERE ns.n_name IN ('NATION_1', 'NATION_2')
          AND nc.n_name IN ('NATION_1', 'NATION_2')
          AND ns.n_name <> nc.n_name
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
})


def q66_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market share (TPC-H Q8 shape): the fraction of a region's order
    revenue supplied by one target nation, per order year — the
    conditional-aggregate-over-join pattern (share = SUM(CASE)/SUM, one
    aggregate, no second pass).

    Scale shape: region restriction pushes to the customer dimension
    branch (broadcast nation⋈region); the supplier nation rides in as a
    broadcast attribute and the share is computed inside ONE partial
    aggregate over |years| groups — the CASE lives map-side.
    """
    target, mkt_region = "NATION_5", "ASIA"
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == mkt_region
    )
    cust_in_region = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nat.join(F.broadcast(reg),
                         nat.n_regionkey == reg.r_regionkey)
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    sup_n = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    # Exact, order-independent sums WITHOUT the decimal accumulator
    # (r9, the q01 story): the split-two-long micro-unit scheme
    # (functions/exact_agg.py) keeps the accumulation on Tungsten's
    # long-sum fast path and is exact under ANY fold order. The share
    # itself rounds via the exact integer-RATIO law (r10): half-away
    # division of the exact rational num/den in wide-integer space —
    # no ROUND(double) remains anywhere in the output path (the r9
    # form still rounded the double quotient, a ~2e-16/row accepted
    # risk now retired).
    rev_sql = "l_extendedprice * (1 - l_discount)"
    cond_sql = (f"CASE WHEN supp_nation = '{target}' THEN {rev_sql} "
                f"ELSE 0 END")
    n_hi, n_lo = exact_parts(cond_sql)
    d_hi, d_lo = exact_parts(rev_sql)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_in_region, orders.o_custkey == cust_in_region.c_custkey)
        .join(F.broadcast(sup_n), li.l_suppkey == sup_n.s_suppkey)
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            n_hi.alias("__nhi"), n_lo.alias("__nlo"),
            d_hi.alias("__dhi"), d_lo.alias("__dlo"),
            exact_sum(rev_sql).alias("total_revenue"),
        )
        .select(
            "o_year",
            F.expr(ratio_from_parts_sql("__nhi", "__nlo", "__dhi",
                                        "__dlo", "DIV", 6))
            .alias("mkt_share"),
            "total_revenue",
        )
        .orderBy("o_year")
    )


QUERIES.update({"q66_market_share": q66_market_share})

_Q66_REV = "l.l_extendedprice * (1 - l.l_discount)"
_Q66_COND = f"CASE WHEN ns.n_name = 'NATION_5' THEN {_Q66_REV} ELSE 0 END"
ORACLE.update({
    "q66_market_share": f"""
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               {ratio_from_parts_sql(*exact_parts_oracle(_Q66_COND),
                                     *exact_parts_oracle(_Q66_REV),
                                     '//', 6)}
                   AS mkt_share,
               CAST({exact_sum_oracle(_Q66_REV)} AS DOUBLE)
                   AS total_revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        JOIN region r ON nc.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        WHERE r.r_name = 'ASIA'
        GROUP BY 1
        ORDER BY 1
    """,
})


def q67_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier by quarterly revenue (TPC-H Q15 shape): revenue per
    supplier over one ship quarter, returning the supplier(s) whose
    revenue equals the maximum — the scalar-subquery-over-aggregate
    pattern (Q15's CREATE VIEW + MAX). The equality compares doubles
    PRODUCED BY THE SAME ENGINE (max picks one of the computed sums),
    so it is exact within each engine; cross-engine agreement needs only
    the argmax supplier to match, not the bitwise sum.

    Scale shape: date-pruned lineitem scan (predicate pushdown to
    parquet) → per-supplier partial agg; the MAX is a one-row broadcast
    joined back with a crossJoin filter; the supplier name attaches via
    broadcast at the end, to |argmax| rows only.
    """
    d_lo, d_hi = "1997-01-01", "1997-04-01"
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= d_lo) & (F.col("l_shipdate") < d_hi)
    )
    hi, lo = exact_parts("l_extendedprice * (1 - l_discount)")
    rev = (
        li.groupBy("l_suppkey")
        .agg(hi.alias("hi"), lo.alias("lo"))
        # micro-unit accumulation (r9, was DECIMAL(38,6) since r7):
        # the recombined micro total is fold-order-exact, so both the
        # argmax equality AND the cents output are deterministic
        # across engines — per-supplier micro totals sit far below
        # 2^53 (and revenue is sign-uniform), so the recombined double
        # IS the exact integer; the money output rounds in integer
        # space (functions/exact_agg.py, the q83 law)
        .withColumn("raw_mu", F.expr(micros_from_parts_sql("hi", "lo")))
    )
    mx = rev.agg(F.max("raw_mu").alias("mx"))
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("raw_mu") == F.col("mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.expr(rounded_from_parts_sql("hi", "lo", "DIV"))
            .alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


QUERIES.update({"q67_top_supplier": q67_top_supplier})

ORACLE.update({
    "q67_top_supplier": f"""
        WITH parts AS (
            SELECT l_suppkey,
                   {exact_parts_oracle(
                       'l_extendedprice * (1 - l_discount)')[0]} AS hi,
                   {exact_parts_oracle(
                       'l_extendedprice * (1 - l_discount)')[1]} AS lo
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1997-04-01'
            GROUP BY 1
        ),
        revenue AS (
            SELECT l_suppkey, hi, lo,
                   {micros_from_parts_sql('hi', 'lo')} AS raw_mu
            FROM parts
        )
        SELECT s.s_suppkey, s.s_name,
               {rounded_from_parts_sql('r.hi', 'r.lo', '//')}
                   AS total_revenue
        FROM revenue r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        WHERE r.raw_mu = (SELECT MAX(raw_mu) FROM revenue)
        ORDER BY s.s_suppkey
    """,
})


def q68_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormant high-balance customers per nation (TPC-H Q22 shape):
    customers whose account balance exceeds the average POSITIVE balance
    and who have never placed an order — the scalar-subquery threshold +
    NOT EXISTS anti-join combination, grouped to nation level.

    Scale shape: the average-balance threshold is a one-row broadcast
    (no second customer pass at filter time); the "never ordered" test
    is a left-anti hash join against the orders key projection (column-
    pruned scan); the nation name attaches via broadcast; final agg is
    |nations| groups.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = cust.crossJoin(F.broadcast(thr)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    dormant = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        dormant.join(
            F.broadcast(nat), dormant.c_nationkey == nat.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("n_name")
    )


QUERIES.update({"q68_dormant_rich_customers": q68_dormant_rich_customers})

ORACLE.update({
    "q68_dormant_rich_customers": """
        SELECT n.n_name,
               CAST(COUNT(*) AS BIGINT) AS n_custs,
               ROUND(SUM(c.c_acctbal), 2) AS total_bal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > (
                  SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0
              )
          AND NOT EXISTS (
                  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
              )
        GROUP BY 1
        ORDER BY 1
    """,
})


def q69_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval merging: each line item opens a 7-day
    shipping-activity window [ship_date, ship_date+7); per supplier,
    overlapping windows merge into maximal islands, reported as island
    count, total covered days, and longest island — the interval-union
    operator behind SLA/coverage reporting (q19's sessionization is the
    point-gap special case; this one merges DURATIONS, where an interval
    can bridge two otherwise-disjoint neighbors).

    Island rule: a window starts a new island iff its start strictly
    exceeds the running max of all previous window ends (per supplier,
    start-ordered). With fixed-width windows the island partition is
    invariant to the tie order of equal starts, so both engines converge
    on identical islands without a uniqueness precondition.

    Scale shape: ONE shuffle keyed on l_suppkey; the running max and the
    island-id cumulative sum share that single sorted pass; island and
    supplier aggregates are map-side-combining group-bys. No self-join,
    no range explosion.

    Core algorithm: ``operators/frontier.py::merge_intervals``
    (property-tested against a brute-force Python merge on arbitrary
    generated interval sets, tests/test_properties.py).
    """
    from ..operators.frontier import merge_intervals

    li = load_table(spark, sf_dir, "lineitem")
    s = F.to_date("l_shipdate")
    iv = li.select(
        "l_suppkey", s.alias("s"), F.date_add(s, 7).alias("e")
    )
    islands = merge_intervals(iv, "l_suppkey", "s", "e")
    return (
        islands.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_islands"),
            F.sum(F.datediff("i_end", "i_start")).cast("bigint").alias(
                "covered_days"
            ),
            F.max(F.datediff("i_end", "i_start")).cast("bigint").alias(
                "longest_island_days"
            ),
        )
        .orderBy("l_suppkey")
    )


QUERIES.update({"q69_interval_merge": q69_interval_merge})

ORACLE.update({
    "q69_interval_merge": """
        -- WINDOW-FREE on purpose (r13): DuckDB 1.0.0's parallel window
        -- executor mis-evaluates island windows non-deterministically —
        -- r12 already dodged one offset-frame bug by rewriting to
        -- cumulative-MAX + LAG, but THAT form still disagrees with
        -- threads=1 / Spark on the full table at sf0.1, and under CPU
        -- contention it flaked at sf0.01 too (r13: 6/40 contended runs
        -- diverged, 3 distinct outputs; a LAG-only variant flaked 5/40
        -- in a different session — the race is in the window executor
        -- generally, not one frame shape). Joins + group-bys evaluate
        -- deterministically under any thread count, so the islands are
        -- derived relationally: fixed 7-day windows mean duplicates
        -- never matter (DISTINCT dates), an island START is a date
        -- with no other date in the preceding 7 days (anti-join over
        -- the 7 explicit offsets), and every date belongs to the
        -- LATEST start at or before it (max-start-<=-date theta join;
        -- <= 122 starts per supplier at every test sf, probed r13).
        WITH iv AS (
            SELECT DISTINCT l_suppkey AS sk, CAST(l_shipdate AS DATE) AS s
            FROM lineitem
        ),
        k AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS k),
        starts AS (
            SELECT a.sk, a.s
            FROM iv a CROSS JOIN k LEFT JOIN iv b
              ON b.sk = a.sk AND b.s = a.s - k.k
            GROUP BY 1, 2
            HAVING COUNT(b.s) = 0
        ),
        assigned AS (
            SELECT d.sk, d.s AS d, MAX(st.s) AS island_start
            FROM iv d JOIN starts st ON st.sk = d.sk AND st.s <= d.s
            GROUP BY 1, 2
        ),
        islands AS (
            SELECT sk, island_start AS i_start, MAX(d) + 7 AS i_end
            FROM assigned GROUP BY 1, 2
        )
        SELECT sk AS l_suppkey,
               CAST(COUNT(*) AS BIGINT) AS n_islands,
               CAST(SUM(i_end - i_start) AS BIGINT) AS covered_days,
               CAST(MAX(i_end - i_start) AS BIGINT) AS longest_island_days
        FROM islands
        GROUP BY 1
        ORDER BY 1
    """,
})


def q70_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink round-trip — the registered face of the S7/S8/P15
    sink surface (reference `dags/tasks/ingestion.py:62,117-119`,
    `transformation.py:39,116-137`: `to_sql(if_exists='replace'/'append')`
    plus `load_timestamp` audit columns), which was pytest-only through
    round 5. The query aggregates orders per priority, writes the low
    priorities with ``mode("overwrite")`` (S8 — and unlike the
    reference's pandas replace, the explicit parquet schema survives),
    APPENDS the rest (S7), stamping a ``loaded_at = current_timestamp()``
    audit column at write time (P15), then READS THE SINK BACK and
    returns the read-back aggregate with an audit-presence flag. The
    DuckDB oracle computes the same aggregate directly from the source
    table — so a sink that dropped rows, mangled decimals/schema on
    overwrite, or double-wrote on append shows up as a value/row
    mismatch in the driver gate.

    Scale shape: the written table is |priorities|-sized (an aggregate,
    not a fact copy); at 100 TB the same two-mode write path is the
    bronze/silver persistence step, partitioned by the write key. The
    sink lives under the repo's scratch dir, keyed by sf so gate and
    bench runs never collide.
    """
    from ._scratch import scratch_dir

    base = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")), 2
            ).cast("double").alias("total_price"),
        )
    )
    path = scratch_dir("orders_by_priority", sf_dir)
    stamped = base.withColumn("loaded_at", F.current_timestamp())
    # null-SAFE complement: a NULL priority must land in exactly one
    # side (the ADVICE-r5 null-unsafe-complement class — ~(NULL < "3")
    # is NULL, which both filters drop, silently losing the group)
    is_low = F.col("o_orderpriority") < "3"
    low = stamped.filter(F.coalesce(is_low, F.lit(False)))
    rest = stamped.filter(~F.coalesce(is_low, F.lit(False)))
    low.write.mode("overwrite").parquet(path)      # S8: replace, schema kept
    rest.write.mode("append").parquet(path)        # S7: append
    back = spark.read.parquet(path)
    return (
        back.select(
            "o_orderpriority", "n_orders", "total_price",
            F.col("loaded_at").isNotNull().alias("audit_present"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES.update({"q70_sink_roundtrip": q70_sink_roundtrip})

ORACLE.update({
    "q70_sink_roundtrip": """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2)
                    AS DOUBLE) AS total_price,
               TRUE AS audit_present
        FROM orders
        GROUP BY 1
        ORDER BY 1
    """,
})


def q71_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape): LEFT OUTER
    join customers to their non-urgent orders, count per customer
    (zeros preserved!), then histogram the counts — the double
    aggregation whose first level keys on a PK (map-side combinable)
    and whose second level is |distinct counts| rows. The filter lives
    in the JOIN CONDITION, not a WHERE clause — moving it to WHERE
    would silently drop zero-order customers, the classic outer-join
    rewrite bug this query exists to pin.

    Scale shape: one shuffle of orders on o_custkey against the
    customer PK; the histogram aggregate is tiny. Reference analog:
    none (beyond-reference relational surface).
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


QUERIES.update({"q71_order_count_histogram": q71_order_count_histogram})

ORACLE.update({
    "q71_order_count_histogram": """
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (
            SELECT c.c_custkey,
                   CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
            FROM customer c
            LEFT JOIN orders o
              ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
            GROUP BY 1
        )
        GROUP BY 1
        ORDER BY custdist DESC, c_count DESC
    """,
})


def q72_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts carrying outsized revenue (TPC-H Q11 shape, adapted to the
    lineitem fact — this testdata has no partsupp): per-part revenue
    above 1.5× the mean per-part revenue, i.e. the group-vs-GLOBAL-
    SCALAR threshold pattern (Q11's HAVING SUM > SELECT-fraction).

    Cross-engine determinism (the q66 lesson, micro-unit form since
    r9): per-part sums keep the split (hi, lo) LONG pair — exact,
    order-independent, on Tungsten's long-sum fast path instead of the
    1.39-2.61x DECIMAL(38,6) tax — and the global total RE-FOLDS those
    long parts (long sums are associative under any fold order; summing
    per-part DOUBLES instead is fold-order-dependent and can flip a
    strict-threshold boundary part between engines, the r7 review bug
    class). The threshold compares recombined micro doubles that both
    engines derive with the identical op sequence (2·n·rev > 3·total
    avoids an AVG, whose result type differs between engines). Scale
    shape: one shuffle of lineitem on partkey; the (total, n) scalar
    rides back as a broadcast one-row cross join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    hi, lo = exact_parts("l_extendedprice * (1 - l_discount)")
    per_part = li.groupBy("l_partkey").agg(
        hi.alias("hi"), lo.alias("lo")
    ).withColumn("rev_mu", F.expr(micros_from_parts_sql("hi", "lo")))
    totals = per_part.agg(
        F.expr(micros_from_parts_sql("SUM(hi)", "SUM(lo)"))
        .alias("tot_mu"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(totals))
        .filter(
            2 * F.col("n_parts") * F.col("rev_mu") > 3 * F.col("tot_mu")
        )
        .select("l_partkey",
                F.expr(rounded_from_parts_sql("hi", "lo", "DIV"))
                .alias("revenue"))
        .orderBy(F.desc("revenue"), "l_partkey")
    )


QUERIES.update({"q72_important_parts": q72_important_parts})

ORACLE.update({
    "q72_important_parts": f"""
        WITH per_part AS (
            SELECT l_partkey,
                   {exact_parts_oracle('l_extendedprice * (1 - l_discount)')[0]}
                       AS hi,
                   {exact_parts_oracle('l_extendedprice * (1 - l_discount)')[1]}
                       AS lo
            FROM lineitem GROUP BY 1
        ),
        pp AS (SELECT l_partkey, hi, lo,
                      {micros_from_parts_sql('hi', 'lo')} AS rev_mu
               FROM per_part),
        t AS (SELECT {micros_from_parts_sql('SUM(hi)', 'SUM(lo)')}
                         AS tot_mu,
                     COUNT(*) AS n_parts
              FROM per_part)
        SELECT p.l_partkey,
               {rounded_from_parts_sql('p.hi', 'p.lo', '//')} AS revenue
        FROM pp p, t
        WHERE 2 * t.n_parts * p.rev_mu > 3 * t.tot_mu
        ORDER BY revenue DESC, l_partkey
    """,
})


def q73_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who alone held up multi-supplier orders (TPC-H Q21
    shape, adapted: "late" = shipped more than 90 days after the order
    date, over finished orders). Q21's textbook form is the hardest
    correlation pattern — EXISTS (another supplier in the order) AND
    NOT EXISTS (another LATE supplier) — which decorrelates into ONE
    per-order aggregate: n_suppliers > 1 AND n_late_suppliers == 1,
    then credit the single late supplier. The oracle states the same
    aggregate; both engines avoid the O(lineitem²) correlated rescan.

    Scale shape: lineitem⋈orders on the orderkey (the fact's natural
    key — bucketable), ONE per-order aggregate, a |suppliers|-scale
    count, and a TakeOrdered top-10. r15: the qualifying order's
    credited supplier is recovered from the SAME aggregate —
    ``n_late == 1`` means the distinct-late-supplier set is a
    singleton, so ``max(late ? l_suppkey)`` IS that supplier — which
    removes the second pass over the joined table (the old semi-join
    back to late lineitems + distinct re-shuffled lineitem a second
    time; §2.4 remove shuffles outright). Equivalence is exact, not
    approximate: for every qualifying order the old DISTINCT
    (l_orderkey, l_suppkey) pair set and the new singleton agree by
    the n_late = 1 filter itself.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        # INTERVAL (not date_add): date_add truncates the timestamp to a
        # DATE, the oracle adds INTERVAL 90 DAY preserving time-of-day —
        # bit-identical only because testdata timestamps are midnight;
        # the interval form is identical by construction (q66 rule)
        "late",
        (F.col("l_shipdate") > F.col("o_orderdate")
         + F.expr("INTERVAL 90 DAYS")).cast("int")
    )
    # r15: two-phase instead of double-countDistinct — the two distinct
    # aggregates planned as an Expand (×3 row multiplication of the
    # joined fact before the shuffle); deduping to the (order, supplier)
    # grain first makes both "distinct" counts plain count/sum over the
    # pair table and the late-supplier recovery a max over it (§2.3
    # shuffle fewer bytes: one narrow pair row per (o, s) instead of
    # three expanded rows per lineitem). A/B at sf0.1: 0.99 → 0.67 s
    # median of 7, identical rows.
    per_pair = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("late"))
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("late").alias("n_late"),
        # the single late supplier of a qualifying order (n_late == 1
        # makes the late-supplier set a singleton, so max == the set)
        F.max(
            F.when(F.col("late") == 1, F.col("l_suppkey"))
        ).alias("late_supp"),
    )
    credited = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late") == 1)
    ).select("l_orderkey", F.col("late_supp").alias("l_suppkey"))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        credited.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(10)
    )


QUERIES.update({"q73_waiting_suppliers": q73_waiting_suppliers})

ORACLE.update({
    "q73_waiting_suppliers": """
        WITH lo AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS late
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
        ),
        per_order AS (
            SELECT l_orderkey,
                   COUNT(DISTINCT l_suppkey) AS n_supp,
                   COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
            FROM lo GROUP BY 1
        ),
        credited AS (
            SELECT DISTINCT lo.l_orderkey, lo.l_suppkey
            FROM lo
            JOIN per_order p ON lo.l_orderkey = p.l_orderkey
            WHERE lo.late AND p.n_supp > 1 AND p.n_late = 1
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(COUNT(*) AS BIGINT) AS numwait
        FROM credited c JOIN supplier s ON c.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
        ORDER BY numwait DESC, s_suppkey
        LIMIT 10
    """,
})


def q74_catalog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog/DDL round-trip — the registered face of the S9 surface
    (reference `scripts/init_mysql.sql:1-30`, `init_postgres.sql:1-42`,
    `dags/tasks/ingestion.py:50`: CREATE-IF-NOT-EXISTS bootstrap +
    warehouse tables), pytest-only through round 6. The query writes a
    BUCKETED managed table via the same `saveAsTable` path the
    bucketing kit uses (`operators/partitioning.py` — DDL lives in the
    catalog, schema owned by the engine, the reference's
    pandas-replace type-loss bug structurally impossible), reads it
    back THROUGH THE CATALOG (`spark.table`), and returns the read
    aggregate; the oracle computes the same numbers straight from the
    source parquet, so a catalog write that mangled schema, dropped
    rows, or double-bucketed shows up as a driver-gate mismatch.

    Scale shape: the managed table is |suppliers-per-nation| rows;
    bucketing by the join key is the 100 TB posture (Exchange-free
    SMJ on re-read, pinned in test_partitioning.py).
    """
    import os
    import re

    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    agg = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(
                F.sum(F.col("s_acctbal").cast("decimal(38,6)")), 2
            ).cast("double").alias("total_acctbal"),
        )
    )
    sf_tag = re.sub(r"[^A-Za-z0-9_]", "_",
                    sf_dir.rstrip("/").rsplit("/", 1)[-1])
    table = f"fpa_catalog_suppliers_by_nation_{sf_tag}"
    # CREATE-IF-NOT-EXISTS discipline across SESSIONS: the default
    # in-memory catalog forgets tables when the session ends but the
    # managed LOCATION under spark-warehouse survives, so a fresh
    # session's overwrite dies with LOCATION_ALREADY_EXISTS unless the
    # orphan directory is dropped with the (possibly absent) table —
    # the round-6 gate caught exactly this. A Hive/production metastore
    # keeps the registration, making the rmtree a no-op there.
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, table), ignore_errors=True)
    (
        agg.write.mode("overwrite")
        .bucketBy(4, "n_name").sortBy("n_name")
        .saveAsTable(table)
    )
    return spark.table(table).orderBy("n_name")


QUERIES.update({"q74_catalog_roundtrip": q74_catalog_roundtrip})

ORACLE.update({
    "q74_catalog_roundtrip": """
        SELECT n.n_name,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(ROUND(SUM(CAST(s.s_acctbal AS DECIMAL(38,6))), 2)
                    AS DOUBLE) AS total_acctbal
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY 1
        ORDER BY 1
    """,
})



def q75_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-table predicate (TPC-H Q19 shape): revenue from
    three OR'd (brand, size-range, quantity-range) branches, where each
    branch constrains BOTH part and lineitem columns. The classic Q19
    trap: Catalyst cannot split a mixed-table OR into per-table
    filters, so the naive plan joins the FULL lineitem against the full
    part table and evaluates the disjunction afterwards. The scale plan
    derives the per-table weakenings by hand — part is pre-filtered
    with (brand1 ∧ size1) ∨ (brand2 ∧ size2) ∨ (brand3 ∧ size3) (a
    valid weakening of the full predicate, pushed to the parquet scan)
    and lineitem with the union of the quantity ranges — then the exact
    mixed predicate runs on the join output. The shrunken part side
    broadcasts; lineitem never shuffles.

    Reference analog: none (beyond-reference relational surface); the
    shape exists to pin the derived-pushdown discipline at 100 TB,
    where the un-pushed plan scans every part row per branch.
    """
    branches = [
        ("Brand#12", (1, 10), (1.0, 11.0)),
        ("Brand#23", (1, 15), (10.0, 20.0)),
        ("Brand#34", (1, 25), (20.0, 30.0)),
    ]
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    # Per-table weakenings, derived from the disjunction by dropping the
    # other table's conjuncts branch-wise — these reach the scans.
    p_weak = None
    l_weak = None
    full = None
    for brand, (slo, shi), (qlo, qhi) in branches:
        p_b = (F.col("p_brand") == brand) & F.col("p_size").between(slo, shi)
        l_b = F.col("l_quantity").between(qlo, qhi)
        p_weak = p_b if p_weak is None else (p_weak | p_b)
        l_weak = l_b if l_weak is None else (l_weak | l_b)
        both = p_b & l_b
        full = both if full is None else (full | both)
    joined = (
        li.filter(l_weak)
        .join(F.broadcast(part.filter(p_weak)),
              F.col("l_partkey") == F.col("p_partkey"))
        .filter(full)
    )
    return joined.agg(
        F.count("*").alias("n_lineitems"),
        exact_sum("l_extendedprice * (1 - l_discount)").alias("revenue"),
    )


def q76_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-sum ratio (TPC-H Q14 shape): the share of 1996
    shipped revenue coming from PROMO-type parts — one pass over the
    date-pruned lineitem⋈part join computing both the conditional and
    the unconditional sum (no second scan, no self-join), then the
    scalar division. Both sums follow the q66 micro-unit discipline
    (split-two-long exact accumulate, functions/exact_agg.py) so the
    ratio divides identical recombined doubles in both engines —
    order-independent and bit-stable, without the decimal per-row tax.

    Scale shape: the shipdate filter prunes at the scan; part
    broadcasts; a single partial-aggregable projection produces one
    row. Reference analog: none (beyond-reference relational surface).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_sql = "l_extendedprice * (1 - l_discount)"
    promo_sql = f"CASE WHEN p_type = 'PROMO' THEN {rev_sql} ELSE 0 END"
    p_hi, p_lo = exact_parts(promo_sql)
    t_hi, t_lo = exact_parts(rev_sql)
    agg = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            p_hi.alias("__phi"), p_lo.alias("__plo"),
            t_hi.alias("__thi"), t_lo.alias("__tlo"),
        )
    )
    return agg.select(
        F.expr(rounded_from_parts_sql("__phi", "__plo", "DIV"))
        .alias("promo_revenue"),
        F.expr(rounded_from_parts_sql("__thi", "__tlo", "DIV"))
        .alias("total_revenue"),
        # exact integer-ratio law (r10): the percentage rounds
        # half-away on the exact rational 100·promo/total — the r9
        # ROUND(double quotient) risk class retired, same as q66
        F.expr(ratio_from_parts_sql("__phi", "__plo", "__thi", "__tlo",
                                    "DIV", 4, scale=100))
        .alias("promo_share_pct"),
    )


def q77_qualified_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested semi-join chain with a correlated aggregate threshold
    (TPC-H Q20 shape, adapted to the reduced schema — no partsupp):
    suppliers who, for some red-named part with meaningful volume
    (>= 50 units all-time), shipped more than half of that volume in
    1996 — a supply-concentration screen. The analyst's
    form is IN-inside-IN with a correlated SUM; the scale plan
    decorrelates the whole chain into ONE conditional aggregate over
    (l_suppkey, l_partkey) — qty_1996 and qty_total computed in the
    same map-side-combinable pass — a ratio filter, a distinct on the
    surviving suppkeys, and a semi-join back to supplier. lineitem is
    touched exactly once, pre-pruned by a broadcast semi-join on the
    green part ids; no correlated rescan exists anywhere in the plan.

    Reference analog: none (beyond-reference relational surface).
    """
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("red %")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity", "l_shipdate"
    ).join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    in_96 = (F.col("l_shipdate") >= "1996-01-01") & (
        F.col("l_shipdate") < "1997-01-01"
    )
    per_pair = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.when(in_96, F.col("l_quantity")).otherwise(0.0))
        .alias("qty_1996"),
        F.sum("l_quantity").alias("qty_total"),
    )
    qualified = (
        per_pair.filter(
            (F.col("qty_1996") > 0.5 * F.col("qty_total"))
            & (F.col("qty_total") >= 50)
        )
        .select("l_suppkey")
        .distinct()
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sup.join(qualified, sup.s_suppkey == qualified.l_suppkey, "semi")
        .orderBy("s_name")
    )


QUERIES.update({
    "q75_disjunctive_pushdown": q75_disjunctive_pushdown,
    "q76_promo_revenue_share": q76_promo_revenue_share,
    "q77_qualified_suppliers": q77_qualified_suppliers,
})

ORACLE.update({
    "q75_disjunctive_pushdown": f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitems,
               CAST({exact_sum_oracle('l_extendedprice * (1 - l_discount)')}
                    AS DOUBLE) AS revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "q76_promo_revenue_share": f"""
        WITH j AS (
            SELECT l_extendedprice, l_discount, p_type
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
        ),
        parts AS (
            SELECT {exact_parts_oracle(
                "CASE WHEN p_type = 'PROMO' THEN "
                "l_extendedprice * (1 - l_discount) ELSE 0 END")[0]} AS phi,
                   {exact_parts_oracle(
                "CASE WHEN p_type = 'PROMO' THEN "
                "l_extendedprice * (1 - l_discount) ELSE 0 END")[1]} AS plo,
                   {exact_parts_oracle(
                'l_extendedprice * (1 - l_discount)')[0]} AS thi,
                   {exact_parts_oracle(
                'l_extendedprice * (1 - l_discount)')[1]} AS tlo
            FROM j
        )
        SELECT {rounded_from_parts_sql('phi', 'plo', '//')}
                   AS promo_revenue,
               {rounded_from_parts_sql('thi', 'tlo', '//')}
                   AS total_revenue,
               {ratio_from_parts_sql('phi', 'plo', 'thi', 'tlo',
                                     '//', 4, scale=100)}
                   AS promo_share_pct
        FROM parts
    """,
    "q77_qualified_suppliers": """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey
            FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_name LIKE 'red %')
            GROUP BY l_suppkey, l_partkey
            HAVING SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                             AND l_shipdate <  TIMESTAMP '1997-01-01'
                            THEN l_quantity ELSE 0 END)
                   > 0.5 * SUM(l_quantity)
               AND SUM(l_quantity) >= 50
        )
        ORDER BY s_name
    """,
})


def q78_preshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS with an inequality correlate (TPC-H Q4's plan family,
    pointed at a data-quality anomaly the synthetic data actually
    contains): orders with at least one lineitem where EVERY lineitem
    shipped strictly BEFORE the order date, counted per priority. The
    analyst form is NOT EXISTS(ship ≥ orderdate) ∧ EXISTS(any line).

    Scale plan: the textbook rewrite is an anti join carrying the
    inequality as a residual plus a semi join for non-emptiness — two
    full lineitem shuffles (measured: column pruning gives the two
    joins different children, so the exchange is NOT reused). This
    plan instead collapses the whole correlate into one MAX reduction:
    ``NOT EXISTS(l_shipdate ≥ o_orderdate) ⟺ max(l_shipdate) <
    o_orderdate`` and the EXISTS is the inner join itself — lineitem
    is scanned once and its single shuffle carries ONE (orderkey,
    max_ship) row per order (partial_max map-side combine), after
    which the inequality is a free post-join filter. Pinned in
    test_plan_shapes.py: one lineitem scan, partial_max, no anti join.
    Non-vacuous: ~20% of orders qualify at both test SFs (synthetic
    ship dates are uncorrelated with order dates — exactly the anomaly
    a DQ screen must surface). Reference analog: none
    (beyond-reference relational surface).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    last_ship = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("max_ship"))
    )
    return (
        orders.join(last_ship,
                    F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("max_ship") < F.col("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_preshipped_orders"))
        .orderBy("o_orderpriority")
    )


QUERIES.update({"q78_preshipped_orders": q78_preshipped_orders})

ORACLE.update({
    "q78_preshipped_orders": """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_preshipped_orders
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate >= o.o_orderdate)
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey)
        GROUP BY 1
        ORDER BY 1
    """,
})


def q79_event_echo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-certified face of the GENERAL banded range inner join
    (operators/asof.py:banded_range_join — q35 keeps its fused
    single-source special case; the library operator was
    property-tested but had no oracle row until this query): per user,
    pair every event with the events that FOLLOW it within 10 minutes
    ("echo" pairs — the session-stitching primitive), then aggregate
    per event type of the leading event. The banding turns the
    inequality join into an equi-join on (user_id, time-bucket) with a
    residual BETWEEN — pair space bounded by per-bucket population,
    never O(n²); the oracle states the naive non-equi join.

    The lower bound is 1s (not 0) so self-pairs are excluded without a
    separate event_id predicate the banding would not see.
    """
    from ..operators.asof import banded_range_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").alias("l_ts"),
        F.col("event_type").alias("l_type"),
    )
    follow = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_type").alias("r_type"),
    )
    pairs = banded_range_join(
        ev, follow, key_cols=["user_id"], left_ts="l_ts", right_ts="r_ts",
        lower_seconds=1, upper_seconds=600,
    )
    return (
        pairs.groupBy(F.col("l_type").alias("lead_type"))
        .agg(
            F.count("*").alias("n_echo_pairs"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("lead_type")
    )


QUERIES.update({"q79_event_echo_pairs": q79_event_echo_pairs})

ORACLE.update({
    "q79_event_echo_pairs": """
        SELECT a.event_type AS lead_type,
               CAST(COUNT(*) AS BIGINT) AS n_echo_pairs,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND b.ts >= a.ts + INTERVAL 1 SECOND
         AND b.ts <= a.ts + INTERVAL 600 SECOND
        GROUP BY 1
        ORDER BY 1
    """,
})


def q80_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — correlated scalar MIN over a 5-way join: for
    each qualifying part (small STANDARD parts), the EUROPE suppliers
    whose observed sale price equals the MINIMUM price any EUROPE
    supplier charged for that part. The testdata has no partsupp
    table, so lineitem plays the part⋈supplier bridge and
    l_extendedprice the supply cost — identical optimizer shape.

    Scale plan: the correlated ``price = (SELECT min(price) WHERE
    l2.partkey = p.partkey ...)`` decorrelates into a WINDOW MIN over
    the region-restricted bridge partitioned by part — ONE shuffle of
    the bridge on p_partkey, then ``price == min`` is a free post-
    window filter; no per-part rescan and no grouped-min + join-back
    (which would re-shuffle the same bridge for a SortMergeJoin on
    (partkey, price) — strictly worse). The survivors-only DISTINCT
    runs AFTER the filter, so its shuffle carries just the min-
    achieving rows. Dimension joins (part filter, supplier,
    nation⋈region) are all broadcast; the part filter prunes the
    bridge before the window (pinned in test_plan_shapes.py).
    Equality on the min is exact: prices come straight from parquet
    doubles, bit-identical in both engines. Ordering is total
    (acctbal desc, then unique (s_name, p_partkey)), so the LIMIT is
    deterministic.
    """
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_brand")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.join(F.broadcast(reg),
                                 nat.n_regionkey == reg.r_regionkey)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # region- and part-restricted bridge: every observed
    # (part, supplier, price) sale; the window min is duplicate-
    # insensitive, so dedup waits until after the min filter
    # the filtered part and EUROPE-supplier sets are sf-PROPORTIONAL
    # (a fixed fraction of their tables, not fixed-size dims like
    # nation/region above) — no explicit broadcast hint: AQE picks BHJ
    # while the filtered side fits the threshold and falls back to a
    # shuffled join at cluster scale instead of forcing a multi-GB
    # broadcast (the kpi.py customer discipline; r7 verdict item 5)
    bridge = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey",
                F.col("l_extendedprice").alias("price"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_name", "s_acctbal", "n_name",
                "price")
    )
    w = W.partitionBy("p_partkey")
    return (
        bridge.withColumn("min_price", F.min("price").over(w))
        .filter(F.col("price") == F.col("min_price"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
                F.round("min_price", 2).alias("min_price"))
        .distinct()
        .orderBy(F.desc("s_acctbal"), "s_name", "p_partkey")
        .limit(100)
    )


QUERIES.update({"q80_min_cost_supplier": q80_min_cost_supplier})

ORACLE.update({
    "q80_min_cost_supplier": """
        WITH sup AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
        ),
        bridge AS (
            SELECT DISTINCT p.p_partkey, p.p_brand, sup.s_name,
                   sup.s_acctbal, sup.n_name,
                   l.l_extendedprice AS price
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN sup ON l.l_suppkey = sup.s_suppkey
            WHERE p.p_size <= 10 AND p.p_type = 'STANDARD'
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
               ROUND(price, 2) AS min_price
        FROM bridge b
        WHERE price = (SELECT min(price) FROM bridge b2
                       WHERE b2.p_partkey = b.p_partkey)
        ORDER BY s_acctbal DESC, s_name, p_partkey
        LIMIT 100
    """,
})


def q81_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — profit by supplier nation × order year over a
    5-way join with an expression measure. partsupp's supply cost is
    proxied by ``p_retailprice * 0.1`` per unit (no partsupp table in
    the testdata); the optimizer shape — a name-LIKE part filter that
    must PUSH BELOW the big joins, an expression measure combining
    columns of three tables, a two-key aggregate — is Q9's.

    Scale plan: the part filter (`p_name LIKE '%red%'`) applies at the
    part scan and the part⋈lineitem broadcast join prunes lineitem
    BEFORE the orders join (pinned in test_plan_shapes.py: the
    Like/Contains filter sits under the join, not above it). supplier
    ⋈nation rides in as a broadcast attribute. One partial aggregate
    over |nations|×|years| groups; sums follow the q66 micro-unit
    discipline (exact_agg.py — long-fast-path, exact under any fold
    order, negatives safe: profit can be negative and FLOOR(x+0.5)
    half-up is a defined law mirrored bit-for-bit in both engines).
    """
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey", "p_retailprice")
    sup_n = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")
                        .select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    amount_sql = ("l_extendedprice * (1 - l_discount)"
                  " - p_retailprice * l_quantity * CAST(0.1 AS DOUBLE)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", "o_year")
        .agg(exact_sum(amount_sql).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


QUERIES.update({"q81_profit_by_nation_year": q81_profit_by_nation_year})

ORACLE.update({
    "q81_profit_by_nation_year": f"""
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               CAST({exact_sum_oracle(
                   'l.l_extendedprice * (1 - l.l_discount)'
                   ' - p.p_retailprice * l.l_quantity'
                   ' * CAST(0.1 AS DOUBLE)')} AS DOUBLE) AS sum_profit
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY 1, 2
        ORDER BY nation, o_year DESC
    """,
})


def q82_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — large-volume customers: orders whose total
    line quantity clears a threshold (IN over a grouped-HAVING
    subquery), joined back to customer and re-aggregated.

    Scale plan: the HAVING subquery decorrelates to ONE grouped sum
    over lineitem (partial_sum map-side) filtered to the few heavy
    orders; that TINY survivor set then drives everything — it
    broadcast-semi-joins orders, and the final per-order quantity
    comes from the SAME aggregate (no second lineitem scan — pinned
    in test_plan_shapes.py: exactly one lineitem scan in the plan,
    vs the naive IN + re-join + re-aggregate shape that reads it
    twice). Threshold 250 ≈ the 98.5th percentile of per-order
    quantity at every test SF, so the result is non-vacuous yet
    selective, exactly Q18's intent.
    """
    heavy = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    # `heavy` is ~1.5% of orders BY CONSTRUCTION of the qty threshold —
    # sf-proportional, hundreds of millions of rows at 100 TB — so no
    # explicit broadcast hint: AQE broadcasts it only while its runtime
    # size fits the threshold (r7 verdict item 5; the kpi.py customer
    # discipline)
    return (
        orders.join(heavy, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey",
                F.date_format("o_orderdate", "yyyy-MM-dd")
                .alias("o_orderdate"),
                F.round("o_totalprice", 2).alias("o_totalprice"),
                F.round("total_qty", 2).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


QUERIES.update({"q82_large_volume_customers": q82_large_volume_customers})

ORACLE.update({
    "q82_large_volume_customers": """
        SELECT c.c_name, c.c_custkey, o.o_orderkey,
               strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d')
                   AS o_orderdate,
               ROUND(o.o_totalprice, 2) AS o_totalprice,
               ROUND(SUM(l.l_quantity), 2) AS total_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
        )
        GROUP BY 1, 2, 3, 4, 5
        ORDER BY o_totalprice DESC, o.o_orderkey
        LIMIT 100
    """,
})


def q83_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item top customers: revenue lost to
    returns (`l_returnflag = 'R'`) in one quarter, per customer with
    nation attribute, top 20.

    Scale plan: the quarter filter pushes to the orders scan and the
    returnflag filter to the lineitem scan (both in PushedFilters);
    the big join is lineitem⋈orders on orderkey, then ONE aggregate
    over |customers| groups, then broadcast customer⋈nation attaches
    attributes to the aggregate OUTPUT (not to every lineitem — the
    attribute join after the groupBy keeps the shuffle narrow).
    TakeOrderedAndProject caps at 20; revenue follows the q38
    LATE-CENTS discipline (the q66 micro-unit exactness with the wide
    recombination deferred past the top-k): the per-customer aggregate
    — |customers| groups, the many-group shape where exact_sum's
    once-per-group wide op is effectively per-row — carries only the
    split (hi, lo) long pair, ranks on the recombined micro double
    (exact: sign-uniform, far below 2^53 micros per customer), and
    materializes cents for the 20 SURVIVORS only. A cutoff tie in
    cents resolves by exact total first, then c_custkey — both
    engines replay the identical rule.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    hi, lo = exact_parts("l_extendedprice * (1 - l_discount)")
    per_cust = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(hi.alias("__hi"), lo.alias("__lo"))
        .withColumn("__mu", F.expr(micros_from_parts_sql("__hi", "__lo")))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")
                        .select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
    )
    return (
        per_cust.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .orderBy(F.desc("__mu"), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name",
                F.round("c_acctbal", 2).alias("c_acctbal"),
                "n_name",
                F.expr(rounded_from_parts_sql("__hi", "__lo", "DIV"))
                .alias("revenue"))
    )


QUERIES.update({"q83_returned_item_customers": q83_returned_item_customers})

_Q83_PARTS = exact_parts_oracle("l.l_extendedprice * (1 - l.l_discount)")
ORACLE.update({
    "q83_returned_item_customers": f"""
        WITH per_cust AS (
            SELECT c.c_custkey, c.c_name,
                   ROUND(c.c_acctbal, 2) AS c_acctbal, n.n_name,
                   {_Q83_PARTS[0]} AS hi, {_Q83_PARTS[1]} AS lo
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderdate >= DATE '1996-01-01'
              AND o.o_orderdate < DATE '1996-04-01'
              AND l.l_returnflag = 'R'
            GROUP BY 1, 2, 3, 4
        )
        SELECT c_custkey, c_name, c_acctbal, n_name,
               {rounded_from_parts_sql('hi', 'lo', '//')} AS revenue
        FROM per_cust
        ORDER BY {micros_from_parts_sql('hi', 'lo')} DESC, c_custkey
        LIMIT 20
    """,
})


def q84_supplier_cnt_by_part_attr(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — suppliers per part attribute with a NOT-IN
    exclusion and a grouped COUNT DISTINCT: how many distinct
    non-blacklisted suppliers sold each (brand, type, size) family,
    excluding one brand, one type family, and negative-balance
    suppliers (the Q16 complaints-supplier analog).

    Scale plan: the NOT IN over a nullable-free key decorrelates to a
    broadcast LEFT ANTI join (the blacklist is |suppliers|-bounded);
    part attribute filters push to the part scan; the count-distinct
    is Spark's two-phase distinct aggregate (partial by (attrs,
    suppkey), then count) — no row-level distinct shuffle of the
    whole bridge. Ordering is total (count desc + full attr tuple).
    """
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size") <= 15)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_sup = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(bad_sup),
              F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


QUERIES.update({"q84_supplier_cnt_by_part_attr": q84_supplier_cnt_by_part_attr})

ORACLE.update({
    "q84_supplier_cnt_by_part_attr": """
        SELECT p.p_brand, p.p_type, p.p_size,
               CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND p.p_type NOT LIKE 'PROMO%'
          AND p.p_size <= 15
          AND l.l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
})


def q85_priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — conditional priority counts: per line status,
    how many 1997-shipped returned lines belong to critical
    (URGENT/HIGH) vs other orders. The testdata has no l_shipmode/
    l_receiptdate, so line status plays the shipmode group and the
    shipdate-year filter the receipt-window filter — the shape (big
    join + CASE-conditional counts in ONE aggregate) is Q12's.

    Scale plan: both filters push to the lineitem scan; orders joins
    on orderkey carrying only (orderkey, priority); the CASE lives
    map-side inside one partial aggregate over 2 groups — never two
    passes or a pivot shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_returnflag") == "R")
        & (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_orderkey", "l_linestatus")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


QUERIES.update({"q85_priority_line_counts": q85_priority_line_counts})

ORACLE.update({
    "q85_priority_line_counts": """
        SELECT l.l_linestatus,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT)
                   AS low_line_count
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R'
          AND l.l_shipdate >= DATE '1997-01-01'
          AND l.l_shipdate < DATE '1998-01-01'
        GROUP BY 1
        ORDER BY 1
    """,
})


def q86_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver face of ``BucketedMergeTable.merge`` (r7 verdict missing
    #1) — the q70 sink-roundtrip pattern applied to the bucket-granular
    copy-on-write MERGE: seed the table with the supplier dim, MERGE a
    source that UPDATES a matched slice (suppkey % 10 == 3 gets a
    +1000.00 balance adjustment) and INSERTS unmatched keys (shadow
    suppliers at suppkey + max(suppkey) + 1 for suppkey % 10 == 7 — a
    keyspace disjoint from the real keys at ANY sf), then read the
    committed table BACK through the manifest and return its rows. The
    DuckDB oracle computes the expected post-merge state directly from
    the source table — a merge that dropped a bucket, double-applied an
    update, missed an insert, or resurrected a pre-merge row shows up as
    a value mismatch. Balances travel as CENTS (exact integers — both
    engines round identical doubles half-away-from-zero) so the compare
    is bit-exact.

    Scale posture is the operator's: only buckets containing source
    keys rewrite; everything else carries by reference in the manifest.
    The table root lives under the repo's gitignored ``.sink_roundtrip``
    and is wiped per run, so gate/bench reruns are idempotent and
    version history never accumulates across runs.
    """
    import shutil

    from ..operators.transactional import BucketedMergeTable
    from ._scratch import scratch_dir

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey",
        F.round(F.col("s_acctbal") * 100).cast("bigint")
        .alias("acctbal_cents"),
    )
    root = scratch_dir("merge_table", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    t = BucketedMergeTable(root, "s_suppkey", n_buckets=8)
    t.merge(spark, sup)                                   # v1: seed
    updates = sup.filter(F.col("s_suppkey") % 10 == 3).withColumn(
        "acctbal_cents", F.col("acctbal_cents") + F.lit(100000)
    )
    # shadow-insert keyspace DERIVED from the data, not a constant:
    # supplier has sf·10k rows, so any fixed offset collides with real
    # keys at a large enough sf and the intended INSERT silently
    # becomes a matched UPDATE (r8 review). max+1 is provably disjoint
    # at every sf; one scalar collect, mirrored as a subquery in the
    # oracle.
    off = sup.agg(F.max("s_suppkey")).first()[0] + 1
    inserts = sup.filter(F.col("s_suppkey") % 10 == 7).select(
        (F.col("s_suppkey") + F.lit(off)).alias("s_suppkey"),
        "s_nationkey", "acctbal_cents",
    )
    t.merge(spark, updates.unionByName(inserts))          # v2: MERGE
    return t.read(spark).orderBy("s_suppkey")


QUERIES.update({"q86_merge_roundtrip": q86_merge_roundtrip})

ORACLE.update({
    "q86_merge_roundtrip": """
        SELECT s_suppkey, s_nationkey,
               CAST(ROUND(s_acctbal * 100) AS BIGINT)
                 + CASE WHEN s_suppkey % 10 = 3 THEN 100000 ELSE 0 END
                   AS acctbal_cents
        FROM supplier
        UNION ALL
        SELECT s_suppkey + (SELECT MAX(s_suppkey) + 1 FROM supplier)
                   AS s_suppkey,
               s_nationkey,
               CAST(ROUND(s_acctbal * 100) AS BIGINT) AS acctbal_cents
        FROM supplier
        WHERE s_suppkey % 10 = 7
        ORDER BY s_suppkey
    """,
})


def q87_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver face of ``operators/transactional.snapshot_diff`` — CDC
    between two committed versions of the bucketed copy-on-write table
    (the q86 harness extended by a mixed CDC batch): seed v1 with the
    supplier dim (cents-exact balances), then apply ONE mixed-op MERGE
    as v2 (r13 verdict item 7 — two commits total, not three): updates
    (suppkey % 10 == 3: +1000.00), provably-disjoint shadow inserts
    (suppkey % 10 == 7 at max+1 offset — the q86 keyspace discipline),
    and deletes (suppkey % 10 == 5) travel in a single source batch
    routed by an ``__op`` column (``BucketedMergeTable.merge(op_col=)``,
    the merge's one delete path — Delta's whenMatchedDelete next to
    whenMatchedUpdate). Return
    ``snapshot_diff(v1, v2)``: every shadow key `added`, every %5 key
    `removed`, every %3 key `changed` with both balances, everything
    else excluded. The DuckDB oracle derives the exact diff from the
    supplier table directly — a diff that misses a delete, invents a
    change, or leaks an unchanged row value-mismatches; the oracle is
    UNCHANGED from the three-commit form, certifying that one mixed
    commit lands the identical end state.

    Scale posture: time-travel reads are manifest-driven (only the
    snapshots' own parquet), the diff join shuffles on the table key,
    and the output is churn-bounded. Scratch root wiped per run (q70
    idempotence discipline).
    """
    import shutil  # noqa: PLC0415

    from ..operators.transactional import (  # noqa: PLC0415
        BucketedMergeTable,
        snapshot_diff,
    )
    from ._scratch import scratch_dir  # noqa: PLC0415

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey",
        F.round(F.col("s_acctbal") * 100).cast("bigint")
        .alias("acctbal_cents"),
    )
    root = scratch_dir("diff_table", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    t = BucketedMergeTable(root, "s_suppkey", n_buckets=8)
    t.merge(spark, sup)                                    # v1: seed
    updates = sup.filter(F.col("s_suppkey") % 10 == 3).withColumn(
        "acctbal_cents", F.col("acctbal_cents") + F.lit(100000))
    off = sup.agg(F.max("s_suppkey")).first()[0] + 1
    inserts = sup.filter(F.col("s_suppkey") % 10 == 7).select(
        (F.col("s_suppkey") + F.lit(off)).alias("s_suppkey"),
        "s_nationkey", "acctbal_cents")
    deletes = sup.filter(F.col("s_suppkey") % 10 == 5)
    mixed = (
        updates.withColumn("__op", F.lit("upsert"))
        .unionByName(inserts.withColumn("__op", F.lit("upsert")))
        .unionByName(deletes.withColumn("__op", F.lit("delete")))
    )
    t.merge(spark, mixed, op_col="__op")                   # v2: one CDC batch
    return (
        snapshot_diff(spark, t, 1, 2)
        .select(
            "s_suppkey", "diff_status",
            "old_acctbal_cents", "new_acctbal_cents",
            "old_s_nationkey", "new_s_nationkey",
        )
        .orderBy("s_suppkey")
    )


QUERIES.update({"q87_snapshot_diff": q87_snapshot_diff})

ORACLE.update({
    "q87_snapshot_diff": """
        WITH base AS (
            SELECT s_suppkey, s_nationkey,
                   CAST(ROUND(s_acctbal * 100) AS BIGINT) AS cents
            FROM supplier
        )
        SELECT s_suppkey, 'changed' AS diff_status,
               cents AS old_acctbal_cents,
               cents + 100000 AS new_acctbal_cents,
               s_nationkey AS old_s_nationkey,
               s_nationkey AS new_s_nationkey
        FROM base WHERE s_suppkey % 10 = 3
        UNION ALL
        SELECT s_suppkey, 'removed',
               cents, NULL, s_nationkey, NULL
        FROM base WHERE s_suppkey % 10 = 5
        UNION ALL
        SELECT s_suppkey + (SELECT MAX(s_suppkey) + 1 FROM supplier),
               'added', NULL, cents, NULL, s_nationkey
        FROM base WHERE s_suppkey % 10 = 7
        ORDER BY 1
    """,
})
