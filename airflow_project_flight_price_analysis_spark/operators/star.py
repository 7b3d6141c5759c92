"""Flight star-schema pipeline: bronze → silver → dims → fact.

Re-expresses the reference's three pipeline stages
(``dags/tasks/ingestion.py``, ``dags/tasks/transformation.py``) as lazy
DataFrame plans. Contrasts with the reference:

- Hash-ledger dedup is a ``left_anti`` join, not a per-chunk SQL IN-list
  round-trip (``ingestion.py:76-83``). Bronze keeps ``row_hash`` and is
  its own ledger: the reference keeps a separate hash table only because
  its staging table drops the hash (``ingestion.py:93``). At 100 TB,
  partitioning bronze by hash prefix makes the anti-join a co-partitioned
  sort-merge (SURVEY §7.4.3).
- Bronze is read with its declared schema (``BRONZE_PARQUET_SCHEMA``, the
  reference's staging DDL, ``scripts/init_mysql.sql:6-26``), never by
  inferring one from a footer: inference costs a Spark job per read and
  looks at one part file only. A part file without ``row_hash`` then
  reads as NULL hashes, and the anti-join's per-row guard fails the run
  on the first one instead of re-ingesting those rows.
- FK resolution is three broadcast hash joins, not driver-side dict maps
  (``transformation.py:43,123-125``) — no collect, no driver memory ceiling.
- Surrogate keys are ``xxhash64`` of the natural key, not SERIAL
  (``scripts/init_postgres.sql:5,10,27``) — stable, distributed, join-free
  re-derivation (SURVEY §7.4.1).
- All cleaning is Catalyst expressions (functions/cleaning.py) — the
  reference's row-at-a-time ``apply`` loops vanish into codegen.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cleaning import (
    clean_text_expr,
    coerce_money_expr,
    date_parts,
    parse_stopovers_expr,
    row_hash_expr,
    surrogate_key_expr,
)
from ..session import hadoop_fs
from ..sources.flights_csv import RENAME_MAP

#: the CSV's 17 columns under their engine names, in file order
BRONZE_COLS = list(RENAME_MAP.values())

#: bronze as ``ingest_increment`` writes it: the CSV's columns as strings,
#: the content hash, and the load time
BRONZE_PARQUET_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in BRONZE_COLS]
    + [T.StructField("row_hash", T.StringType()),
       T.StructField("load_timestamp", T.TimestampType())]
)

TEXT_COLS = [
    # transformation.py:56-59 — the 7 standardized text columns
    "airline", "source_name", "destination_name", "aircraft_type",
    "class", "booking_source", "seasonality",
]

MONEY_COLS = ["duration_hours", "base_fare", "tax_surcharge", "total_fare"]


# --------------------------------------------------------------------------
# Ingestion: bronze append with hash-ledger dedup (D1, ingestion.py:18-129)
# --------------------------------------------------------------------------

def with_row_hash(df: DataFrame) -> DataFrame:
    """P4 — content hash over all bronze columns (ingestion.py:69)."""
    return df.withColumn("row_hash", row_hash_expr(BRONZE_COLS))


def dedup_against_ledger(incoming: DataFrame, ledger: DataFrame | None) -> DataFrame:
    """D1 — drop rows whose hash is already in the ledger, then drop
    in-batch duplicates (keep one row per hash, ingestion.py:82-83).

    A ledger row without a hash is schema drift, not new data: a part
    file written without ``row_hash`` (an older bronze, see
    ``ROW_HASH_VERSION``) reads as NULL hashes under the declared schema,
    and skipping those rows in the anti-join would silently re-ingest
    them. The guard fails the job on the first such row, whichever part
    file holds it. ``None`` (genuinely absent path) means first run."""
    hashed = with_row_hash(incoming)
    if ledger is not None:
        guarded = F.coalesce("row_hash", F.raise_error(F.lit(
            "dedup_against_ledger: a ledger row has no row_hash (schema drift: "
            "a part file written without the hash column?)")))
        hashed = hashed.join(ledger.select(guarded.alias("row_hash")), "row_hash", "left_anti")
    return hashed.dropDuplicates(["row_hash"])


def read_bronze(spark: SparkSession, bronze_path: str) -> DataFrame:
    """Bronze with its declared schema: no footer-inference job, and every
    part file read alike (a missing column reads as NULL)."""
    return spark.read.schema(BRONZE_PARQUET_SCHEMA).parquet(bronze_path)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Ask the path's file system whether ``path`` exists. A check up
    front, not a caught read failure: the session's Observation listener
    re-analyzes a failed read and logs its stack trace as an ERROR."""
    fs, jpath = hadoop_fs(spark, path)
    return fs.exists(jpath)


def ingest_increment(spark: SparkSession, incoming: DataFrame, bronze_path: str) -> int:
    """Incremental load (§3.1 Spark shape): anti-join ``incoming`` against
    the ``row_hash`` column of bronze, then append the new rows, hash
    included, in one write. Bronze is its own ledger: a row and its hash
    land in the same file, so there is no second table to keep in step.

    Only a genuinely absent bronze path means "first run". Any other read
    failure (corrupt parquet, permissions) surfaces: swallowing it would
    silently re-ingest the entire source as if bronze were empty.

    Delivery contract: a run that dies before the append commits leaves
    its rows out of bronze, hashes included, so the next run ingests
    them; a run after bronze files are lost re-ingests exactly the rows
    they held.

    File sizing: the append is sized as it is written, so bronze needs no
    compaction pass. Without a hint it would write one file per cached
    dedup partition (``spark.sql.shuffle.partitions``, empty ones
    included): AQE keeps a cached plan's output partitioning
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is
    off). The ``rebalance`` hint sits above the cache, and AQE sizes its
    partitions from the data: one file for a small increment,
    ``advisoryPartitionSizeInBytes``-sized files at scale.

    Returns the number of newly ingested rows.
    """
    bronze = read_bronze(spark, bronze_path) if path_exists(spark, bronze_path) else None
    fresh = dedup_against_ledger(incoming, bronze)
    fresh = fresh.withColumn("load_timestamp", F.current_timestamp())
    # the count and the write share one lineage: cache the anti-join
    fresh.persist()
    try:
        n_new = fresh.count()
        if n_new:
            fresh.hint("rebalance").write.mode("append").parquet(bronze_path)
    finally:
        fresh.unpersist()
    return n_new


# --------------------------------------------------------------------------
# Silver: cleaning (transformation.py:54-79,91)
# --------------------------------------------------------------------------

def clean_flights(df: DataFrame, observation=None) -> DataFrame:
    """P5-P9: standardize text, parse stopovers, coerce measures,
    validity-filter, parse departure timestamp (coerce-to-null).

    ``observation`` (a ``pyspark.sql.Observation``) piggybacks dropped-row
    accounting (A7) onto the existing pass: rows_in / rows_dropped_invalid
    are computed inside the same scan instead of the reference's two extra
    length calls (``transformation.py:75-79``) — at 100 TB a pre/post
    ``count()`` pair is two additional full-table passes."""
    for c in TEXT_COLS:
        df = df.withColumn(c, clean_text_expr(c))
    df = df.withColumns({c: coerce_money_expr(c) for c in MONEY_COLS})
    df = df.withColumn("stopovers", parse_stopovers_expr("stopovers"))
    df = df.withColumn(
        "days_before_departure",
        F.coalesce(F.col("days_before_departure").try_cast("int"), F.lit(0)),
    )
    # try_to_timestamp = pd.to_datetime(errors='coerce') (ANSI-safe null)
    df = df.withColumn("departure_ts", F.try_to_timestamp("departure_datetime"))
    df = df.withColumn("departure_date", F.to_date("departure_ts"))
    # P8 validity filter (transformation.py:74-76)
    valid = (F.col("total_fare") > 0) & (F.col("duration_hours") > 0)
    if observation is not None:
        df = df.observe(
            observation,
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.when(~valid, 1).otherwise(0)).alias("rows_dropped_invalid"),
        )
    return df.filter(valid)


# --------------------------------------------------------------------------
# Dims (D2-D4 + surrogate keys §7.4)
# --------------------------------------------------------------------------

def build_dim_airlines(silver: DataFrame) -> DataFrame:
    """D2 (transformation.py:82-83): distinct airline + hash key."""
    return (
        silver.select("airline").where(F.col("airline").isNotNull()).distinct()
        .select(
            surrogate_key_expr("airline").alias("airline_id"),
            F.col("airline").alias("airline_name"),
        )
    )


def build_dim_airports(silver: DataFrame) -> DataFrame:
    """D3 (transformation.py:86-88) with the documented divergence-fix:
    dedup on *code* (one name per code via deterministic max), because the
    reference's (code,name) dedup violates its own UNIQUE(airport_code)
    constraint when one code has two spellings (SURVEY D3)."""
    src = silver.select(F.col("source_code").alias("airport_code"),
                        F.col("source_name").alias("airport_name"))
    dst = silver.select(F.col("destination_code").alias("airport_code"),
                        F.col("destination_name").alias("airport_name"))
    return (
        src.unionByName(dst)
        .where(F.col("airport_code").isNotNull())
        .groupBy("airport_code")
        .agg(F.max("airport_name").alias("airport_name"))
        .select(
            surrogate_key_expr("airport_code").alias("airport_id"),
            "airport_code",
            "airport_name",
        )
    )


def build_dim_date(silver: DataFrame) -> DataFrame:
    """D4 + P11-P13 (transformation.py:91-101): calendar spine from
    distinct departure dates; seasonality = deterministic max() per date
    (J4 divergence-fix)."""
    per_date_label = (
        silver.where(F.col("departure_date").isNotNull())
        .groupBy(F.col("departure_date").alias("date_id"))
        .agg(F.max("seasonality").alias("seasonality"))
    )
    parts = date_parts("date_id")
    return per_date_label.select(
        "date_id",
        parts["year"].alias("year"),
        parts["month"].alias("month"),
        parts["day"].alias("day"),
        parts["quarter"].alias("quarter"),
        parts["day_of_week"].alias("day_of_week"),
        parts["is_weekend"].alias("is_weekend"),
        F.coalesce(F.col("seasonality"), F.lit("Normal")).alias("seasonality"),
    )


# --------------------------------------------------------------------------
# Fact (J1 + P14 + P2, transformation.py:121-137)
# --------------------------------------------------------------------------

def build_fact(silver: DataFrame,
               dim_airlines: DataFrame,
               dim_airports: DataFrame) -> DataFrame:
    """FK resolution via broadcast joins; unmatched rows and null dates are
    dropped (inner-join semantics = the reference's dropna,
    ``transformation.py:134``). ``silver`` keeps bronze's ``row_hash``."""
    airlines = F.broadcast(dim_airlines.select("airline_id", "airline_name"))
    src_airports = F.broadcast(
        dim_airports.select(F.col("airport_id").alias("source_airport_id"),
                            F.col("airport_code").alias("src_code"))
    )
    dst_airports = F.broadcast(
        dim_airports.select(F.col("airport_id").alias("destination_airport_id"),
                            F.col("airport_code").alias("dst_code"))
    )
    return (
        silver
        .where(F.col("departure_date").isNotNull())  # P14 (transformation.py:111,134)
        .join(airlines, silver.airline == airlines.airline_name)
        .join(src_airports, silver.source_code == src_airports.src_code)
        .join(dst_airports, silver.destination_code == dst_airports.dst_code)
        .select(
            # the raw row's identity, as the dedup key is (SURVEY §7.4.1):
            # a hash of the cleaned columns would merge rows the cleaner
            # folds together (case, padding, NULL vs the sentinel)
            F.xxhash64("row_hash").alias("flight_id"),
            "airline_id",
            "source_airport_id",
            "destination_airport_id",
            F.col("departure_date").alias("departure_date_id"),
            "aircraft_type",
            "class",
            "stopovers",
            "booking_source",
            "duration_hours",
            "days_before_departure",
            "base_fare",
            "tax_surcharge",
            "total_fare",
            F.current_timestamp().alias("load_timestamp"),
        )
    )


def build_star_schema(silver: DataFrame) -> dict[str, DataFrame]:
    """The three dims by table name; the fact is built by ``build_fact``
    against the dims as written."""
    return {"dim_airlines": build_dim_airlines(silver),
            "dim_airports": build_dim_airports(silver),
            "dim_date": build_dim_date(silver)}
