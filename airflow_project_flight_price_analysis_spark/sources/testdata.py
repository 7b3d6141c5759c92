"""Readers for the driver-generated parquet testdata (TESTDATA.md).

Parquet is the engine's bronze/silver storage format of choice: columnar,
predicate pushdown + column pruning reach the scan (check ``.explain``
for ``PushedFilters`` / ``ReadSchema``), splittable for 1000-executor
parallelism. The reference's MySQL staging table
(``scripts/init_mysql.sql:6-26``) maps to a parquet bronze layer here.

Every table's schema is declared in ``SCHEMAS``, as the reference declares
its tables in DDL: reading with a declared schema starts no Spark job,
where inferring one from a footer starts a one-task job on every read.
Spark reads a declared column that the file lacks as NULL without
complaint, so each read first checks the file's footer on the driver with
pyarrow (a few KiB of metadata, no data IO) and raises if a declared
column is missing; a column whose type drifted fails in Spark's reader.

``events.parquet``'s ``ts`` column has changed physical type across driver
regenerations (TIMESTAMP(NANOS) in rounds 1-2, plain ``timestamp[us]`` /
TIMESTAMP_NTZ since round 4's refresh). Both the batch and the streaming
reader therefore take its read type from the same footer (see
:func:`_ts_kind`) instead of assuming one. Whatever the storage type,
downstream operators always see ``ts`` as session-timezone
``TimestampType`` (the session is pinned UTC in ``session.py``, so the
NTZ→timestamp cast is value-preserving and matches what DuckDB's reader
yields).
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INT, _LONG, _DOUBLE = T.IntegerType(), T.LongType(), T.DoubleType()
_STR, _NTZ = T.StringType(), T.TimestampNTZType()


def _struct(**cols: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(name, t) for name, t in cols.items()])


#: Each table's declared schema. ``events.ts`` is declared as the current
#: storage type; the read type comes from the footer (``_ts_kind``).
SCHEMAS = {
    "region": _struct(r_regionkey=_INT, r_name=_STR),
    "nation": _struct(n_nationkey=_INT, n_name=_STR, n_regionkey=_INT),
    "customer": _struct(c_custkey=_LONG, c_name=_STR, c_nationkey=_INT,
                        c_acctbal=_DOUBLE, c_mktsegment=_STR),
    "supplier": _struct(s_suppkey=_LONG, s_name=_STR, s_nationkey=_INT,
                        s_acctbal=_DOUBLE),
    "part": _struct(p_partkey=_LONG, p_name=_STR, p_brand=_STR, p_type=_STR,
                    p_size=_INT, p_retailprice=_DOUBLE),
    "orders": _struct(o_orderkey=_LONG, o_custkey=_LONG, o_orderstatus=_STR,
                      o_totalprice=_DOUBLE, o_orderdate=_NTZ, o_orderpriority=_STR),
    "lineitem": _struct(l_orderkey=_LONG, l_partkey=_LONG, l_suppkey=_LONG,
                        l_linenumber=_INT, l_quantity=_DOUBLE,
                        l_extendedprice=_DOUBLE, l_discount=_DOUBLE, l_tax=_DOUBLE,
                        l_returnflag=_STR, l_linestatus=_STR, l_shipdate=_NTZ),
    "events": _struct(event_id=_LONG, ts=_NTZ, user_id=_LONG, event_type=_STR,
                      value=_DOUBLE, props=_STR),
    "documents": _struct(doc_id=_LONG, text=_STR, lang=_STR, source=_STR,
                         n_chars=_LONG),
    "embeddings": _struct(vec_id=_LONG, embedding=T.ArrayType(T.FloatType()),
                          label=_INT),
}

TABLES = list(SCHEMAS)

#: the type ``events.ts`` is read as, per storage kind (see ``_ts_kind``)
_TS_READ_TYPE = {"nanos": _LONG, "long": _LONG, "ntz": _NTZ, "tz": T.TimestampType()}


def _footer(sf_dir: str, name: str) -> pa.Schema:
    """The schema in ``name``'s parquet footer, checked to hold every
    declared column: Spark would read a missing one as NULL."""
    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        # Spark writes parquet as a directory of part files; any one
        # part's footer carries the column types.
        parts = sorted(glob.glob(f"{path}/*.parquet")) or sorted(
            glob.glob(f"{path}/part-*")
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        path = parts[0]
    footer = pq.read_schema(path)
    for col in SCHEMAS[name].names:
        if footer.get_field_index(col) < 0:
            raise ValueError(f"testdata table {name!r} has no column {col!r} "
                             f"in {path}; its file has {footer.names}")
    return footer


def _ts_kind(footer: pa.Schema) -> str:
    """Classify how ``events.parquet`` physically stores ``ts``.

    Returns one of:
      * ``"nanos"`` — parquet TIMESTAMP(NANOS); Spark's vectorized reader
        rejects it unless read as long via ``legacy.parquet.nanosAsLong``.
      * ``"ntz"``   — timestamp without timezone (reads as TIMESTAMP_NTZ
        under Spark 4).
      * ``"tz"``    — timestamp with timezone (reads as TimestampType).
      * ``"long"``  — plain int64, interpreted as epoch nanoseconds.
    """
    t = str(footer.field("ts").type)
    if t.startswith("timestamp"):
        # Unit check FIRST (ADVICE r4): Spark's vectorized reader rejects
        # parquet TIMESTAMP(NANOS) regardless of tz-adjustment, so
        # ``timestamp[ns, tz=...]`` must take the nanosAsLong path, not
        # the tz path. (isAdjustedToUTC nanos store UTC epoch nanos and
        # the session tz is pinned UTC, so the long->micros normalization
        # is value-preserving for both nanos flavors.)
        if t.startswith("timestamp[ns"):
            return "nanos"
        if "tz=" in t:
            return "tz"
        return "ntz"
    return "long"


def read_schema(spark: SparkSession, sf_dir: str, name: str) -> tuple[T.StructType, str | None]:
    """(schema to read ``name`` with, ``events.ts`` storage kind or None),
    after checking the footer holds every declared column."""
    if name not in SCHEMAS:
        raise ValueError(f"unknown testdata table {name!r}; expected one of {TABLES}")
    footer = _footer(sf_dir, name)
    if name != "events":
        return SCHEMAS[name], None
    kind = _ts_kind(footer)
    if kind == "nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = T.StructType([T.StructField(f.name, _TS_READ_TYPE[kind]) if f.name == "ts" else f
                           for f in SCHEMAS[name].fields])
    return schema, kind


def _normalize_events_ts(df: DataFrame, kind: str) -> DataFrame:
    """Map the storage-typed ``ts`` to session-tz TimestampType."""
    if kind in ("nanos", "long"):
        # long epoch-nanos -> truncate to micros (what DuckDB's reader does)
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if kind == "ntz":
        # session tz is pinned UTC (session.py), so this cast is
        # value-preserving against the DuckDB oracle.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Schema-first scan with the table's declared schema: no Spark job
    runs. Raises ``ValueError`` if the file lacks a declared column."""
    schema, kind = read_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    return df if kind is None else _normalize_events_ts(df, kind)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``load_table(spark, sf_dir, "events")``: the same
    declared schema and footer check, so both paths normalize ``ts``
    identically, and a testdata regeneration changes ONE function's
    behavior, not three subsystems (the round-3 lesson)."""
    schema, kind = read_schema(spark, sf_dir, "events")
    events_path = f"{sf_dir}/events.parquet"
    if os.path.isdir(events_path):
        # directory-of-part-files layout (a Spark write): point the
        # stream AT the directory. pathGlobFilter matches LEAF file
        # names, so filtering sf_dir for "events.parquet" would match
        # zero part-* leaves and start a silently EMPTY stream.
        stream = spark.readStream.schema(schema).parquet(events_path)
    else:
        # single-file layout: glob so sibling tables in sf_dir are
        # not swept into the stream
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return _normalize_events_ts(stream, kind)


def register_views(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, str]:
    """Register testdata tables as temp views for ``spark.sql`` queries.

    Each table loads independently: a missing or malformed file skips that
    one view (recorded in the returned ``{table: error}`` map) instead of
    taking down queries that never touch it — a query that does need the
    broken table fails later with a readable ``TABLE_OR_VIEW_NOT_FOUND``
    naming it.
    """
    errors: dict[str, str] = {}
    for name in tables if tables is not None else TABLES:
        try:
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        except Exception as exc:  # noqa: BLE001 — isolate per-table failures
            errors[name] = f"{type(exc).__name__}: {exc}"
    return errors
