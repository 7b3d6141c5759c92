"""Environment-drift canary (round-3 postmortem).

In round 3 the driver silently regenerated ``events.parquet`` with a new
physical type for ``ts`` (TIMESTAMP(NANOS) → timestamp[us]) and 32 tests
failed with a Catalyst stack trace that named none of them. The loader
reads every table with its declared schema, so its output schema alone
no longer shows drift: this canary compares each declared schema with
the one Spark infers from the files, at every scale factor present, and
asserts the loader-normalized schema (names + Spark types), so the next
regeneration fails ONE obvious test with the table name in the message.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from airflow_project_flight_price_analysis_spark.sources.testdata import (
    TABLES,
    events_stream,
    load_table,
    read_schema,
    register_views,
)

from tests.conftest import SF_SMALL

# Loader-normalized schema per table: {column: simpleString type}. This is
# the contract every downstream operator assumes; types are post-normalize
# (e.g. events.ts is always "timestamp" regardless of parquet storage).
EXPECTED = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp_ntz",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp_ntz",
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


@pytest.mark.parametrize("name", TABLES)
def test_loader_schema_matches_contract(spark, name):
    for sf_dir in sorted(glob.glob(os.path.join(os.path.dirname(SF_SMALL), "sf*"))):
        declared, _ = read_schema(spark, sf_dir, name)
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert declared == inferred, (
            f"testdata table {name!r} drifted at {sf_dir}: the files hold "
            f"{inferred.simpleString()}, sources/testdata.py declares "
            f"{declared.simpleString()}; update SCHEMAS (and this canary) together."
        )
    df = load_table(spark, SF_SMALL, name)
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert got == EXPECTED[name], (
        f"testdata table {name!r} drifted: loader-normalized schema is {got}, "
        f"engine expects {EXPECTED[name]} — the driver likely regenerated "
        f"{SF_SMALL}/{name}.parquet with new physical types; update "
        "sources/testdata.py normalization (and this canary) together."
    )


def test_events_loader_yields_values(spark):
    # Beyond the schema: the normalized ts must hold sane 21st-century
    # values (an epoch-misinterpretation bug keeps the type but not these).
    row = (
        load_table(spark, SF_SMALL, "events")
        .selectExpr("min(year(ts)) AS lo", "max(year(ts)) AS hi", "count(*) AS n")
        .first()
    )
    assert row.n > 0, "events table is empty at sf0.001"
    assert 2000 <= row.lo <= row.hi <= 2100, (
        f"events.ts normalization is off: year range [{row.lo}, {row.hi}] — "
        "storage type probably changed (see sources/testdata._ts_kind)"
    )


def test_events_stream_schema_matches_batch(spark):
    stream = events_stream(spark, SF_SMALL)
    batch = load_table(spark, SF_SMALL, "events")
    assert stream.schema == batch.schema, (
        "streaming and batch events readers diverged — both must normalize "
        "through sources/testdata._normalize_events_ts"
    )


def test_register_views_isolates_broken_table(spark, tmp_path):
    # A corrupt/missing events file must not take down unrelated views
    # (round-3 failure mode: q24/q30/q31 crashed on a table they never use).
    for name in TABLES:
        if name != "events":
            shutil.copy(f"{SF_SMALL}/{name}.parquet", tmp_path / f"{name}.parquet")
    (tmp_path / "events.parquet").write_bytes(b"not a parquet file")
    try:
        errors = register_views(spark, str(tmp_path))
        assert list(errors) == ["events"]
        # unrelated SQL-frontend queries still run
        assert spark.sql("SELECT count(*) AS n FROM orders").first().n > 0
    finally:
        # ALWAYS restore the real views — a failing assert must not
        # leave the session's views pointing at the corrupt tmp copy
        # and cascade-fail every later SQL-frontend test
        register_views(spark, SF_SMALL)


def test_tz_aware_nanos_takes_nanos_path(spark, tmp_path):
    """ADVICE r4: ``timestamp[ns, tz=...]`` must classify as "nanos", not
    "tz" — Spark's vectorized reader rejects parquet TIMESTAMP(NANOS)
    regardless of tz-adjustment, so the tz path would crash the reader.
    isAdjustedToUTC nanos store UTC epoch nanos, so the nanosAsLong →
    timestamp_micros normalization is value-preserving too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMALL}/events.parquet")
    ts_nanos_tz = t.column("ts").cast(pa.timestamp("ns", tz="UTC"), safe=False)
    pq.write_table(
        t.set_column(t.schema.get_field_index("ts"), "ts", ts_nanos_tz),
        tmp_path / "events.parquet",
    )
    assert read_schema(spark, str(tmp_path), "events")[1] == "nanos"
    df = load_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = df.selectExpr("min(ts) AS lo", "max(ts) AS hi", "count(*) AS n").first()
    want = (
        load_table(spark, SF_SMALL, "events")
        .selectExpr("min(ts) AS lo", "max(ts) AS hi", "count(*) AS n")
        .first()
    )
    assert (got.lo, got.hi, got.n) == (want.lo, want.hi, want.n)


def test_canary_catches_dtype_corruption(spark, tmp_path):
    # Deliberately store ts as int64 millis in a temp copy: the loader's
    # footer dispatch treats plain int64 as epoch-nanos, so normalization
    # lands in ~1970 and the value canary trips with the table named.
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMALL}/events.parquet")
    ts_ms = t.column("ts").cast(
        pa.timestamp("ms"), safe=False
    ).cast(pa.int64())
    pq.write_table(
        t.set_column(t.schema.get_field_index("ts"), "ts", ts_ms),
        tmp_path / "events.parquet",
    )
    df = load_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    lo = df.selectExpr("min(year(ts)) AS lo").first().lo
    assert lo < 2000  # the drift IS detectable by test_events_loader_yields_values


def test_load_table_starts_no_job(spark):
    """Declared schemas: loading every table submits no Spark job (an
    inferring read submits one per table to read a footer)."""
    sc = spark.sparkContext
    sc.setJobGroup("load_table_no_job", "load every testdata table")
    try:
        for name in TABLES:
            load_table(spark, SF_SMALL, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("load_table_no_job")) == []


def test_missing_column_names_table_and_column(spark, tmp_path):
    """Spark reads a declared column the file lacks as NULL; the loader's
    footer check must raise instead, naming the table and the column."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMALL}/orders.parquet")
    pq.write_table(t.drop_columns(["o_totalprice"]), tmp_path / "orders.parquet")
    with pytest.raises(ValueError, match="'orders'.*'o_totalprice'"):
        load_table(spark, str(tmp_path), "orders")
