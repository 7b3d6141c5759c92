"""Local replica of the driver's DuckDB-oracle comparison (SURVEY.md §5).

Compares a Spark DataFrame against DuckDB running the oracle SQL on the
same parquet tables: row count, column-name set, and an order-insensitive
value comparison (columns sorted by name, rows sorted, floats normalized).
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from airflow_project_flight_price_analysis_spark.sources.testdata import TABLES


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _norm_cell(v):
    import numpy as np

    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        # DRIVER PARITY: 9-significant-digit formatting, exactly the
        # driver's normalizer. This is rounding (collapses noise up to
        # ~1e-8 relative; can in principle split values a hair apart at
        # a rounding boundary) — queries therefore round/deciml-cast
        # their own float outputs so the compare never sits on a
        # boundary. Do NOT "improve" this locally: a tolerance the
        # driver doesn't have would hide real driver-side mismatches.
        return f"{v:.9g}"
    if isinstance(v, (list, tuple, np.ndarray)):
        # ndarray: both toPandas() and DuckDB fetchdf() deliver ARRAY
        # columns as numpy arrays, which pd.isna would choke on
        return tuple(_norm_cell(x) for x in v)
    if pd.isna(v):
        return "<null>"
    return str(v)


def _normalize(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows)


def _assert_no_hugeint(pdf: pd.DataFrame, name: str) -> None:
    """DuckDB renders uncast SUM(BIGINT) as HUGEINT (int128), which pandas
    stores as dtype=object ints. The driver's value hash is typed, so a
    HUGEINT column hash-mismatches Spark's BIGINT even when every value is
    equal (round-2 x26/x27/x31 failure). Our string-normalized comparison
    can't see that, so flag it explicitly: cast such sums in the oracle SQL."""
    for col in pdf.columns:
        if pdf[col].dtype == object and len(pdf):
            # first NON-NULL value: a NULL first row (outer-join group)
            # must not bypass the guard
            nn = pdf[col].dropna()
            if not len(nn):
                continue
            v = nn.iloc[0]
            if isinstance(v, int) and not isinstance(v, bool):
                raise AssertionError(
                    f"{name}: oracle column {col!r} is a Python-int object "
                    "column (DuckDB HUGEINT?) — CAST(... AS BIGINT) it in "
                    "the oracle SQL or the driver hash will mismatch"
                )


def assert_matches_oracle(spark_df, sql: str, sf_dir: str, name: str = "") -> None:
    actual = spark_df.toPandas()
    expected = run_oracle(sql, sf_dir)
    _assert_no_hugeint(expected, name)
    assert sorted(actual.columns) == sorted(expected.columns), (
        f"{name}: column mismatch spark={sorted(actual.columns)} "
        f"oracle={sorted(expected.columns)}"
    )
    assert len(actual) == len(expected), (
        f"{name}: row count mismatch spark={len(actual)} oracle={len(expected)}"
    )
    a, e = _normalize(actual), _normalize(expected)
    mism = [(x, y) for x, y in zip(a, e) if x != y][:5]
    assert a == e, f"{name}: value mismatch, first diffs: {mism}"
