"""Tests of the benchmark's own generator and span bookkeeping.

    python3 -m pytest perfbench/test_gen.py -q

The planted-truth record is cross-checked against DuckDB reading the
same CSV, so a generator bug cannot hide behind the benchmark agreeing
with itself.
"""

from __future__ import annotations

import filecmp
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import Tracer, _union  # noqa: E402

ROWS = 3000


@pytest.fixture(scope="module")
def flights(tmp_path_factory):
    return gen.write_flight_csvs(str(tmp_path_factory.mktemp("csv")), 11, ROWS)


def _csv(path: str) -> str:
    return f"read_csv('{path}', all_varchar=true, header=true)"


def _distinct(path: str) -> str:
    return f"(SELECT DISTINCT * FROM {_csv(path)})"


def test_same_seed_gives_identical_files(tmp_path, flights):
    again = gen.write_flight_csvs(str(tmp_path / "again"), 11, ROWS)
    for name in ("full", "incr"):
        assert filecmp.cmp(flights["paths"][name], again["paths"][name], shallow=False)
    a = gen.write_tables(str(tmp_path / "a"), 5, 0.001)
    b = gen.write_tables(str(tmp_path / "b"), 5, 0.001)
    other = gen.write_tables(str(tmp_path / "c"), 6, 0.001)
    for name in os.listdir(a):
        assert filecmp.cmp(f"{a}/{name}", f"{b}/{name}", shallow=False), name
    assert not filecmp.cmp(f"{a}/lineitem.parquet", f"{other}/lineitem.parquet",
                           shallow=False)


@pytest.mark.parametrize("name", ["full", "incr"])
def test_planted_record_matches_duckdb(flights, name):
    path, planted = flights["paths"][name], flights["planted"][name]
    con = duckdb.connect()
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    assert q(f"SELECT COUNT(*) FROM {_csv(path)}") == planted["source_rows"]
    assert q(f"SELECT COUNT(*) FROM {_distinct(path)}") == planted["distinct_rows"]
    fare = '"Total Fare (BDT)"'
    assert q(f"SELECT COUNT(*) FROM {_distinct(path)} "
             f"WHERE TRY_CAST({fare} AS DOUBLE) <= 0") == planted["zero_or_negative_fares"]
    invalid = (f"coalesce(TRY_CAST({fare} AS DOUBLE), 0) <= 0 OR "
               'coalesce(TRY_CAST("Duration (hrs)" AS DOUBLE), 0) <= 0')
    assert q(f"SELECT COUNT(*) FROM {_distinct(path)} WHERE {invalid}") == planted["invalid_rows"]
    for s, n in planted["bad_date_strings"].items():
        assert q(f"SELECT COUNT(*) FROM {_distinct(path)} "
                 f"WHERE \"Departure Date & Time\" = '{s}'") == n
    dep = '"Departure Date & Time"'
    assert q(f"SELECT COUNT(*) FROM {_distinct(path)} "
             f"WHERE TRY_CAST({dep} AS TIMESTAMP) IS NULL") == planted["bad_date_rows"]
    assert planted["exact_duplicates"] > 0 and planted["invalid_rows"] > 0


def test_expected_reports_match_duckdb(flights):
    con = duckdb.connect()
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    full, incr = flights["paths"]["full"], flights["paths"]["incr"]
    exp = flights["expected"]
    assert exp["full"]["ingested_new_rows"] == q(f"SELECT COUNT(*) FROM {_distinct(full)}")
    assert exp["incr"]["ingested_new_rows"] == q(
        f"SELECT COUNT(*) FROM ({_distinct(incr)} EXCEPT {_distinct(full)})")
    assert exp["rerun"]["ingested_new_rows"] == 0
    valid = ('coalesce(TRY_CAST("Total Fare (BDT)" AS DOUBLE), 0) > 0 AND '
             'coalesce(TRY_CAST("Duration (hrs)" AS DOUBLE), 0) > 0')
    dated = 'TRY_CAST("Departure Date & Time" AS TIMESTAMP) IS NOT NULL'
    for phase, path in (("full", full), ("incr", incr)):
        e = exp[phase]
        assert e["dims"]["dim_airlines"] == q(
            f"SELECT COUNT(DISTINCT lower(trim(Airline))) FROM {_distinct(path)} WHERE {valid}")
        assert e["dims"]["dim_airports"] == q(
            f"SELECT COUNT(*) FROM (SELECT Source FROM {_distinct(path)} WHERE {valid} "
            f"UNION SELECT Destination FROM {_distinct(path)} WHERE {valid})")
        assert e["dims"]["dim_date"] == q(
            f"SELECT COUNT(DISTINCT CAST(\"Departure Date & Time\" AS DATE)) "
            f"FROM {_distinct(path)} WHERE {valid} AND {dated}")
        assert e["fact_rows"] == q(
            f"SELECT COUNT(*) FROM {_distinct(path)} WHERE {valid} AND {dated}")
        assert e["passed"] and 0 < e["loss_pct"] <= 1.0


def test_loss_budget_gate_fails_past_one_percent():
    """validation.py's gate: 1 of 100 rows lost passes, 2 of 100 fail."""
    def rows(n_bad):
        return [((str(i),) + ("",) * 16, gen._INVALID if i < n_bad else gen._OK)
                for i in range(100)]
    assert gen.expected_report(rows(1))["passed"] is True
    assert gen.expected_report(rows(2))["passed"] is False


def test_self_times_add_up_to_span_totals():
    tr = Tracer(None, "t", enabled=False)
    tr.spans = [
        {"id": 0, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "name": "c", "parent": 0, "start": 5.0, "end": 9.5},
    ]
    rec = tr.record()
    assert [s["self_s"] for s in rec["spans"]] == [2.5, 2.0, 1.0, 4.5]
    assert rec["self_sum_ok"]
    assert _union([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
