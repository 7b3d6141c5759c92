"""End-to-end flight pipeline: CSV → bronze (its row_hash column is the
dedup ledger) → silver → star schema → reconciliation. Mirrors the
reference DAG's ingest→transform→validate flow (dags/flight_pipeline_dag.py:49-68)."""

from __future__ import annotations

import pytest

from airflow_project_flight_price_analysis_spark.functions.cleaning import NULL_SENTINEL
from airflow_project_flight_price_analysis_spark.operators import star
from airflow_project_flight_price_analysis_spark.sources.flights_csv import (
    read_flights_csv,
)
from airflow_project_flight_price_analysis_spark.validation import reconcile

CSV_HEADER = (
    "Airline,Source,Source Name,Destination,Destination Name,"
    "Departure Date & Time,Arrival Date & Time,Duration (hrs),Stopovers,"
    "Aircraft Type,Class,Booking Source,Base Fare (BDT),"
    "Tax & Surcharge (BDT),Total Fare (BDT),Seasonality,Days Before Departure"
)

GOOD_ROW = (
    "biman bangladesh airlines,DAC,hazrat shahjalal intl,CXB,cox's bazar airport,"
    "2025-03-14 08:30:00,2025-03-14 10:05:00,1.58,Direct,Boeing 737,economy,"
    "online,4500.00,675.50,5175.50,Eid,21"
)
DUP_ROW = GOOD_ROW
BAD_FARE_ROW = (  # total_fare 0 → dropped by validity filter
    "novoair,DAC,hazrat shahjalal intl,ZYL,osmani intl,"
    "2025-03-15 09:00:00,2025-03-15 10:00:00,1.0,non-stop,ATR 72,economy,"
    "agency,0,0,0,Regular,7"
)
BAD_DATE_ROW = (  # unparseable departure → null date → dropped from fact
    "us-bangla,DAC,hazrat shahjalal intl,CGP,shah amanat intl,"
    "not-a-date,also-not,1.2,1 Stop,Boeing 737,business,online,"
    "6000,900,6900,Regular,3"
)
SECOND_ROW = (
    "novoair ,DAC, hazrat shahjalal intl ,ZYL,osmani intl,"
    "2025-03-16 18:30:00,2025-03-16 19:30:00,1.0,2 stops,ATR 72, Economy ,"
    "agency,3000,450,3450,Regular,10"
)


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "flights.csv"
    p.write_text("\n".join([CSV_HEADER, GOOD_ROW, DUP_ROW, BAD_FARE_ROW,
                            BAD_DATE_ROW, SECOND_ROW]) + "\n")
    return str(p)


def _run_pipeline(spark, csv_file, tmp_path):
    bronze_path = str(tmp_path / "bronze")
    raw = read_flights_csv(spark, csv_file)
    n_new = star.ingest_increment(spark, raw, bronze_path)
    bronze = spark.read.parquet(bronze_path)
    silver = star.clean_flights(bronze)
    dims = star.build_star_schema(silver)
    return n_new, raw, bronze, silver, dims


def _executions_of(spark, fn, *args):
    """``fn(*args)`` and the SQL executions it ran, from the status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    as_java = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava

    def executions():
        return {e.executionId(): e for e in as_java(store.executionsList())}

    mark = max(executions(), default=-1)
    out = fn(*args)
    return out, [e for i, e in executions().items() if i > mark]


def test_ingest_dedups_exact_duplicates(spark, csv_file, tmp_path):
    n_new, raw, bronze, *_ = _run_pipeline(spark, csv_file, tmp_path)
    assert raw.count() == 5
    assert n_new == 4  # DUP_ROW collapsed (ingestion.py:69-83)
    assert bronze.count() == 4


def test_reingest_is_idempotent(spark, csv_file, tmp_path):
    _run_pipeline(spark, csv_file, tmp_path)
    raw = read_flights_csv(spark, csv_file)
    n_second = star.ingest_increment(spark, raw, str(tmp_path / "bronze"))
    assert n_second == 0  # re-run adds nothing (effective exactly-once)
    assert spark.read.parquet(str(tmp_path / "bronze")).count() == 4


def test_appended_rows_are_incremental(spark, csv_file, tmp_path):
    _run_pipeline(spark, csv_file, tmp_path)
    extra = (
        "biman bangladesh airlines,DAC,hazrat shahjalal intl,SPD,saidpur airport,"
        "2025-04-01 07:00:00,2025-04-01 08:10:00,1.17,Direct,Dash 8,economy,"
        "online,3800,570,4370,Hajj,30"
    )
    with open(csv_file, "a") as f:
        f.write(extra + "\n")
    raw = read_flights_csv(spark, csv_file)
    n = star.ingest_increment(spark, raw, str(tmp_path / "bronze"))
    assert n == 1
    assert spark.read.parquet(str(tmp_path / "bronze")).count() == 5


def test_silver_cleaning_and_validity_filter(spark, csv_file, tmp_path):
    _, _, bronze, silver, _ = _run_pipeline(spark, csv_file, tmp_path)
    rows = {r.airline: r for r in silver.collect()}
    # BAD_FARE_ROW dropped (total_fare<=0); others survive
    assert len(rows) == 3 and "Novoair" in rows
    nv = rows["Novoair"]
    assert nv.stopovers == 2          # '2 stops' parsed
    assert nv.total_fare == 3450.0
    assert nv.airline == "Novoair"    # trimmed + initcap
    assert rows["Us-bangla"].departure_date is None  # coerce-to-null


def test_star_schema_shapes(spark, csv_file, tmp_path):
    *_, silver, dims = _run_pipeline(spark, csv_file, tmp_path)
    assert dims["dim_airlines"].count() == 3
    # airports deduped on code: DAC, CXB, ZYL, CGP
    assert dims["dim_airports"].count() == 4
    # fact: BAD_DATE_ROW dropped for null date → 2 rows
    fact = star.build_fact(silver, dims["dim_airlines"], dims["dim_airports"]).collect()
    assert len(fact) == 2
    assert all(r.airline_id is not None for r in fact)
    dim_date = {r.date_id.isoformat(): r for r in dims["dim_date"].collect()}
    assert dim_date["2025-03-14"].seasonality == "Eid"
    assert dim_date["2025-03-14"].day_of_week == 4  # Friday
    assert not dim_date["2025-03-14"].is_weekend


def test_flight_id_is_the_raw_row_identity(spark):
    """Bronze rows that clean to the same silver row keep distinct
    flight_ids: NULL vs the sentinel literal in one column, and two
    spellings of an airline that differ only in case and padding."""
    base = dict(zip(star.BRONZE_COLS, GOOD_ROW.split(",")))
    schema = ", ".join(f"`{c}` string" for c in star.BRONZE_COLS)
    for pair in (({"booking_source": None}, {"booking_source": NULL_SENTINEL}),
                 ({"airline": " biman "}, {"airline": "Biman"})):
        bronze = star.with_row_hash(spark.createDataFrame(
            [tuple({**base, **v}[c] for c in star.BRONZE_COLS) for v in pair], schema))
        silver = star.clean_flights(bronze)
        dims = star.build_star_schema(silver)
        ids = [r.flight_id for r in star.build_fact(
            silver, dims["dim_airlines"], dims["dim_airports"]).select("flight_id").collect()]
        assert len(ids) == 2 and ids[0] != ids[1], pair


def test_reconciliation_gate(spark, csv_file, tmp_path):
    _, raw, bronze, silver, dims = _run_pipeline(spark, csv_file, tmp_path)
    report = reconcile(
        source_rows=raw.count(),
        deduped_rows=bronze.count(),
        staged_rows=bronze.count(),
        fact_rows=star.build_fact(silver, dims["dim_airlines"], dims["dim_airports"]).count(),
    )
    assert report.staging_ok
    # 2 of 4 deduped rows lost (bad fare, bad date) = 50% > 1% budget
    assert not report.loss_ok and not report.passed


def test_reconciliation_passes_within_budget():
    r = reconcile(source_rows=1000, deduped_rows=1000,
                  staged_rows=1000, fact_rows=995)
    assert r.loss_pct == 0.5 and r.passed
    r2 = reconcile(source_rows=1000, deduped_rows=1000,
                   staged_rows=1000, fact_rows=980)
    assert not r2.passed


def test_dropped_row_accounting_single_pass(spark, csv_file, tmp_path):
    """df.observe metrics reconcile with the actual filter effect."""
    from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import (
        run_pipeline,
    )

    report = run_pipeline(spark, csv_file, str(tmp_path / "wh"))
    assert "rows_dropped_invalid" in report
    assert report["rows_dropped_invalid"] >= 0
    # silver rows = deduped - dropped_invalid; fact may drop more (null FKs)
    silver_rows = report["deduped_rows"] - report["rows_dropped_invalid"]
    assert report["fact_rows"] <= silver_rows <= report["deduped_rows"]


def test_run_pipeline_report_and_rerun(spark, csv_file, tmp_path):
    """The full report of the 5-row fixture, and of a rerun of the same
    file into the same warehouse: nothing new is ingested, every other
    count is unchanged."""
    from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import (
        run_pipeline,
    )

    want = {
        "ingested_new_rows": 4,
        "rows_dropped_invalid": 1,
        "dims": {"dim_airlines": 3, "dim_airports": 4, "dim_date": 2},
        "source_rows": 5,
        "deduped_rows": 4,
        "staged_rows": 4,
        "fact_rows": 2,
        "staging_ok": True,
        "loss_pct": 50.0,
        "loss_ok": False,
        "passed": False,
    }
    wh = str(tmp_path / "wh")
    assert run_pipeline(spark, csv_file, wh) == want
    assert run_pipeline(spark, csv_file, wh) == {**want, "ingested_new_rows": 0}
    assert sorted(p.name for p in (tmp_path / "wh").iterdir()) == [
        "bronze_flights", "dim_airlines", "dim_airports", "dim_date", "fact_flights"]


def test_run_pipeline_runs_three_count_actions(spark, csv_file, tmp_path):
    """Only ingest's no-op guard and the two reconciliation read-backs are
    count actions; every other number rides a job that runs anyway."""
    from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import (
        run_pipeline,
    )

    _, executions = _executions_of(spark, run_pipeline, spark, csv_file, str(tmp_path / "wh"))
    counts = [e.description() for e in executions if e.description().startswith("count")]
    assert len(counts) == 3, counts


def _jobs_outside_sql(spark, fn, *args):
    """``fn(*args)`` and the ids of the Spark jobs it started that belong
    to no SQL execution (a schema-inference footer read is one)."""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()
    as_java = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    lo = sc.dagScheduler().numTotalJobs()
    out = fn(*args)
    hi = sc.dagScheduler().numTotalJobs()
    sc.listenerBus().waitUntilEmpty()
    in_sql = {int(j) for e in as_java(store.executionsList())
              for j in as_java(e.jobs().keySet())}
    return out, [j for j in range(lo, hi) if j not in in_sql]


def test_run_pipeline_starts_no_job_outside_sql(spark, csv_file, tmp_path):
    """Every table a run reads has a known schema: neither a full load nor
    a rerun starts a footer-inference job (5 and 6 on the inferring reads)."""
    from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import (
        run_pipeline,
    )

    wh = str(tmp_path / "wh")
    for _ in ("full", "rerun"):
        _, stray = _jobs_outside_sql(spark, run_pipeline, spark, csv_file, wh)
        assert stray == []
    # the declared bronze schema is the one the ingest writes
    assert spark.read.parquet(f"{wh}/bronze_flights").schema == star.BRONZE_PARQUET_SCHEMA


def test_empty_first_load_is_a_noop(spark, tmp_path):
    """A header-only CSV into an empty warehouse ingests nothing and
    writes no bronze; the run is a legitimate no-op that passes."""
    from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import (
        run_pipeline,
    )

    p = tmp_path / "empty.csv"
    p.write_text(CSV_HEADER + "\n")
    report = run_pipeline(spark, str(p), str(tmp_path / "wh"))
    assert report == {
        "ingested_new_rows": 0,
        "rows_dropped_invalid": 0,
        "dims": {"dim_airlines": 0, "dim_airports": 0, "dim_date": 0},
        "source_rows": 0,
        "deduped_rows": 0,
        "staged_rows": 0,
        "fact_rows": 0,
        "staging_ok": True,
        "loss_pct": 0.0,
        "loss_ok": True,
        "passed": True,
    }


def _blank(row: str, *fields: int) -> str:
    cells = row.split(",")
    for i in fields:
        cells[i] = ""
    return ",".join(cells)


@pytest.mark.parametrize("row, dims", [
    # clean_metrics: every bronze row fails the validity filter
    (BAD_FARE_ROW, {"dim_airlines": 0, "dim_airports": 0, "dim_date": 0}),
    # dim_airlines: no airline (the first dim written)
    (_blank(GOOD_ROW, 0), {"dim_airlines": 0, "dim_airports": 2, "dim_date": 1}),
    # dim_airports: no airport code
    (_blank(GOOD_ROW, 1, 3), {"dim_airlines": 1, "dim_airports": 0, "dim_date": 1}),
    # dim_date: no parseable departure date
    (BAD_DATE_ROW, {"dim_airlines": 1, "dim_airports": 2, "dim_date": 0}),
], ids=["clean_metrics", "dim_airlines", "dim_airports", "dim_date"])
def test_observations_report_a_stage_that_empties(spark, tmp_path, row, dims):
    """Each Observation the pipeline reads, on a one-row input that its
    stage filters to nothing (an empty source is
    ``test_empty_first_load_is_a_noop``). AQE drops a write's emptied
    shuffle stage, and the metrics observed inside it, from the plan: the
    report must still count the bronze row instead of raising."""
    from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import (
        run_pipeline,
    )

    p = tmp_path / "one.csv"
    p.write_text("\n".join([CSV_HEADER, row]) + "\n")
    assert run_pipeline(spark, str(p), str(tmp_path / "wh")) == {
        "ingested_new_rows": 1,
        "rows_dropped_invalid": int(row == BAD_FARE_ROW),
        "dims": dims,
        "source_rows": 1,
        "deduped_rows": 1,
        "staged_rows": 1,
        "fact_rows": 0,
        "staging_ok": True,
        "loss_pct": 100.0,
        "loss_ok": False,
        "passed": False,
    }


@pytest.mark.parametrize("whole_table", [False, True], ids=["one_part_file", "whole_table"])
def test_lost_bronze_heals_on_rerun(spark, csv_file, tmp_path, whole_table):
    """Bronze is its own hash ledger, so losing bronze files loses their
    hashes with them: a rerun re-ingests exactly the lost rows and reports
    what the run before the loss reported, with no row ingested twice.
    Each append writes one file, so the one-file case builds bronze from
    two appends: the fixture without SECOND_ROW, then the whole fixture."""
    import glob
    import os
    import shutil

    from airflow_project_flight_price_analysis_spark.jobs.flight_pipeline import (
        run_pipeline,
    )

    wh = tmp_path / "wh"
    bronze = str(wh / "bronze_flights")
    if whole_table:
        first = run_pipeline(spark, csv_file, str(wh))
        shutil.rmtree(bronze)
        assert run_pipeline(spark, csv_file, str(wh)) == first
        return

    partial = tmp_path / "partial.csv"
    partial.write_text("\n".join([CSV_HEADER, GOOD_ROW, DUP_ROW, BAD_FARE_ROW,
                                   BAD_DATE_ROW]) + "\n")
    run_pipeline(spark, str(partial), str(wh))
    first = run_pipeline(spark, csv_file, str(wh))
    rows = {p: spark.read.parquet(p).count()
            for p in glob.glob(os.path.join(bronze, "part-*.parquet"))}
    part, lost = max(rows.items(), key=lambda kv: kv[1])
    assert 0 < lost < first["staged_rows"], rows
    os.remove(part)
    healed = run_pipeline(spark, csv_file, str(wh))
    assert healed["ingested_new_rows"] == lost
    for k in ("staged_rows", "fact_rows", "dims"):
        assert healed[k] == first[k], k
    hashes = spark.read.parquet(bronze).groupBy("row_hash").count()
    assert hashes.count() == first["staged_rows"]
    assert hashes.where("count > 1").count() == 0


def test_append_is_one_file_and_a_rerun_writes_none(spark, csv_file, tmp_path):
    """The fixture's append lands as one part file, not one per shuffle
    partition, and a rerun with no new rows leaves bronze's files as
    they were."""
    import os

    bronze = str(tmp_path / "bronze")
    raw = read_flights_csv(spark, csv_file)
    assert star.ingest_increment(spark, raw, bronze) == 4
    files = sorted(os.listdir(bronze))
    assert len([f for f in files if f.startswith("part-")]) == 1, files
    assert star.ingest_increment(spark, raw, bronze) == 0
    assert sorted(os.listdir(bronze)) == files


def test_ingest_surfaces_corrupt_bronze(spark, csv_file, tmp_path):
    """Only a missing bronze path means 'first run'; a corrupt bronze file
    must raise, not silently re-ingest everything as if bronze were empty."""
    import glob
    import os

    bronze = str(tmp_path / "bronze")
    raw = read_flights_csv(spark, csv_file)
    assert star.ingest_increment(spark, raw, bronze) == 4
    part = sorted(glob.glob(os.path.join(bronze, "part-*.parquet")))[0]
    with open(part, "w") as f:
        f.write("this is not parquet")
    with pytest.raises(Exception):
        star.ingest_increment(spark, raw, bronze)


@pytest.mark.parametrize("old_part", ["part-00000-0.snappy.parquet",
                                      "part-99999-z.snappy.parquet"],
                         ids=["sorts_first", "sorts_last"])
def test_bronze_part_without_hash_fails_loud(spark, csv_file, tmp_path, old_part):
    """One part file written before bronze kept ``row_hash``, beside
    current ones: whichever footer a reader looks at, the ingest must
    fail instead of re-ingesting the old file's rows as new."""
    import glob
    import os

    from pyspark.sql import functions as F

    bronze = str(tmp_path / "bronze")
    assert star.ingest_increment(spark, read_flights_csv(spark, csv_file), bronze) == 4
    extra_row = SECOND_ROW.replace("ZYL", "SPD")
    extra = tmp_path / "extra.csv"
    extra.write_text("\n".join([CSV_HEADER, extra_row]) + "\n")
    old = str(tmp_path / "old")
    (read_flights_csv(spark, str(extra)).withColumn("load_timestamp", F.current_timestamp())
     .coalesce(1).write.parquet(old))
    os.rename(glob.glob(f"{old}/part-*.parquet")[0], os.path.join(bronze, old_part))
    with open(csv_file, "a") as f:
        f.write(extra_row + "\n")
    with pytest.raises(Exception, match="schema drift"):
        star.ingest_increment(spark, read_flights_csv(spark, csv_file), bronze)


def test_ingest_reads_only_bronze_hashes(spark, csv_file, tmp_path):
    """The anti-join prunes the bronze scan to its ``row_hash`` column."""
    bronze = str(tmp_path / "bronze")
    raw = read_flights_csv(spark, csv_file)
    star.ingest_increment(spark, raw, bronze)

    n_new, executions = _executions_of(spark, star.ingest_increment, spark, raw, bronze)
    assert n_new == 0
    # the formatted plan details each operator in its own block
    scans = [block for e in executions for block in e.physicalPlanDescription().split("\n\n")
             if ") Scan parquet" in block.split("\n")[0]]
    assert scans
    assert all("ReadSchema: struct<row_hash:string>" in b for b in scans), scans


def test_jdbc_wrappers_contract(spark):
    """No DB (or JDBC driver) ships in this environment. Pin the API
    contract: missing partition bounds raise ValueError before any remote
    call; with bounds, the failure is at the JDBC layer (driver/connect —
    schema resolution is eager for JDBC), proving the options are wired
    through to the datasource."""
    import pytest as _pytest

    from airflow_project_flight_price_analysis_spark.sources.jdbc import read_jdbc

    with _pytest.raises(ValueError):
        read_jdbc(spark, "jdbc:postgresql://example.invalid/x", "t",
                  partition_column="id")
    with _pytest.raises(Exception) as ei:
        read_jdbc(
            spark, "jdbc:postgresql://example.invalid:5432/x", "analytics.fact",
            partition_column="id", lower_bound=0, upper_bound=1000,
            num_partitions=4,
        )
    assert "driver" in str(ei.value).lower() or "connect" in str(ei.value).lower()


def test_reordered_csv_header_fails_loudly(spark, tmp_path):
    """enforceSchema=false: a vendor reordering columns must fail the
    read, not silently swap source/destination through the pipeline."""
    import pytest

    from airflow_project_flight_price_analysis_spark.sources.flights_csv import (
        RENAME_MAP,
        read_flights_csv,
    )

    cols = list(RENAME_MAP)
    swapped = cols.copy()
    i, j = cols.index("Source"), cols.index("Destination")
    swapped[i], swapped[j] = swapped[j], swapped[i]
    p = tmp_path / "swapped.csv"
    p.write_text(",".join(f'"{c}"' for c in swapped) + "\n"
                 + ",".join(["x"] * len(cols)) + "\n")
    with pytest.raises(Exception, match="(?i)header|schema"):
        read_flights_csv(spark, str(p)).collect()


def test_reconcile_fails_closed_on_inflation_and_phantoms():
    """r7 review: the gate must fail CLOSED in both directions — row
    inflation (negative loss) and phantom fact rows over an empty
    source both fail; the report's loss_ok agrees with its own rounded
    loss_pct."""
    from airflow_project_flight_price_analysis_spark.validation import (
        reconcile,
    )

    # dim-fanout inflation: MORE fact rows than deduped source
    r = reconcile(1000, 1000, 1000, 1100)
    assert r.loss_pct < 0 and not r.loss_ok and not r.passed
    # phantom fact rows under an empty source
    r = reconcile(1000, 0, 0, 500)
    assert not r.passed
    # legitimate empty no-op run still passes
    r = reconcile(0, 0, 0, 0)
    assert r.passed
    # rounded-value consistency: loss_ok computed on the REPORTED value
    r = reconcile(10_000_000, 10_000_000, 10_000_000, 9_899_996)
    assert r.loss_pct == 1.0 and r.loss_ok
