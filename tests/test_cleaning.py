"""Dirty-data matrix (FIXTURES.md §5) — each case pins one defensive
behavior whose spec is the reference's code."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from airflow_project_flight_price_analysis_spark.functions.cleaning import (
    coerce_money_expr,
    is_weekend_expr,
    parse_stopovers_expr,
    row_hash_expr,
    surrogate_key_expr,
    weekday_expr,
)


def test_stopovers_variants(spark):
    # transformation.py:14-24
    cases = ["Direct", "non-stop", "NON-STOP ", "1 Stop", "3 stops",
             "lots of stops", "", None]
    expected = [0, 0, 0, 1, 3, 0, 0, 0]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = [r[0] for r in df.select(parse_stopovers_expr("s")).collect()]
    assert got == expected


def test_numeric_coercion(spark):
    # transformation.py:65-69 — coerce→0, round half-up (engine-pinned)
    cases = ["abc", "", None, "-5", "12.345"]
    expected = [0.0, 0.0, 0.0, -5.0, 12.35]  # Spark round = half-up
    df = spark.createDataFrame([(c,) for c in cases], "m string")
    got = [r[0] for r in df.select(coerce_money_expr("m")).collect()]
    assert got == expected


def test_weekday_monday_zero(spark):
    # transformation.py:97-98 — pandas dt.dayofweek semantics (Mon=0)
    df = spark.createDataFrame(
        [("2026-08-10",), ("2026-08-14",), ("2026-08-15",), ("2026-08-16",)],
        "d string",
    ).select(F.to_date("d").alias("d"))
    rows = df.select(weekday_expr("d").alias("w"),
                     is_weekend_expr("d").alias("we")).collect()
    assert [(r.w, r.we) for r in rows] == [
        (0, False), (4, False), (5, True), (6, True)
    ]


def test_row_hash_null_vs_empty(spark):
    # NULL and '' must hash differently (sentinel), and hashing is
    # deterministic across rows with equal content
    df = spark.createDataFrame(
        [Row(a=None, b="x"), Row(a="", b="x"), Row(a="", b="x")]
    )
    h = df.select(row_hash_expr(["a", "b"]).alias("h")).collect()
    assert h[0].h != h[1].h
    assert h[1].h == h[2].h


def test_surrogate_key_stable_and_distinct(spark):
    df = spark.createDataFrame(
        [("AirAlpha",), ("AirBeta",), ("AirAlpha",)], "name string"
    )
    keys = df.select(surrogate_key_expr("name").alias("k")).collect()
    assert keys[0].k == keys[2].k
    assert keys[0].k != keys[1].k


def test_stopovers_int_overflow_is_zero_not_null(spark):
    """Documented contract: garbage → 0. A digit run that overflows int
    used to come back NULL through try_cast."""
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.functions.cleaning import (
        parse_stopovers_expr,
    )

    df = spark.createDataFrame(
        [("99999999999 stops",), ("2 stops",), ("Direct",)], "s string")
    got = [r[0] for r in
           df.select(parse_stopovers_expr(F.col("s"))).collect()]
    assert got == [0, 2, 0]


def test_pii_email_redaction_is_case_insensitive(spark):
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.functions.text import (
        pii_redact_expr,
    )

    df = spark.createDataFrame(
        [("Contact John.Doe@Corp.COM today",)], "text string")
    out = df.select(pii_redact_expr("text").alias("t")).collect()[0].t
    assert "Corp.COM" not in out and "<EMAIL>" in out


def test_row_hash_null_vs_sentinel_literal(spark):
    """v3 (r7 review): a genuine value equal to the old NULL sentinel
    must NOT hash like NULL — the n/v tag lives outside the value
    alphabet, so no value can imitate NULL."""
    from airflow_project_flight_price_analysis_spark.functions.cleaning import (
        NULL_SENTINEL,
        ROW_HASH_VERSION,
    )

    assert ROW_HASH_VERSION == 3
    df = spark.createDataFrame(
        [(NULL_SENTINEL, "x"), (None, "x")], "a string, b string"
    )
    hashes = [r.h for r in
              df.select(row_hash_expr(["a", "b"]).alias("h")).collect()]
    assert hashes[0] != hashes[1]


#: Hash values recorded from the per-column builder that preceded the
#: one-expression one: the persisted ledger (bronze's ``row_hash``, from
#: which the fact's ``flight_id`` derives) must not move without a
#: ``ROW_HASH_VERSION`` bump. Rows over the 17 bronze columns, then
#: row_hash.
_S = "␀"
GOLDEN_BRONZE = [
    ([None] * 17,
     "4f06dc57ec76191059cc120929e2bcf7"),
    ([""] * 17,
     "c54231cea208075d32325f6790730d00"),
    ([_S] * 17,
     "d225f564b7a663dbabae554c95ee4a79"),
    (["x|y", "z"] + [None] * 15,
     "ae6ca9d35a491a640c59117ecdcb339a"),
    (["x", "y|z"] + [None] * 15,
     "cbd0c6ce4e1936adb1d6b54d6d7d1cef"),
    (["a|", "|b", "", _S, None, "v1:", "n", "|", "||"] + [""] * 8,
     "9fc81cc5c32f72115441d44fb1af6dea"),
    ([f"val{i}" for i in range(17)],
     "1f2df523cc65a6ec5b5da97ee26a646a"),
]
#: a column whose name holds a backtick, beside a plain one
GOLDEN_BACKTICK = [
    (("p", "q"), "57e2dcc8dd70ffad02b9fae351f5085b"),
    ((None, "a`b"), "04a617607c0864c024160b81f6e9e3db"),
    (("", _S), "477b5cd2afc1ff0a9ad8dcb5b0e5b185"),
]


def test_hash_builders_match_golden_values(spark):
    """NULLs, empty strings, the sentinel and ``|`` inside values, a
    backtick inside a column name, and the empty column list all hash as
    the recorded values; the encoding version is unchanged."""
    from airflow_project_flight_price_analysis_spark.functions.cleaning import (
        ROW_HASH_VERSION,
    )
    from airflow_project_flight_price_analysis_spark.operators.star import BRONZE_COLS

    assert ROW_HASH_VERSION == 3
    df = spark.createDataFrame([tuple(vals) for vals, _ in GOLDEN_BRONZE],
                               ", ".join(f"`{c}` string" for c in BRONZE_COLS))
    got = df.select(row_hash_expr(BRONZE_COLS).alias("h")).collect()
    assert [r.h for r in got] == [h for _, h in GOLDEN_BRONZE]

    bt = spark.createDataFrame([vals for vals, _ in GOLDEN_BACKTICK],
                               "`a``b` string, c string")
    got = bt.select(row_hash_expr(["a`b", "c"]).alias("h"),
                    row_hash_expr([]).alias("empty")).collect()
    assert [r.h for r in got] == [h for _, h in GOLDEN_BACKTICK]
    # md5('') — the empty column list still hashes concat_ws('|') alone
    assert {r.empty for r in got} == {"d41d8cd98f00b204e9800998ecf8427e"}
