"""Cleaning / expression library — SURVEY.md §2.2 P4-P15.

Every function here returns a Catalyst Column expression (never a Python
UDF): the hot path stays inside whole-stage codegen, vectorized on the JVM.
The reference implements these as row-at-a-time pandas operations; each
docstring cites the reference site whose semantics the expression pins.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NULL_SENTINEL = "␀"  # ␀ — distinguishes NULL from empty string in hashes

#: Version of the ``row_hash_expr`` encoding. v1 was plain
#: ``concat_ws('|', ...)``; v2 added the injective length prefix; v3
#: tags NULL outside the value alphabet (``n`` vs ``v<len>:<value>`` —
#: v2 encoded NULL as the literal sentinel character, so a real value
#: equal to the sentinel hashed identically to NULL and the dedup
#: consumers would silently merge the two rows). Every version bump
#: CHANGES EVERY HASH VALUE — bronze's ``row_hash`` column (the flight
#: pipeline's dedup ledger) or an exact-dedup artifact persisted by an
#: older build stops matching, and the next incremental run re-ingests
#: the whole history as "new" exactly once. Deployments upgrading over
#: existing state must either rebuild bronze's hashes once or stamp
#: bronze rows with this constant (a ``hash_version`` column) and
#: re-hash the old cohort; ``operators/star.py::dedup_against_ledger``
#: consumes these hashes.
ROW_HASH_VERSION = 3


def _quoted(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier: the whole string is
    one column name, backticks inside it doubled."""
    return "`" + name.replace("`", "``") + "`"


def row_hash_expr(cols: list[str]) -> Column:
    """Deterministic content hash of a row (reference: MD5 over the
    stringified value tuple, row-at-a-time — ``dags/tasks/ingestion.py:69``).

    Vectorized: ``md5(concat_ws('|', part...))`` where a part is
    ``v<len>:<value>`` for non-null values and the bare tag ``n`` for
    NULL. Two injectivity hazards are closed by construction:

    - separator injection: plain ``concat_ws('|')`` lets ('x|y','z')
      and ('x','y|z') collide; the length prefix disambiguates;
    - NULL/sentinel ambiguity (v3, r7 review): v2 encoded NULL as a
      literal sentinel CHARACTER, so a genuine value equal to the
      sentinel hashed identically to NULL and dedup consumers silently
      merged the rows. The ``n``/``v`` tag lives outside the value
      alphabet — no value can imitate NULL.

    ``cols`` are column names, each taken whole (a name containing a dot
    or a backtick is one column); cast or derive a value in a ``select``
    first. The tree is built as one parsed expression: one py4j call
    instead of about ten per column (155 ms for the 17 bronze columns).

    FORMAT BREAK: see ``ROW_HASH_VERSION`` for the
    upgrade-over-persisted-ledger implications.
    """
    parts = []
    for c in cols:
        s = f"cast({_quoted(c)} as string)"
        parts.append(f"CASE WHEN {s} IS NULL THEN 'n' "
                     f"ELSE concat('v', cast(length({s}) as string), ':', {s}) END")
    return F.expr("md5(concat_ws(" + ", ".join(["'|'", *parts]) + "))")


def surrogate_key_expr(natural_key_col: str) -> Column:
    """Distributed surrogate key replacing SERIAL (SURVEY §7.4 decision (c)).

    ``xxhash64(natural key)``: stable across runs, re-derivable without a
    join, no global sequence bottleneck (``monotonically_increasing_id`` is
    unstable; ``row_number()`` over a global order is a single-partition
    shuffle at 100 TB). Reference: ``scripts/init_postgres.sql:5,10,27``.
    Built as one parsed expression over the whole column name, as
    ``row_hash_expr`` is; a NULL key hashes as the sentinel.
    """
    return F.expr(f"xxhash64(coalesce(cast({_quoted(natural_key_col)} as string), "
                  f"'{NULL_SENTINEL}'))")


def clean_text_expr(col: Column | str) -> Column:
    """String standardization: trim + title-case
    (``dags/tasks/transformation.py:56-59``: ``.str.strip().str.title()``).

    Divergence (documented, SURVEY P5): pandas ``.str.title()`` capitalizes
    after any non-letter (``Cox'S Bazar``); Spark ``initcap`` splits on
    whitespace only (``Cox's Bazar``). The engine standardizes on
    initcap.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.initcap(F.trim(c))


def parse_stopovers_expr(col: Column | str) -> Column:
    """Stopovers parser (``dags/tasks/transformation.py:14-24``):
    'Direct'/'non-stop' → 0; any string with digits → first digit run;
    garbage/empty/null → 0 — including an int-OVERFLOWING digit run
    (try_cast returns NULL there; coalescing keeps the documented
    garbage→0 contract instead of leaking a NULL into the fact table).
    Pure Catalyst: when/rlike/regexp_extract.
    """
    c = F.col(col) if isinstance(col, str) else col
    lc = F.lower(F.trim(c))
    digits = F.regexp_extract(lc, r"(\d+)", 1)
    return (
        F.when(lc.isNull(), F.lit(0))
        .when(lc.rlike(r"^(direct|non[- ]?stop)$"), F.lit(0))
        .when(digits != "", F.coalesce(digits.try_cast("int"), F.lit(0)))
        .otherwise(F.lit(0))
        .alias("stopovers")
    )


def coerce_money_expr(col: Column | str, scale: int = 2) -> Column:
    """Numeric coercion (``dags/tasks/transformation.py:65-72``):
    ``pd.to_numeric(errors='coerce').fillna(0).round(scale)`` →
    ``round(coalesce(try_cast(c as double), 0.0), scale)``.

    ``try_cast`` (not ``cast``): Spark 4 defaults to ANSI mode, where a
    malformed cast throws — coerce-to-null is the reference's contract.
    Note: pandas ``round`` is half-even, Spark ``round`` is half-up; the
    engine pins half-up (FIXTURES.md §5 'numeric coercion').
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.coalesce(c.try_cast("double"), F.lit(0.0)), scale)


def weekday_expr(date_col: Column | str) -> Column:
    """Day-of-week, Monday=0 — matches pandas ``dt.dayofweek``
    (``dags/tasks/transformation.py:97``). Uses Spark ``weekday()``; the
    naive ``dayofweek()`` is Sunday=1 and would be off by a rotation.
    """
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    return F.weekday(c)


def is_weekend_expr(date_col: Column | str) -> Column:
    """Weekend flag: pandas Sat=5/Sun=6 → ``weekday >= 5``
    (``dags/tasks/transformation.py:98``)."""
    return weekday_expr(date_col) >= 5


def date_parts(date_col: Column | str) -> dict[str, Column]:
    """Calendar attributes for dim_date (``dags/tasks/transformation.py:93-98``,
    ``scripts/init_postgres.sql:15-24``)."""
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    return {
        "year": F.year(c),
        "month": F.month(c),
        "day": F.dayofmonth(c),
        "quarter": F.quarter(c),
        "day_of_week": weekday_expr(c),
        "is_weekend": is_weekend_expr(c),
    }
