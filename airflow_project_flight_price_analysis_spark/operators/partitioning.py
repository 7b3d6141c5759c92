"""Salt-based skew mitigation for aggregations at 100 TB scale.

The reference runs single-process pandas and has no notion of data layout
(SURVEY.md §4). A skewed key (one airline with 40% of bookings; one hot
route) makes one reducer the straggler. `salted_agg` does the classic
two-phase aggregate: partial per (key, salt) → final per key; legal for
any algebraic aggregate (sum/count/min/max — avg decomposes into
sum+count). AQE's skew-join splitting (session.py enables AQE) cannot
reach a skewed *aggregation* key; the salted join twin is
``operators/skew.py::salted_equi_join``.

Salts are deterministic (hash of a unique column, not ``rand()``), so
re-runs and retried tasks produce identical partitions — nondeterministic
salting breaks task-retry idempotency under Spark's recompute-on-failure
model.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt(col: Column, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts) from a (unique-ish) column."""
    return F.pmod(F.xxhash64(col), F.lit(n_salts)).cast("int")


def salted_agg(df: DataFrame, group_key: str, salt_source: str,
               aggs: dict[str, str], n_salts: int = 16) -> DataFrame:
    """Two-phase skew-proof aggregation: partial aggregate per
    (group_key, salt), then final per group_key.

    ``aggs`` maps output column → one of sum/count/min/max (the algebraic
    aggregates that re-combine losslessly; count re-combines via sum).
    """
    partial_exprs, final_exprs = [], []
    for out, kind in aggs.items():
        if kind == "count":
            partial_exprs.append(F.count("*").alias(out))
            final_exprs.append(F.sum(out).alias(out))
        elif kind in ("sum", "min", "max"):
            fn = getattr(F, kind)
            partial_exprs.append(fn(out).alias(out))
            final_exprs.append(fn(out).alias(out))
        else:
            raise ValueError(f"non-algebraic aggregate {kind!r}")
    return (
        df.withColumn("__salt", _salt(F.col(salt_source), n_salts))
        .groupBy(group_key, "__salt")
        .agg(*partial_exprs)
        .groupBy(group_key)
        .agg(*final_exprs)
    )

