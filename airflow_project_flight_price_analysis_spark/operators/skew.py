"""Skew-mitigating join operator.

Reusable core of q48's salted large-large inner join
(plans/relational.py): the manual fallback for key skew that AQE's
skew-join splitting can't reach (a skewed key feeding a follow-on
aggregation, or a non-sort-merge join). Every key is salted, so the
build side is replicated ``buckets`` ways in full. Result-identical to
the plain inner join — property-tested against it on generated skewed
data (tests/test_properties.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_equi_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    *,
    buckets: int = 8,
) -> DataFrame:
    """Inner equi-join with the probe side salted and the build side
    replicated ``buckets`` ways, splitting any hot key across
    ``buckets`` reducers.

    The probe salt is a deterministic hash of the probe row's key plus a
    uniformizer column set (all probe columns), so the rewrite is a pure
    function of the data — re-runs and the unsalted join agree exactly.
    """
    p = probe.withColumn(
        "__salt", F.pmod(F.xxhash64(*probe.columns), F.lit(buckets)).cast("int")
    )
    b = build.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    joined = p.join(
        b,
        (p[probe_key] == b[build_key]) & (p["__salt"] == b["__salt"]),
        "inner",
    )
    return joined.drop("__salt")
