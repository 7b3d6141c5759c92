"""Skew-mitigating join operators.

Reusable core of q48's salted large-large join (plans/relational.py):
the manual fallback for key skew that AQE's skew-join splitting can't
reach (a skewed key feeding a follow-on aggregation, or a non-sort-merge
join). Result-identical to the plain join — property-tested against it
on generated skewed data (tests/test_properties.py).
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
    how: str = "inner",
    hot_keys: DataFrame | None = None,
) -> DataFrame:
    """Equi-join with the probe side salted and the build side
    replicated ``buckets`` ways, splitting any hot key across
    ``buckets`` reducers. ``how`` may be ``inner`` or ``left`` (probe
    rows are never duplicated; build-side-preserving joins would be —
    guarded).

    With ``hot_keys`` (a one-column DataFrame of ``build_key`` values,
    e.g. from a heavy-hitter count), only rows whose key is hot are
    salted and the build side is replicated ONLY for hot keys — the
    100 TB form: replication cost proportional to the hot set, not the
    build table. ``hot_keys`` must be broadcast-small.

    The probe salt is a deterministic hash of the probe row's key plus a
    uniformizer column set (all probe columns), so the rewrite is a pure
    function of the data — re-runs and the unsalted join agree exactly.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_equi_join preserves the probe side only; how={how!r} "
            "would duplicate build rows across salt replicas"
        )
    salt = F.pmod(F.xxhash64(*probe.columns), F.lit(buckets)).cast("int")
    replicas = F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))

    if hot_keys is None:
        p = probe.withColumn("__salt", salt)
        b = build.withColumn("__salt", replicas)
        joined = p.join(
            b,
            (p[probe_key] == b[build_key]) & (p["__salt"] == b["__salt"]),
            how,
        )
        return joined.drop("__salt")

    # distinct FIRST: a duplicated value in hot_keys (e.g. two unioned
    # heavy-hitter passes) would multiply every flagged probe AND build
    # row through the left joins, breaking the result-identical-to-
    # plain-join contract (r7 review)
    hot = F.broadcast(
        hot_keys.toDF("__hot_key").distinct().withColumn("__is_hot", F.lit(1))
    )
    p_flagged = probe.join(
        hot, probe[probe_key] == hot["__hot_key"], "left"
    ).drop("__hot_key")
    b_flagged = build.join(
        hot, build[build_key] == hot["__hot_key"], "left"
    ).drop("__hot_key")
    # hot rows: salted probe x replicated build; cold rows: plain join —
    # the salt column is 0 for cold rows on both sides, so ONE join
    # expression serves both partitions with no union of joins.
    p = p_flagged.withColumn(
        "__salt", F.when(F.col("__is_hot").isNotNull(), salt).otherwise(0)
    ).drop("__is_hot")
    # replication fan-out is data-dependent: hot build rows explode to
    # ``buckets`` replicas, cold rows to exactly one (a generator can't
    # sit inside when/otherwise, but its sequence BOUND can)
    b = b_flagged.withColumn(
        "__salt",
        F.explode(
            F.sequence(
                F.lit(0),
                F.when(
                    F.col("__is_hot").isNotNull(), F.lit(buckets - 1)
                ).otherwise(F.lit(0)),
            )
        ),
    ).drop("__is_hot")
    joined = p.join(
        b,
        (p[probe_key] == b[build_key]) & (p["__salt"] == b["__salt"]),
        how,
    )
    return joined.drop("__salt")

