"""Time-range join without a range explosion — the q35 banding rewrite
(plans/temporal.py) as a reusable operator, property-tested against a
brute-force inequality join on arbitrary generated event sets. (The
as-of join lives in q32 as a fused single-scan window.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def banded_range_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    *,
    lower_seconds: float,
    upper_seconds: float,
) -> DataFrame:
    """Time-range inner join without a range explosion: pairs every left row
    with the right rows of the same key whose timestamp lies in
    ``[left_ts + lower, left_ts + upper]`` (inclusive bounds; use a
    negative ``lower_seconds`` for look-back). The q35 banding rewrite,
    generalized:

    bucket the time axis at the band width; a qualifying right row can
    only fall in one of ceil(span/width)+1 consecutive buckets relative
    to the left row's, so exploding each LEFT row to those bucket keys
    turns the inequality join into an equi-join on (key, bucket) plus a
    residual BETWEEN filter. Each qualifying pair meets in exactly one
    bucket — no post-dedup. Shuffle key is (key, bucket): pair space is
    bounded by per-bucket population, never O(n²) — the same blocking
    idea as LSH banding.
    """
    if upper_seconds < lower_seconds:
        raise ValueError("upper_seconds must be >= lower_seconds")
    # key_cols may (and usually do) exist on both sides — right keys are
    # renamed to reserved __rk_* names below. Any OTHER shared name
    # (including right_ts == left_ts) would make the delta expression and
    # the output columns ambiguous, so fail fast instead of silently
    # mis-resolving.
    collide = sorted(
        (set(right.columns) - set(key_cols)) & set(left.columns)
    )
    if collide:
        raise ValueError(
            "banded_range_join: left/right share non-key column names "
            f"{collide!r}; rename the right side before joining"
        )
    # width floor 1.0 SECOND, not an epsilon: with width=1e-9 the
    # bucket ids reach epoch/1e-9 ~ 1.7e18, far beyond double's 2^53
    # integer precision, so equal offsets could land in different
    # rounding-artifact buckets and exact matches would silently drop.
    # The 2-bucket cover proof only needs width >= span, which a 1 s
    # floor preserves for any lower==upper (exact-offset) join.
    width = max(upper_seconds - lower_seconds, 1.0)
    n_buckets = 2  # span == width -> a right row lands in bucket(l+lower)
    #               or the one above (inclusive upper edge)
    lb = F.floor(
        (F.col(left_ts).cast("double") + lower_seconds) / F.lit(width)
    )
    l_exp = left.withColumn(
        "__bucket",
        F.explode(F.array(*[lb + i for i in range(n_buckets)])),
    )
    # right keys ride under reserved names so the equi-join never
    # collides with (or is ambiguous against) same-named left columns
    r_keyed = right.select(
        *[F.col(k).alias(f"__rk_{i}") for i, k in enumerate(key_cols)],
        *[F.col(c) for c in right.columns if c not in key_cols],
    ).withColumn(
        "__bucket", F.floor(F.col(right_ts).cast("double") / F.lit(width))
    )
    delta = F.col(right_ts).cast("double") - F.col(left_ts).cast("double")
    cond = (
        (delta >= lower_seconds)
        & (delta <= upper_seconds)
        & (l_exp["__bucket"] == r_keyed["__bucket"])
    )
    for i, k in enumerate(key_cols):
        cond = cond & (l_exp[k] == r_keyed[f"__rk_{i}"])
    return l_exp.join(r_keyed, cond, "inner").drop(
        "__bucket", *[f"__rk_{i}" for i in range(len(key_cols))]
    )
