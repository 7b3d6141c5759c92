"""Cardinality / distribution profiling (SURVEY.md §2.9 X6).

At 100 TB exact COUNT(DISTINCT) is a full shuffle of the key space; the
approximate sketches (HyperLogLog++ via ``approx_count_distinct``,
KLL/GK via ``percentile_approx``) are one-pass, mergeable, and
bounded-memory — the right default. Sketch outputs aren't
oracle-comparable (driver records a rows-only check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# Count-min sketch: mergeable heavy-hitter / frequency estimation
# --------------------------------------------------------------------------
# The third mergeable sketch next to HLL (distinct counts, x12/x57) and
# KLL (quantiles, x12): bounded-memory per-key frequency estimation.
# Buckets derive from md5 (the content_hash64 / x106 technique), NOT
# xxhash64, so any engine with md5 can replay the whole sketch —
# bucket assignment, counter table, and estimates are all exactly
# cross-engine reproducible, which is what lets the x120 face certify
# the never-underestimate law value-for-value in DuckDB.

def cms_buckets(key, depth: int, width: int) -> list:
    """The ``depth`` counter buckets for ``key``. For depth ≤ 4 all
    lanes come from ONE md5 digest — 32 hex chars sliced into four
    8-hex (32-bit) lanes, each reduced mod ``width`` — so the build
    side pays one digest per row instead of ``depth`` (the sketch
    build is the per-row × corpus hot path at 100 TB; interleaved A/B
    at sf0.1: seeded 3.35 s vs lane 2.62 s build, ~22% off). Beyond 4
    lanes, each extra row falls back to
    its own seeded digest (``"i:key"``). Power-of-two widths divide
    2^32 exactly, so lanes carry zero modulo bias. NULL keys bucket
    via concat_ws's NULL-skip / coalesce (deterministic, same in
    DuckDB)."""
    safe = F.coalesce(key.cast("string"), F.lit(""))
    digest = F.md5(safe)
    out = []
    for i in range(depth):
        if i < 4:
            h = F.conv(
                F.substring(digest, 8 * i + 1, 8), 16, 10).cast("long")
        else:
            h = F.conv(F.substring(F.md5(F.concat_ws(
                ":", F.lit(str(i)), safe)), 1, 15), 16, 10).cast("long")
        out.append((h % width).cast("int"))
    return out


def count_min_sketch_table(df: DataFrame, key_col: str,
                           depth: int = 4, width: int = 256) -> DataFrame:
    """The CMS counter table as a DataFrame: ``(i, b, cnt)`` with one
    row per non-empty counter (≤ depth·width rows TOTAL, regardless of
    input size — that bound is the whole point). One scan, one shuffle
    whose volume is capped at depth·width rows per upstream partition
    by partial aggregation. Mergeable: sketches of two corpora merge by
    ``union → groupBy(i, b) → sum(cnt)`` (counter-wise addition), the
    x54/x57 merge-algebra story for frequencies."""
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    return (
        df.select(F.explode(F.array(*[
            F.struct(F.lit(i).alias("i"), b.alias("b"))
            for i, b in enumerate(cms_buckets(F.col(key_col), depth, width))
        ])).alias("ib"))
        .groupBy(F.col("ib.i").alias("i"), F.col("ib.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_estimates(keys: DataFrame, sketch: DataFrame, key_col: str,
                        depth: int = 4, width: int = 256) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: appends
    ``cms_est = min_i counter[i][bucket_i(key)]`` (0 for a key whose
    bucket was never touched). ONE bounded broadcast — the
    ≤ depth·width-row counter table pivots into a single-row map keyed
    by ``i·width + b`` (a keys=[] aggregate, so the build side is
    one row by construction) and every lane probes that one map column
    via ``element_at`` — ZERO shuffles and a single broadcast barrier,
    so probing scales to any key-table size. (r13 verdict item 5: the
    previous form built depth separate filtered broadcasts, serializing
    4 broadcast-build barriers per probe site for identical values —
    A/B'd at sf0.1: never slower, ~3 fewer jobs.) depth/width must
    match the sketch's build parameters (a mismatched probe reads the
    wrong counters)."""
    m = sketch.groupBy().agg(
        F.map_from_entries(F.collect_list(F.struct(
            (F.col("i").cast("long") * width + F.col("b")).alias("key"),
            F.col("cnt").alias("value"),
        ))).alias("__cms_m"))
    buckets = cms_buckets(F.col(key_col), depth, width)
    cols = [
        F.coalesce(
            F.element_at(F.col("__cms_m"),
                         (F.lit(i) * width + buckets[i]).cast("long")),
            F.lit(0))
        for i in range(depth)
    ]
    est = cols[0] if depth == 1 else F.least(*cols)
    return (keys.crossJoin(F.broadcast(m))
            .withColumn("cms_est", est).drop("__cms_m"))


# --------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k) sketch: mergeable distinct counting
# --------------------------------------------------------------------------
# The fourth mergeable sketch (HLL x12/x57, KLL x12, count-min x120):
# keep the k SMALLEST distinct hash values of a key; the kth minimum
# estimates cardinality as (k-1)/U_k where U_k is the kth min mapped to
# (0,1). Like the count-min table (and unlike HLL's opaque binary), the
# whole sketch is md5-derived rows, so bucket-for-bucket it replays in
# any engine with md5 — bottom-k membership, the kth minimum, and the
# estimate all value-certify in DuckDB. Merge law: the bottom-k of a
# union IS the bottom-k of the concatenated member sketches (each
# member keeps ALL its values below its own kth min, so no global
# bottom-k element can be missing) — union → re-bottom-k, the x54/x57
# merge algebra for distinct counts.

#: 16^15 = 2^60: the hash domain — 15 hex chars of md5 parsed as an
#: integer, small enough to stay exact in a signed 64-bit long AND in
#: a double's 53-bit... no: 2^60 > 2^53, so estimate arithmetic keeps
#: the RATIO in doubles only after an exact integer compare; see
#: kmv_estimate.
_KMV_DOMAIN = 16 ** 15


def kmv_hash(key) -> "F.Column":
    """The 60-bit sketch hash: first 15 hex chars of md5(key) as a
    long. NULL keys hash via the same coalesce-to-'' convention as
    cms_buckets, so NULL occupies one deterministic slot."""
    return F.conv(
        F.substring(F.md5(F.coalesce(key.cast("string"), F.lit(""))), 1, 15),
        16, 10,
    ).cast("long")


def kmv_sketch_table(df: DataFrame, key_col: str, k: int = 256,
                     prefilter_denom: int | None = None) -> DataFrame:
    """The KMV sketch as a DataFrame: the ``k`` smallest DISTINCT hash
    values, one column ``h``, ≤ k rows.

    Scale shape: ``distinct → orderBy → limit k`` compiles to a partial
    (map-side) hash aggregate — each upstream partition forwards only
    its own distinct hashes — followed by TakeOrdered's per-partition
    top-k merge; nothing after the scan exceeds the distinct set, and
    with ``prefilter_denom`` set nothing exceeds ~distinct/denom: only
    hashes below ``2^60/denom`` can reach the sketch, and the filter is
    an integer compare PUSHED INTO THE SCAN projection, so at 100 TB
    the shuffle carries the sampled fraction, not the key space. The
    prefilter is SELF-CERTIFYING: every true bottom-k member is below
    any threshold that leaves ≥ k survivors, so a sketch that still
    has k rows is exactly the unfiltered sketch (callers needing the
    estimate must check ``count == k`` — kmv_estimate does); a tighter
    threshold can only SHRINK the table below k rows, never corrupt
    it. Pick denom from a coarse lower bound on cardinality
    (denom ≤ n_min/(2k) leaves ~2k expected survivors).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if prefilter_denom is not None and prefilter_denom < 1:
        raise ValueError(
            f"prefilter_denom must be >= 1, got {prefilter_denom}")
    hashes = df.select(kmv_hash(F.col(key_col)).alias("h"))
    if prefilter_denom is not None:
        hashes = hashes.filter(F.col("h") < F.lit(_KMV_DOMAIN // prefilter_denom))
    return hashes.distinct().orderBy("h").limit(k)


def kmv_estimate(sketch: DataFrame, k: int) -> DataFrame:
    """One-row estimate from a sketch table: ``n_sketch`` (must equal
    ``k`` for the estimate to be meaningful — fewer rows means the
    corpus, or a prefilter, ran out of values and ``kmv_est`` falls
    back to the exact survivor count), ``kth_min`` (the raw kth
    minimum hash — the value the gate certifies), and ``kmv_est =
    floor((k-1) · 2^60 / kth_min)``. The ratio is computed in doubles
    (single multiply, single divide, floor — one IEEE rounding each,
    so DuckDB replays bit-for-bit) and floored to an integer."""
    return sketch.agg(
        F.count(F.lit(1)).alias("n_sketch"),
        F.max("h").alias("kth_min"),
    ).select(
        "n_sketch",
        "kth_min",
        F.when(
            F.col("n_sketch") < k, F.col("n_sketch").cast("long")
        ).otherwise(
            F.floor(
                F.lit(float(k - 1)) * F.lit(float(_KMV_DOMAIN))
                / F.col("kth_min").cast("double")
            )
        ).cast("long").alias("kmv_est"),
    )


def kmv_sketch_by_group(df: DataFrame, group_col: str, key_col: str,
                        k: int = 128,
                        prefilter_denom: int | None = None,
                        distinct_keys: bool = False) -> DataFrame:
    """Per-group KMV sketches in one pass: ``(group, h)`` rows holding
    each group's ≤ k smallest distinct key hashes — the GROUP BY
    companion of :func:`kmv_sketch_table` ("distinct users per source",
    "vocabulary per language": per-partition distinct estimation is the
    shape corpus dashboards actually ask for). One distinct aggregate
    over (group, hash) then a rank window PARTITIONED BY GROUP (never a
    global funnel); output ≤ k·|groups| rows, mergeable per group by
    the usual union → re-bottom-k law.

    ``prefilter_denom``: same scan-pushed integer prefilter as
    :func:`kmv_sketch_table`, with the self-certification applied PER
    GROUP — a group whose sketch still has k rows is exactly its
    unfiltered sketch, but a group whose distinct count exceeds k while
    its SURVIVOR count falls below k gets a corrupt (too-small) sketch,
    so pick denom from a lower bound on the SMALLEST group's
    cardinality (denom ≤ min_g n_g / (2k)), or check ``n_sketch == k``
    per group downstream (kmv_group_estimates' fallback contract).

    ``distinct_keys=True``: the caller guarantees ``(group, key)`` rows
    are already distinct (e.g. the input IS a deduplicated keyspace),
    so the operator skips its own distinct — one exchange less. The
    60-bit hash is 1:1 per key only PROBABILISTICALLY (ADVICE r14):
    distinct keys ⇒ distinct hashes except for a 2^60-domain collision
    (birthday bound ~n²/2^61 per group — negligible below ~1e8 keys),
    which would leave a duplicate h in the rank window where the
    default path's distinct keeps one; above that scale keep the
    default (hash-level distinct) path."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if prefilter_denom is not None and prefilter_denom < 1:
        raise ValueError(
            f"prefilter_denom must be >= 1, got {prefilter_denom}")
    from pyspark.sql.window import Window as W  # noqa: PLC0415

    hashes = df.select(
        F.col(group_col).alias("g"),
        kmv_hash(F.col(key_col)).alias("h"),
    )
    if prefilter_denom is not None:
        hashes = hashes.filter(
            F.col("h") < F.lit(_KMV_DOMAIN // prefilter_denom))
    if not distinct_keys:
        hashes = hashes.distinct()
    w = W.partitionBy("g").orderBy("h")
    return (
        hashes.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("g", "h")
    )


def kmv_group_estimates(sketch: DataFrame, k: int) -> DataFrame:
    """Per-group estimates from a :func:`kmv_sketch_by_group` table:
    ``(g, n_sketch, kth_min, kmv_est)`` with the same fallback contract
    as :func:`kmv_estimate` (a group whose distinct count is below k
    keeps its whole hash set, so the exact survivor count IS the
    answer)."""
    return (
        sketch.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_sketch"), F.max("h").alias("kth_min"))
        .select(
            "g", "n_sketch", "kth_min",
            F.when(F.col("n_sketch") < k, F.col("n_sketch").cast("long"))
            .otherwise(F.floor(
                F.lit(float(k - 1)) * F.lit(float(_KMV_DOMAIN))
                / F.col("kth_min").cast("double"))).cast("long")
            .alias("kmv_est"),
        )
    )

def kmv_set_algebra(sketch_a: DataFrame, sketch_b: DataFrame,
                    k: int) -> DataFrame:
    """Theta-style set algebra from two KMV bottom-k sketches (Beyer et
    al. 2007, "On Synopses for Distinct-Value Estimation Under Multiset
    Operations"): estimate ``|A ∪ B|``, ``|A ∩ B|``, and Jaccard from
    the ≤ k-row sketches ALONE — the cross-corpus overlap question
    ("how much of corpus B is already in corpus A?") answered without
    ever joining the corpora, which at 100 TB is the difference between
    shipping two ≤ k-row tables and shuffling two key spaces.

    Estimator: let ``L`` = bottom-k of the union of the two sketches'
    hash sets. ``L``'s kth minimum is ≤ either sketch's own kth
    minimum, so every ``h ∈ L`` is below both sketches' thresholds and
    membership in a sketch ⟺ membership in its corpus. Hence
    ``union_est = (k−1)·2^60 / kth_min(L)`` (the usual KMV estimator
    over A ∪ B), ``ρ̂ = |L ∩ A ∩ B| / |L|`` is a uniform-sample
    estimate of Jaccard, and ``inter_est = ρ̂ · union_est``. When
    ``|L| < k`` both sketches were unsaturated (each carries its
    corpus's ENTIRE hash set), so all three quantities are exact.

    Everything is md5-derived integers plus one double ratio per
    estimate (division / multiply / floor — each IEEE-exactly-rounded,
    so DuckDB replays the row bit-for-bit, the x122 discipline).

    Input contract: both sketches are ``kmv_sketch_table`` outputs (or
    per-group slices of ``kmv_sketch_by_group``) built with the SAME
    hash and the same ``k`` passed here, each a single column ``h``.
    Returns one row: ``n_sketch_a, n_sketch_b, n_union_sketch,
    kth_min, n_inter_sketch, union_est, inter_est, jaccard_bp_est``
    (Jaccard in basis points, integer-floored).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    tagged = sketch_a.select(
        "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    ).unionAll(sketch_b.select(
        "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")))
    sizes = tagged.agg(
        F.sum("in_a").cast("long").alias("n_sketch_a"),
        F.sum("in_b").cast("long").alias("n_sketch_b"),
    )
    union_sketch = (
        tagged.groupBy("h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        .orderBy("h")
        .limit(k)
    )
    est_lit = repr(float((k - 1) * _KMV_DOMAIN))
    law = union_sketch.agg(
        F.count(F.lit(1)).cast("long").alias("n_union_sketch"),
        F.max("h").alias("kth_min"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long")
        .alias("n_inter_sketch"),
    )
    return (
        law.crossJoin(F.broadcast(sizes))
        .select(
            "n_sketch_a", "n_sketch_b", "n_union_sketch", "kth_min",
            "n_inter_sketch",
            F.when(F.col("n_union_sketch") < k,
                   F.col("n_union_sketch"))
            .otherwise(F.expr(
                f"CAST(FLOOR(CAST({est_lit} AS DOUBLE)"
                " / CAST(kth_min AS DOUBLE)) AS BIGINT)"))
            .cast("long").alias("union_est"),
            F.when(F.col("n_union_sketch") < k,
                   F.col("n_inter_sketch"))
            .otherwise(F.expr(
                f"CAST(FLOOR((CAST(n_inter_sketch AS DOUBLE)"
                f" / CAST({k} AS DOUBLE))"
                f" * (CAST({est_lit} AS DOUBLE)"
                " / CAST(kth_min AS DOUBLE))) AS BIGINT)"))
            .cast("long").alias("inter_est"),
            F.when(F.col("n_union_sketch") == 0, F.lit(0))
            .otherwise(F.expr(
                "n_inter_sketch * 10000 DIV n_union_sketch"))
            .cast("long").alias("jaccard_bp_est"),
        )
    )
