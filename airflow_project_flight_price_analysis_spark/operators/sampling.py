"""Deterministic hash-based sampling operators.

The scale-path companion to x89's exact stratified sample
(plans/mining.py): exact k-of-n selection needs a per-stratum rank
(sort); the threshold variant here needs only a per-stratum
approx-quantile of the hash — no sort, no rank window — at the cost of
±epsilon on the stratum size. Same md5 hash: a row's HASH is a pure
function of row content, independent of partitioning, cluster size,
and engine. The THRESHOLD, however, comes from merging per-partition
``percentile_approx`` sketches, and sketch merge is partition-order
sensitive — so the sample is deterministic for a fixed partitioning,
but rows within ±epsilon of the quantile boundary may flip in or out
under a different cluster layout. (x89's exact rank form in
plans/mining.py has no such boundary sensitivity.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def content_hash64(key: Column) -> Column:
    """Uniform-ish 60-bit non-negative hash of a key column via md5
    (15 hex chars = 60 bits; skew.py scales against 2^60 accordingly) —
    reproducible across engines and runs (unlike ``rand(seed)``, whose
    row assignment depends on partition layout).

    NULL keys hash via the sentinel (the row_hash_expr discipline,
    functions/cleaning.py) instead of propagating NULL: a NULL hash
    makes every ``h <= threshold`` keep-filter evaluate to NULL, so
    NULL-key rows would silently sample at 0% while still counting
    toward their stratum's share (r7 review)."""
    from ..functions.cleaning import NULL_SENTINEL

    safe = F.coalesce(key.cast("string"), F.lit(NULL_SENTINEL))
    return F.conv(F.substring(F.md5(safe), 1, 15), 16, 10).cast("long")


def stratified_threshold_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fraction: float,
    accuracy: int = 10_000,
) -> DataFrame:
    """≈``fraction`` of each stratum, selected by hash threshold: per
    stratum, the threshold is the ``fraction``-quantile of the rows'
    own hash values (``percentile_approx``), and a row is kept iff its
    hash falls at or below it. Versus the exact rank form:

    - no per-stratum sort — one pass for the |strata|-row threshold
      table (mergeable KLL sketch aggregate), one map-side filtered
      pass with the thresholds broadcast back;
    - stratum sizes are approximate (quantile-sketch error), exact
      allocation is NOT guaranteed;
    - NESTED: because a row's hash is fixed, the sample at a smaller
      fraction is a subset of the sample at a larger one on the same
      data (thresholds are monotone in the fraction) — the property
      that lets a pipeline carve 1% / 5% / 10% eval sets that contain
      each other.
    """
    h = content_hash64(F.col(key_col))
    hashed = df.withColumn("__h", h)
    thr = hashed.groupBy(strata_col).agg(
        F.percentile_approx("__h", fraction, accuracy).alias("__thr")
    ).select(F.col(strata_col).alias("__strat"), "__thr")
    # null-SAFE stratum match: the groupBy keeps a NULL stratum, but a
    # name-based equi-join would null-reject every row of it — the
    # NULL stratum would silently sample at 0% instead of ~fraction
    return (
        hashed.join(F.broadcast(thr),
                    F.col(strata_col).eqNullSafe(F.col("__strat")))
        .filter(F.col("__h") <= F.col("__thr"))
        .drop("__h", "__thr", "__strat")
    )


def md5_band_width(n_shards: int) -> int:
    """ceil(2^60 / n) — the exact band width ``epoch_shuffle`` shards
    with (``content_hash64`` spans [0, 2^60): 15 hex chars). Exported
    so an oracle replaying the shard assignment uses THE SAME
    expression instead of a copy that can desync."""
    return 2 ** 60 // int(n_shards) + (2 ** 60 % int(n_shards) > 0)


def md5_epoch_hash(key: Column, seed: int) -> Column:
    """The per-epoch ordering hash — ``content_hash64`` of ``key:seed``.
    THE expression ``epoch_shuffle`` orders and shards by, extracted so
    the multi-epoch face (x113) provably computes the same permutation
    instead of a copy that can desync."""
    return content_hash64(
        F.concat_ws(":", key.cast("string"), F.lit(str(int(seed))))
    )


def md5_shard_expr(hash_col_name: str, n_shards: int) -> Column:
    """Shard id of a NAMED md5 epoch-hash column: exact long ``DIV``
    over ``md5_band_width`` bands (content_hash64 is non-negative and
    the width fits a long, so floor division is exact — no decimal
    arithmetic or rounding guard is needed). Shared by
    ``epoch_shuffle`` and its registered faces."""
    return F.expr(
        f"{hash_col_name} DIV {md5_band_width(n_shards)}L"
    ).cast("int")


def epoch_shuffle(df: DataFrame, key_col: str, seed: int,
                  n_shards: int) -> DataFrame:
    """Deterministic sharded training-order shuffle (r7): order rows by
    ``md5_epoch_hash(key, seed)`` — a different ``seed`` per training
    epoch gives an independent-looking permutation that is REPRODUCIBLE
    across runs, cluster sizes, partitionings and engines (``rand(seed)``
    is none of those: its row assignment depends on partition layout;
    any engine with md5 can replay the exact permutation and shard ids,
    which is what the DuckDB oracle gate certifies).

    The output carries an ``epoch_shard`` column — the shard id as a
    FIXED-WIDTH band of the hash space (``md5_shard_expr``), balanced
    by md5 uniformity — and is clustered+sorted by (shard, hash, key).
    The shard a row lands in is then a pure function of (key, seed,
    n_shards): write with ``.partitionBy("epoch_shard")`` for a
    bit-reproducible shard→file mapping. (r7 review: the first version
    used ``repartitionByRange`` for the shards, whose range bounds come
    from SAMPLING with an RDD-id-derived seed — per-run and
    per-input-layout dependent, contradicting the reproducibility
    contract. The in-memory partition split remains an execution
    detail; the ``epoch_shard`` VALUE is the contract.)

    ``key_col`` must uniquely identify rows (a doc/sample id): ties are
    broken by the key itself (so two DISTINCT keys colliding to one
    hash still order deterministically), but rows SHARING a key have no
    defined relative order — dedup first. The hash column is dropped —
    callers get the input schema plus ``epoch_shard`` back in shuffled
    order.
    """
    clash = [c for c in df.columns if c in ("__eh", "epoch_shard")]
    if clash:
        raise ValueError(
            f"input columns {clash} collide with epoch_shuffle's "
            "internals — rename them first (bloom.py reserved-name rule)"
        )
    return (
        df.withColumn("__eh", md5_epoch_hash(F.col(key_col), seed))
        .withColumn("epoch_shard", md5_shard_expr("__eh", n_shards))
        .repartition(int(n_shards), "epoch_shard")
        .sortWithinPartitions("epoch_shard", "__eh", key_col)
        .drop("__eh")
    )


def temperature_mixture_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    temperature: float,
    base_fraction: float,
) -> DataFrame:
    """Temperature-weighted mixture sampling (r7) — the multilingual-/
    multi-source-rebalancing step of LLM data pipelines (the p^(1/T)
    rule of mBERT/XLM-R; T > 1 upsamples small sources relative to
    their share, T = 1 is proportional sampling).

    Per-source keep fraction: ``f_s = min(1, base_fraction *
    (share_s)^(1/T - 1))`` where ``share_s`` is the source's row share
    — so at T=1 every source keeps ``base_fraction``, and at T>1 small
    sources keep MORE than base (up to everything) while large sources
    keep less, flattening the mixture toward uniform. Selection is by
    content-hash threshold (``content_hash64 <= f_s * 2^60``):
    deterministic, engine-independent, and NESTED across
    ``base_fraction`` values like stratified_threshold_sample.

    Scale shape: one |sources|-row aggregate (map-side combined),
    broadcast back; the keep decision is a map-side filter — no sort,
    no rank, no per-row shuffle.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    clash = [c for c in df.columns if c in ("__src", "__keep", "__n", "__t")]
    if clash:
        raise ValueError(
            f"input columns {clash} collide with "
            "temperature_mixture_sample internals — rename them first"
        )
    shares = df.groupBy(source_col).agg(F.count("*").alias("__n"))
    total = shares.agg(F.sum("__n").alias("__t"))
    # Cross-engine note (x107 adjudication, r8/r9): libm pow is not
    # correctly rounded, so the oracle's POWER could differ by ~1 ulp —
    # flipping a row only if its 60-bit hash lands within that ulp of
    # the threshold (~2e-16/row, accepted). Pre-staged fallback should
    # a red row ever appear (IEEE sqrt IS correctly rounded in both
    # engines; valid whenever 1/T - 1 == -0.5, i.e. T = 2):
    #   frac = F.least(F.lit(1.0), F.lit(float(base_fraction))
    #                  / F.sqrt(F.col("__n") / F.col("__t")))
    # and the x107 oracle's mirror: 0.5 / SQRT(n / t).
    frac = F.least(
        F.lit(1.0),
        F.lit(float(base_fraction))
        * F.pow(F.col("__n") / F.col("__t"),
                F.lit(1.0 / float(temperature) - 1.0)),
    )
    plan = (
        shares.crossJoin(F.broadcast(total))
        .select(F.col(source_col).alias("__src"), frac.alias("__keep"))
    )
    h = content_hash64(F.col(key_col))
    # NULL-safe source join: groupBy treats NULL as a real stratum, so
    # the plan HAS a NULL-source row — a plain == join would null-reject
    # every NULL-source data row and silently sample that stratum at 0%
    # (the stratified_threshold_sample guard, same file)
    return (
        df.join(F.broadcast(plan),
                F.col(source_col).eqNullSafe(F.col("__src")))
        .filter(h <= (F.col("__keep") * F.lit(float(2 ** 60))).cast("long"))
        .drop("__src", "__keep")
    )


_SPLIT_SPACE_MD5 = 2 ** 60


def holdout_thresholds(fractions: "list[tuple[str, float]]") -> list[int]:
    """Cumulative integer band bounds over the md5 hash space
    [0, 2^60) for ``holdout_split`` — one bound per split EXCEPT the
    last (which takes the remainder band, so the split is exhaustive
    by construction, never by float arithmetic). Computed in exact
    rational arithmetic over the floats' true binary values and
    exported so an oracle embeds THE SAME integers instead of
    re-deriving them with engine-local float rounding."""
    from fractions import Fraction

    if len(fractions) < 2:
        raise ValueError("holdout_split needs at least 2 splits")
    names = [n for n, _ in fractions]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate split names: {names}")
    fs = [Fraction(float(f)) for _, f in fractions]
    if any(f <= 0 for f in fs):
        raise ValueError("every split fraction must be > 0")
    if abs(sum(fs) - 1) > Fraction(1, 10 ** 9):
        raise ValueError(f"split fractions must sum to 1, got {float(sum(fs))}")
    bounds, cum = [], Fraction(0)
    for f in fs[:-1]:
        cum += f
        bounds.append(int(cum * _SPLIT_SPACE_MD5))
    return bounds


def holdout_split(
    df: DataFrame,
    group_col: str,
    fractions: "list[tuple[str, float]]",
    seed: int,
    split_col: str = "split",
) -> DataFrame:
    """Disjoint-exhaustive holdout split (train/val/test) with GROUP
    cohesion — the leakage guard of every training-data pipeline:
    evaluation contamination comes from near-identical rows straddling
    the train/test boundary, so the split must assign whole GROUPS
    (a source, a domain, a dedup cluster id from operators/graph.py),
    never individual rows. The split label is a pure function of
    (group value, seed): md5-band assignment over [0, 2^60) via
    ``md5_epoch_hash`` — reproducible across runs, engines, cluster
    sizes, and partition layouts (``randomSplit`` is none of those),
    and STABLE under corpus growth: a new row joins its group's
    existing side, and a brand-new group lands by its own hash without
    moving anyone else (the property that lets a frozen eval set stay
    frozen across monthly corpus refreshes).

    ``fractions`` is an ordered list of (name, fraction) summing to 1;
    band bounds come from ``holdout_thresholds`` (exact integers — the
    LAST split takes the remainder band, so every hash lands somewhere
    by construction). Rows with a NULL group hash via concat_ws's
    NULL-skip to one shared band — cohesion holds for them too.

    Scale shape: ZERO shuffles — the hash and the band CASE are one
    map-side projection; no aggregate, no join, no sort. Downstream
    writes fan out with ``.write.partitionBy(split_col)``.
    """
    if split_col in df.columns:
        raise ValueError(
            f"input column {split_col!r} collides with the split label — "
            "pass a different split_col (bloom.py reserved-name rule)"
        )
    bounds = holdout_thresholds(fractions)
    h = md5_epoch_hash(F.col(group_col), seed)
    expr = None
    for (name, _), b in zip(fractions, bounds):
        cond = h < F.lit(b)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    return df.withColumn(split_col, expr.otherwise(F.lit(fractions[-1][0])))


# --------------------------------------------------------------------------
# Token-budget water-filling (r12 — the x121 face's core)
# --------------------------------------------------------------------------

def waterfill_allocate(cap: DataFrame, key_col: str, capacity_col: str,
                       budget_num: int, budget_den: int) -> DataFrame:
    """Exact water-filling of an integer budget across capacitated
    groups: budget ``B = total · budget_num div budget_den``; every
    group gets an equal fill level except groups whose whole capacity
    fits under it, which keep their capacity (saturate) and re-level
    the rest. Closed form over capacities sorted ascending
    (c_1 ≤ … ≤ c_n, prefix sums P_i): group i saturates iff
    ``c_i·(n−i+1) + P_{i−1} ≤ B`` (monotone in i, so the saturated set
    is always a prefix of the ascending order — pinned by the
    hypothesis property test), k = the largest saturating rank, and
    every group above k gets ``L = (B − P_k) div (n − k)``.

    INTEGER floor arithmetic end-to-end, so any engine replays the
    allocation token-for-token; the returned columns include the law
    terms: ``budget``, and ``leftover = budget − Σ allocated`` (the
    floor-division residue, 0 ≤ leftover < n − k when unsaturated
    groups remain).

    Scale shape: the input is a |groups|-grain table (the caller's one
    data-scale aggregate); rank/prefix/saturation run windows over
    those |groups| rows — a bounded-grain SinglePartition window, the
    x90/x92 class.
    """
    if budget_num < 0 or budget_den <= 0:
        raise ValueError(
            f"budget must be a non-negative rational, got "
            f"{budget_num}/{budget_den}")
    totals = cap.agg(
        F.sum(capacity_col).alias("total"),
        F.count(F.lit(1)).alias("__wf_n"),
    )
    w = W.orderBy(capacity_col, key_col)
    ranked = (
        cap.crossJoin(F.broadcast(totals))
        .withColumn(
            "budget",
            F.expr(f"CAST(total * {int(budget_num)} DIV "
                   f"{int(budget_den)} AS BIGINT)"),
        )
        .withColumn("__wf_rk", F.row_number().over(w))
        .withColumn(
            "__wf_prefix",
            F.sum(capacity_col).over(
                w.rowsBetween(W.unboundedPreceding, 0)),
        )
        .withColumn(
            "saturated",
            F.col(capacity_col) * (F.col("__wf_n") - F.col("__wf_rk") + 1)
            + (F.col("__wf_prefix") - F.col(capacity_col))
            <= F.col("budget"),
        )
    )
    kstat = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("saturated"), F.col("__wf_rk"))), F.lit(0)
        ).alias("__wf_k"),
        F.coalesce(
            F.max(F.when(F.col("saturated"), F.col("__wf_prefix"))),
            F.lit(0),
        ).cast("long").alias("__wf_prefix_k"),
    )
    alloc = (
        ranked.crossJoin(F.broadcast(kstat))
        .withColumn(
            # the common-level branch is unreachable when EVERY group
            # saturates (k == n, e.g. budget >= total capacity) — but
            # guard the divisor explicitly rather than lean on CaseWhen
            # short-circuiting, mirroring the oracle's
            # `WHEN n > k ... ELSE 0` so the two engines' expressions
            # stay structurally parallel (ADVICE r12)
            "allocated",
            F.when(F.col("saturated"), F.col(capacity_col))
            .otherwise(F.when(
                F.col("__wf_n") > F.col("__wf_k"),
                F.expr(
                    "CAST((budget - __wf_prefix_k) DIV (__wf_n - __wf_k) "
                    "AS BIGINT)"),
            ).otherwise(F.lit(0)))
            .cast("long"),
        )
    )
    law = alloc.agg(
        (F.max("budget") - F.sum("allocated")).cast("long")
        .alias("leftover")
    )
    return (
        alloc.crossJoin(F.broadcast(law))
        .drop("total", "__wf_n", "__wf_rk", "__wf_prefix",
              "__wf_k", "__wf_prefix_k")
    )


def hash_bottomk_sample(df: DataFrame, key_cols: "list[str]", k: int,
                        prefilter_denom: int | None = None) -> DataFrame:
    """Deterministic uniform row sample: the ``k`` rows whose md5-derived
    60-bit hash of ``key_cols`` (colon-joined, the content_hash64
    canonical form) is smallest — every engine with md5 draws the SAME
    sample, so sample-based estimators (x123's quantiles) value-certify
    instead of being envelope-only like rng-seeded sampling. md5 is a
    uniform hash, so bottom-k by hash is a uniform without-replacement
    sample of the distinct key space.

    Scale shape mirrors profiling.kmv_sketch_table: with
    ``prefilter_denom`` set, only hashes below ``2^60/denom`` pass the
    scan (integer compare, row-level filter before any shuffle), and
    TakeOrdered caps everything after at k rows. Same self-certifying
    property: any threshold leaving ≥ k survivors yields EXACTLY the
    unfiltered sample; a tighter one only shrinks it (callers see the
    true sample size in their own count). Keys are assumed unique rows
    (duplicate keys would enter once per duplicate — pre-distinct if
    that matters)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if prefilter_denom is not None and prefilter_denom < 1:
        raise ValueError(
            f"prefilter_denom must be >= 1, got {prefilter_denom}")
    from .profiling import _KMV_DOMAIN, kmv_hash  # noqa: PLC0415

    h = kmv_hash(F.concat_ws(":", *[F.col(c) for c in key_cols]))
    out = df.withColumn("__sample_h", h)
    if prefilter_denom is not None:
        out = out.filter(
            F.col("__sample_h") < F.lit(_KMV_DOMAIN // prefilter_denom))
    return out.orderBy("__sample_h").limit(k)


def weighted_systematic_sample(df: DataFrame, key_col: str, weight_col: str,
                               n_picks: int, n_bands: int = 8) -> DataFrame:
    """EXACT weight-proportional systematic sampling — the "sample by
    tokens, not by documents" selection step of corpus mixing: lay the
    rows out on a cumulative integer-weight axis in a deterministic
    hash order, drop ``n_picks`` equally-spaced targets
    ``t_j = j · (W DIV n_picks)`` on it, and give each row one
    multiplicity per target inside its weight interval. Heavy rows can
    win several picks (multiplicity ∈ {w DIV step, w DIV step + 1} —
    proportionality is exact to ±1, a pinned law), light rows
    proportionally few; Σ multiplicity == n_picks EXACTLY. Everything
    is integer arithmetic over md5-derived ordering, so any engine
    replays the selection row-for-row (no rand(), no float thresholds
    — the sampling.py determinism discipline).

    Scale shape: the global prefix sum uses the x110 two-phase scan —
    rows shard into ``n_bands`` contiguous md5 bands (band = h DIV
    bandwidth, so band order IS hash order), per-band totals make an
    ``n_bands``-row offsets table (bounded window), and the in-band
    cumulative runs partition-bounded windows. No data-grain
    single-partition funnel; one shuffle by band + one bounded
    broadcast back.

    Returns the SELECTED rows only (≤ n_picks): key, weight,
    ``multiplicity`` (≥ 1), plus ``total_w`` and ``step`` for the
    caller's accounting. Requires total weight ≥ n_picks (step ≥ 1) —
    raises inside the plan otherwise (data-dependent, so it cannot be
    validated at build time). ``key_col`` values must be UNIQUE (the
    hash_bottomk_sample precondition, ADVICE r13): the in-band
    cumulative window orders by (hash, key), so duplicate keys tie and
    their positions — hence per-row multiplicities — would depend on
    arbitrary tie order; pre-aggregate weights by key first if the
    input can repeat keys."""
    if n_picks < 1:
        raise ValueError(f"n_picks must be >= 1, got {n_picks}")
    if n_bands < 1:
        raise ValueError(f"n_bands must be >= 1, got {n_bands}")
    from pyspark.sql.window import Window as W  # noqa: PLC0415

    from .profiling import kmv_hash  # noqa: PLC0415

    width = md5_band_width(n_bands)
    d = df.select(
        key_col, weight_col,
        kmv_hash(F.col(key_col)).alias("__ws_h"),
    ).withColumn("__ws_band", F.expr(f"__ws_h DIV {width}L").cast("int"))
    # the |bands|-row totals feed BOTH the offsets window and the grand
    # total — persist them or each consumer re-scans the corpus (the
    # r13 RepeatedScan lint rule caught exactly this: 5 source scans
    # where 2 suffice)
    from ..cache import track_persist  # noqa: PLC0415

    bt = d.groupBy("__ws_band").agg(
        F.sum(weight_col).cast("long").alias("__ws_bw")
    ).transform(track_persist)
    off = bt.withColumn(
        "__ws_off",
        F.coalesce(
            F.sum("__ws_bw").over(
                W.orderBy("__ws_band").rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long"),
    ).select("__ws_band", "__ws_off")
    tot = bt.agg(F.sum("__ws_bw").cast("long").alias("total_w"))
    inb = d.withColumn(
        "__ws_cum",
        F.sum(weight_col).over(
            W.partitionBy("__ws_band").orderBy("__ws_h", key_col)
            .rowsBetween(W.unboundedPreceding, 0)).cast("long"),
    )
    guarded_step = F.when(
        F.expr(f"total_w DIV {int(n_picks)}L") < 1,
        F.raise_error(F.lit(
            f"weighted_systematic_sample: total weight < n_picks="
            f"{n_picks} — step would be 0")),
    ).otherwise(F.expr(f"total_w DIV {int(n_picks)}L"))
    return (
        inb.join(F.broadcast(off), "__ws_band")
        .crossJoin(F.broadcast(tot))
        .withColumn("step", guarded_step.cast("long"))
        .withColumn("__ws_cend", F.col("__ws_off") + F.col("__ws_cum"))
        .withColumn("__ws_cstart", F.col("__ws_cend") - F.col(weight_col))
        .withColumn(
            "multiplicity",
            F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.expr("(__ws_cend + step - 1) DIV step"),
                    F.lit(int(n_picks)).cast("long"),
                ) - F.expr("(__ws_cstart + step - 1) DIV step"),
            ).cast("long"),
        )
        .filter(F.col("multiplicity") > 0)
        .select(key_col, weight_col, "multiplicity", "total_w", "step")
    )

def priority_sample(df: DataFrame, key_cols: "list[str]", weight_col: str,
                    k: int) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup 2007, "Priority
    sampling for estimation of arbitrary subset sums"): a deterministic
    weighted WITHOUT-replacement sample of ``k`` rows that supports
    unbiased subset-sum estimation — the "estimate any slice's token
    mass from one small sample" primitive corpus accounting needs at
    100 TB, and the without-replacement complement of
    :func:`weighted_systematic_sample`'s exact multiplicity picks.

    Each row draws ``u = h / 2^60 ∈ (0, 1]`` from the md5-derived
    60-bit hash of its key (``+1`` so u is never 0) and gets priority
    ``p = w / u``; the sample is the ``k`` largest priorities, and
    ``tau`` is the (k+1)-th. DLT: ``ŵ_i = max(w_i, tau)`` for sampled
    rows (0 otherwise) satisfies ``E[ŵ_i] = w_i`` with zero pairwise
    covariance, so ``Σ_{i ∈ S∩sample} max(w_i, tau)`` unbiasedly
    estimates ANY subset sum ``W_S`` chosen after the fact, and
    (Szegedy 2006) ``Var(Σŵ) ≤ W² / (k−1)``.

    Determinism/replay: the only non-integer op is one double division
    (``CAST(w AS DOUBLE) / CAST(h+1 AS DOUBLE)`` — int→double
    conversion and division are both IEEE-exactly-rounded, so every
    engine computes bit-identical priorities; ``tau``'s re-scaling by
    2^60 multiplies by a power of two, which only shifts the
    exponent). Ordering ties break by ``(h, key)``, and the boundary
    row is identified by the lexicographic min of ``(priority, −h)``
    — unique as long as hashes are distinct, so the cut is exact even
    when two rows tie on priority. Distinct keys are assumed (the
    :func:`hash_bottomk_sample` precondition — duplicate keys share a
    hash, hence a priority and a boundary identity).

    Scale shape: ``orderBy(priority).limit(k+1)`` compiles to
    TakeOrderedAndProject — per-partition top-(k+1) then a k+1-row
    merge, no global sort, no shuffle of the corpus. Callers that
    derive several outputs should persist the returned ≤ k+1-row frame.

    Returns the top-(k+1) frame (the boundary row INCLUDED, flagged):
    original columns plus ``__ps_h``, ``priority``, ``tau`` (0.0 when
    the corpus has ≤ k rows, so ``w_est`` falls back to the exact
    weight), ``is_boundary`` (true on the (k+1)-th row — callers drop
    it), and ``w_est = max(w, tau)`` (double). Estimate a subset sum
    as ``SUM(w_est) FILTER (NOT is_boundary AND row ∈ S)``; for
    cross-engine value comparison quantize each term before summing
    (double sums are order-dependent; ``floor(w_est · 2^q)`` terms sum
    exactly in integers in any order).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from .profiling import kmv_hash  # noqa: PLC0415

    h = kmv_hash(F.concat_ws(":", *[F.col(c) for c in key_cols])) + F.lit(1)
    top = (
        df.withColumn("__ps_h", h.cast("long"))
        .withColumn("priority", F.expr(
            f"CAST({weight_col} AS DOUBLE) / CAST(__ps_h AS DOUBLE)"))
        .orderBy(F.desc("priority"), F.asc("__ps_h"),
                 *[F.asc(c) for c in key_cols])
        .limit(k + 1)
    )
    # the boundary = the LAST row in (priority DESC, h ASC) order =
    # the lexicographic MIN of (priority, -h); a one-row aggregate,
    # broadcast back. With ≤ k rows total there is no boundary and
    # tau = 0 (every weight is exact).
    stat = top.agg(
        F.count(F.lit(1)).cast("long").alias("__ps_m"),
        F.min(F.struct(
            F.col("priority").alias("p"),
            (-F.col("__ps_h")).alias("nh"),
        )).alias("__ps_b"),
    )
    return (
        top.crossJoin(F.broadcast(stat))
        .withColumn(
            "is_boundary",
            (F.col("__ps_m") == k + 1)
            & (F.col("priority") == F.col("__ps_b.p"))
            & (F.col("__ps_h") == -F.col("__ps_b.nh")),
        )
        .withColumn(
            "tau",
            F.when(F.col("__ps_m") == k + 1,
                   F.col("__ps_b.p") * F.lit(float(2 ** 60)))
            .otherwise(F.lit(0.0)),
        )
        .withColumn(
            "w_est",
            F.greatest(F.expr(f"CAST({weight_col} AS DOUBLE)"),
                       F.col("tau")),
        )
        .drop("__ps_m", "__ps_b")
    )
