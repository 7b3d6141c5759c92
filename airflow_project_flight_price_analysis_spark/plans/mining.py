"""Round-5 mining & ranking extensions — lexical retrieval scoring,
deterministic sampling, distribution audits, dependence measures, and
multi-objective frontier extraction (SURVEY.md §2.9 X4/X6 extension
surface, same contract as ``insights.py``).

Driver contract notes shared by every query here: DuckDB oracle SQL
under identical column aliases; counts CAST to BIGINT; doubles ROUNDed
(6 for ratios/scores, 2 for money) so cross-engine libm last-ulp noise
can't break the value hash (the x39/x71 ln-parity precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..cache import track_persist
from ..functions.exact_agg import (
    exact_parts,
    exact_parts_oracle,
    rounded_from_parts_sql,
)
from ..functions.text import tokens_expr
from ..sources import load_table

QUERIES: dict = {}
ORACLE: dict = {}

# BM25 constants — Robertson/Spärck Jones defaults; part of the operator
# definition (both engines score with exactly these).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("merge", "window", "spark")
BM25_TOP_K = 20


# --- lexical retrieval ------------------------------------------------------

def _bm25_raw_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, raw)`` BM25 scores over documents for the fixed
    BM25_QUERY_TERMS — the shared scoring pipeline behind x88 (top-k
    face) and x132 (hybrid RRF fusion). Scale shape documented on x88.
    Positive-score rows only (query-term postings)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    toks = tokens_expr(F.lower(F.col("text")))
    tf_cols = [
        F.size(F.filter(toks, lambda x: x == F.lit(t))).alias(f"tf{i}")
        for i, t in enumerate(BM25_QUERY_TERMS)
    ]
    # persisted (cache.py-tracked): consumed by the stats aggregate AND
    # the scoring pass — without it the tokenizer runs the corpus twice.
    # r15 (the x115 cache-width hazard): the single-file documents scan
    # is ONE partition, so the persisted projection — and the tokenizer
    # higher-order functions, the pipeline's CPU — ran on one core;
    # scale_out widens the scan first (no-op at real scale).
    from ..session import scale_out  # noqa: PLC0415

    per_doc = scale_out(docs, "doc_id").select(
        "doc_id", F.size(toks).alias("dl"), *tf_cols
    ).transform(track_persist)

    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    )

    scored = per_doc.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(BM25_QUERY_TERMS)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + 0.5)
            / (F.col(f"df{i}") + 0.5)
        )
        tf = F.col(f"tf{i}").cast("double")
        term_score = idf * tf * (BM25_K1 + 1) / (
            tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
        score = term_score if score is None else score + term_score
    return (
        scored.select("doc_id", score.alias("raw"))
        .filter(F.col("raw") > 0)
    )


def x88_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed query-term set — the lexical
    retrieval scorer every corpus-curation stack keeps next to its
    embedding ANN (x06/x15): cheap, exact, and the standard first-stage
    retriever for decontamination-by-query and targeted corpus audits.
    Lucene-style non-negative idf ``ln(1 + (N - df + 0.5)/(df + 0.5))``.

    Scale shape: ONE corpus pass computes per-doc length and per-term
    tf entirely map-side (``size(filter(tokens, ...))`` — no explode, no
    corpus-scale shuffle); corpus stats (N, avgdl, per-term df) reduce to
    a ONE-ROW broadcast; the top-k is a TakeOrderedAndProject. The only
    rows that survive the score>0 filter are query-term postings, so the
    final sort input is posting-scale, not corpus-scale.
    """
    return (
        _bm25_raw_scores(spark, sf_dir)
        .orderBy(F.desc("raw"), "doc_id")
        .limit(BM25_TOP_K)
        .select("doc_id", F.round("raw", 6).alias("bm25"))
    )


QUERIES["x88_bm25_ranking"] = x88_bm25_ranking

_BM25_TF_SQL = ", ".join(
    f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
    for i, t in enumerate(BM25_QUERY_TERMS)
)
_BM25_DF_SQL = ", ".join(
    f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
    for i in range(len(BM25_QUERY_TERMS))
)
_BM25_SCORE_SQL = " + ".join(
    f"ln(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)) * tf{i} * ({BM25_K1} + 1)"
    f" / (tf{i} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))"
    for i in range(len(BM25_QUERY_TERMS))
)
ORACLE["x88_bm25_ranking"] = rf"""
    WITH per_doc AS (
        SELECT doc_id, len(toks) AS dl, {_BM25_TF_SQL}
        FROM (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS toks
            FROM documents WHERE trim(text) <> ''
        )
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl, {_BM25_DF_SQL}
        FROM per_doc
    ),
    scored AS (
        SELECT doc_id, {_BM25_SCORE_SQL} AS raw
        FROM per_doc, stats
    )
    SELECT doc_id, ROUND(raw, 6) AS bm25
    FROM scored WHERE raw > 0
    ORDER BY raw DESC, doc_id LIMIT {BM25_TOP_K}
"""


# --- deterministic stratified sampling --------------------------------------

STRATA_FRACTION = 0.1


def x89_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proportional stratified sample: ceil(10%) of each language
    stratum, selected by md5(doc_id) rank — the reproducible eval-split
    carve-out a curation pipeline uses when a plain ``sample()`` would
    under-represent small languages. Deterministic across engines,
    cluster sizes, and partitionings (content-independent hash order,
    doc_id tie-break), unlike seed-based sampling whose row assignment
    depends on partition layout.

    Scale shape: one pass; per-stratum window rank (shuffle keyed on
    ``lang``). Exact k-of-n selection fundamentally needs a per-stratum
    rank; at 100 TB with a skewed stratum, swap in
    ``operators/sampling.py::stratified_threshold_sample`` — the same
    hash as a per-stratum approx-quantile THRESHOLD (no sort, nested
    across fractions, property-tested) at the cost of ±epsilon on the
    stratum size. The exact variant is kept registered because it is
    oracle-checkable to the row.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = W.partitionBy("lang").orderBy(h, "doc_id")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rnk"),
            F.count(F.lit(1)).over(W.partitionBy("lang")).alias("n_lang"),
        )
        .filter(F.col("rnk") <= F.ceil(F.lit(STRATA_FRACTION) * F.col("n_lang")))
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


QUERIES["x89_stratified_sample"] = x89_stratified_sample

ORACLE["x89_stratified_sample"] = f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rnk,
               COUNT(*) OVER (PARTITION BY lang) AS n_lang
        FROM documents
    )
    WHERE rnk <= CEIL({STRATA_FRACTION} * n_lang)
    ORDER BY lang, doc_id
"""


# --- distribution audits ----------------------------------------------------

def x90_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the
    fabricated-data / unit-mixing screen run on ingested financial
    columns: organically-grown magnitudes follow P(d) = log10(1 + 1/d);
    uniform or spiky first-digit histograms flag synthetic or truncated
    feeds. First digit extracted via integer-floor string math (exact on
    both engines — no float log10 at the digit boundary).

    Scale shape: one map-side pass to a 9-row digit table; shares ride
    window sums over those 9 rows. Output is exactly ≤9 rows.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = W.partitionBy()
    exp_share = F.log10(F.lit(1.0) + 1.0 / F.col("digit"))
    obs_share = F.col("n") / F.sum("n").over(total)
    return (
        counts.select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            F.round(obs_share, 6).alias("obs_share"),
            F.round(exp_share, 6).alias("exp_share"),
            F.round(F.abs(obs_share - exp_share), 6).alias("abs_dev"),
        )
        .orderBy("digit")
    )


QUERIES["x90_benford_digits"] = x90_benford_digits

ORACLE["x90_benford_digits"] = """
    WITH counts AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INTEGER) AS digit,
               COUNT(*) AS n
        FROM orders WHERE o_totalprice >= 1
        GROUP BY 1
    )
    SELECT digit,
           CAST(n AS BIGINT) AS n,
           ROUND(n / SUM(n) OVER (), 6) AS obs_share,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS exp_share,
           ROUND(abs(n / SUM(n) OVER () - log10(1.0 + 1.0 / digit)), 6)
               AS abs_dev
    FROM counts
    ORDER BY digit
"""


def x91_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Gini) per market segment — the
    whale-dependence audit: G → 0 means spend is spread evenly across
    customers, G → 1 means a handful of accounts carry the segment.
    Rank-based estimator G = 2·Σ(i·r_i)/(n·Σr) − (n+1)/n over revenues
    sorted ascending; ties in revenue are swap-invariant under Σ(i·r_i),
    so the custkey tie-break affects determinism only, not the value.

    Scale shape: orders pre-aggregate per customer (partial agg
    map-side) before the customer join; the rank comes from
    ``operators/ranking.py::distributed_rank`` — range-partitioned
    local ranks + broadcast partition offsets, so sort parallelism is
    the number of RANGE partitions, never the |segments| ≈ 5 groups a
    per-segment window would serialize on at 100 TB. The rank is
    identical to the window form (property-tested), so the oracle stays
    the plain ROW_NUMBER.
    """
    from ..operators.ranking import distributed_rank

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    rev = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("revenue")
    )
    seg = rev.join(customer, rev.o_custkey == customer.c_custkey).select(
        "c_mktsegment", "revenue", "c_custkey"
    )
    ranked = distributed_rank(
        seg, ["c_mktsegment"], ["revenue", "c_custkey"], rank_col="rk"
    ).select(
        "c_mktsegment", "revenue", F.col("rk").cast("double").alias("i")
    )
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(
                2.0 * F.sum(F.col("i") * F.col("revenue"))
                / (F.count(F.lit(1)) * F.sum("revenue"))
                - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
                6,
            ).alias("gini"),
        )
        .orderBy("c_mktsegment")
    )


QUERIES["x91_gini_concentration"] = x91_gini_concentration

ORACLE["x91_gini_concentration"] = """
    WITH rev AS (
        SELECT o_custkey, SUM(o_totalprice) AS revenue
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT c.c_mktsegment, r.revenue,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY c.c_mktsegment ORDER BY r.revenue
               ) AS DOUBLE) AS i
        FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(2.0 * SUM(i * revenue) / (COUNT(*) * SUM(revenue))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM ranked
    GROUP BY 1
    ORDER BY 1
"""


# --- temporal dependence ----------------------------------------------------

ACF_MAX_LAG = 7


def x92_daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily event-count series — the
    periodicity probe behind anomaly baselines: a strong lag-7 spike
    says "weekly seasonality, detrend before thresholding" (feeds x40's
    anomaly screen and x93's changepoint scan). Standard ACF estimator:
    r_k = Σ_{t>k}(x_t−μ)(x_{t−k}−μ) / Σ_t(x_t−μ)², with μ and the
    denominator over the FULL series.

    Precondition (pinned by tests/test_mining.py): the event stream
    covers a dense daily range — lag-k adjacency in row order equals
    calendar adjacency. A gapped regeneration fails the precondition
    test by name, not the value hash.

    Scale shape: the event-scale pass collapses to |days| rows FIRST;
    the lag windows and the stack/unpivot run on the day-scale series
    (the x45 gap-fill precedent). Output is ``ACF_MAX_LAG`` rows.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    stats = daily.agg(
        F.avg("x").alias("mu"),
        (F.var_pop("x") * F.count(F.lit(1))).alias("ss"),
    )
    w = W.orderBy("day")
    dev = (
        daily.crossJoin(F.broadcast(stats))
        .withColumn("dev", F.col("x") - F.col("mu"))
    )
    lagged = dev.select(
        "dev",
        "ss",
        *[F.lag("dev", k).over(w).alias(f"l{k}") for k in range(1, ACF_MAX_LAG + 1)],
    )
    stack_args = ", ".join(
        f"{k}, dev * l{k}" for k in range(1, ACF_MAX_LAG + 1)
    )
    pairs = lagged.selectExpr(
        "ss", f"stack({ACF_MAX_LAG}, {stack_args}) AS (lag, prod)"
    ).filter(F.col("prod").isNotNull())
    return (
        pairs.groupBy(F.col("lag").cast("bigint").alias("lag"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.try_divide(F.sum("prod"), F.max("ss")), 6)
            .alias("acf"),  # constant series: ss=0 (ANSI /0 throws)
        )
        .orderBy("lag")
    )


QUERIES["x92_daily_autocorrelation"] = x92_daily_autocorrelation

ORACLE["x92_daily_autocorrelation"] = f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS x
        FROM events GROUP BY 1
    ),
    stats AS (
        SELECT AVG(x) AS mu, var_pop(x) * COUNT(*) AS ss FROM daily
    ),
    numbered AS (
        SELECT x - mu AS dev, ROW_NUMBER() OVER (ORDER BY day) AS rn
        FROM daily, stats
    ),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS k)
    SELECT CAST(k AS BIGINT) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(SUM(a.dev * b.dev) / ANY_VALUE(ss), 6) AS acf
    FROM lags
    JOIN numbered a ON TRUE
    JOIN numbered b ON b.rn = a.rn - k,
    stats
    GROUP BY k
    ORDER BY lag
"""


CUSUM_TOP_K = 5


def x93_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized-CUSUM level-shift scan over the daily mean of the
    event ``value`` stream: S_t = Σ_{i≤t}(x_i−μ)/σ. A sustained shift in
    level makes |S_t| peak at the change day (Page 1954's classical
    statistic); the top-|S_t| days are the candidate changepoints a
    drift review starts from (complements x86's distribution-shape KS
    drift — CUSUM sees small-but-sustained mean shifts KS dilutes).

    Scale shape: event-scale pass → |days| series; cumulative window on
    the day-scale frame only; TakeOrdered top-k. Output ``CUSUM_TOP_K``
    rows.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.avg("value").alias("x")
    )
    stats = daily.agg(
        F.avg("x").alias("mu"), F.stddev_pop("x").alias("sigma")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    scored = (
        daily.crossJoin(F.broadcast(stats))
        .withColumn(
            "cusum",
            F.sum(F.try_divide(F.col("x") - F.col("mu"),
                               F.col("sigma"))).over(w),
        )
    )
    return (
        scored.orderBy(F.desc(F.abs(F.col("cusum"))), "day")
        .limit(CUSUM_TOP_K)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("cusum", 6).alias("cusum"),
            F.round(F.abs(F.col("cusum")), 6).alias("abs_cusum"),
        )
    )


QUERIES["x93_cusum_changepoint"] = x93_cusum_changepoint

ORACLE["x93_cusum_changepoint"] = f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, AVG(value) AS x
        FROM events GROUP BY 1
    ),
    stats AS (
        SELECT AVG(x) AS mu, stddev_pop(x) AS sigma FROM daily
    ),
    scored AS (
        SELECT day,
               SUM((x - mu) / sigma) OVER (
                   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW
               ) AS cusum
        FROM daily, stats
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           ROUND(cusum, 6) AS cusum, ROUND(abs(cusum), 6) AS abs_cusum
    FROM scored
    ORDER BY abs(cusum) DESC, day LIMIT {CUSUM_TOP_K}
"""


# --- dependence measures ----------------------------------------------------

def x94_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual-information decomposition of the (event_type ×
    ISO-weekday) contingency table: per cell, PMI = ln(p(x,y)/(p(x)p(y)))
    and its MI contribution p(x,y)·PMI — the information-theoretic
    sibling of x76's chi-square screen (chi-square says WHETHER type and
    weekday are dependent; the PMI cells say WHERE, in nats, and their
    sum is the mutual information). Weekday via ISO day-of-week (1=Mon),
    identical on both engines.

    Scale shape: one event-scale pass to a |types|×7 contingency table;
    marginals are window sums over that tiny table. Output ≤ |types|×7
    rows.
    """
    ev = load_table(spark, sf_dir, "events")
    joint = (
        ev.select(
            "event_type",
            (F.weekday("ts") + F.lit(1)).cast("bigint").alias("isodow"),
        )
        .groupBy("event_type", "isodow")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wx = W.partitionBy("event_type")
    wy = W.partitionBy("isodow")
    tot = W.partitionBy()
    nx = F.sum("n").over(wx)
    ny = F.sum("n").over(wy)
    nn = F.sum("n").over(tot)
    pmi = F.log(F.col("n") * nn / (nx * ny))
    return (
        joint.select(
            "event_type",
            "isodow",
            F.col("n").cast("bigint").alias("n"),
            F.round(pmi, 6).alias("pmi"),
            F.round((F.col("n") / nn) * pmi, 6).alias("mi_contrib"),
        )
        .orderBy("event_type", "isodow")
    )


QUERIES["x94_mutual_information"] = x94_mutual_information

ORACLE["x94_mutual_information"] = """
    WITH joint AS (
        SELECT event_type, CAST(isodow(ts) AS BIGINT) AS isodow,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, isodow,
           CAST(n AS BIGINT) AS n,
           ROUND(ln(n * SUM(n) OVER ()
                    / (SUM(n) OVER (PARTITION BY event_type)
                       * SUM(n) OVER (PARTITION BY isodow))), 6) AS pmi,
           ROUND((n / SUM(n) OVER ())
                 * ln(n * SUM(n) OVER ()
                      / (SUM(n) OVER (PARTITION BY event_type)
                         * SUM(n) OVER (PARTITION BY isodow))), 6)
               AS mi_contrib
    FROM joint
    ORDER BY event_type, isodow
"""


# --- relational: pivot / frontier -------------------------------------------

def q63_pivot_revenue_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region × order-month revenue matrix via PIVOT — the wide-format
    report query (`groupBy().pivot()` with EXPLICIT month values, so
    Spark skips the extra distinct-values scan and the output schema is
    static). Months come out as m01..m12 columns.

    Scale shape: orders pre-aggregate per (custkey, month) BEFORE the
    customer join (shrinks the shuffle to ≤12 rows per customer); the
    nation→region mapping is a broadcast; the pivot itself is an
    ordinary hash aggregate over |regions| groups with 12 pivot slots —
    no extra shuffle beyond the FK join.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    )
    # Micro-unit accumulation in split (hi, lo) LONG parts (r9, the
    # q66/q83 discipline without the decimal tax): the per-cell sums
    # re-fold the per-(cust, month) partials — a structurally
    # different fold than the oracle's raw-row sum — and LONG part
    # sums are associative and exact under ANY fold order, so the two
    # levels recombine to the identical total. The pivot carries the
    # pair and the final select recombines + rounds with the same op
    # sequence in both engines (functions/exact_agg.py).
    hi, lo = exact_parts("o_totalprice")
    per_cust_month = orders.groupBy(
        "o_custkey", F.month("o_orderdate").alias("m")
    ).agg(hi.alias("hi"), lo.alias("lo"))
    dim = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    joined = per_cust_month.join(
        dim, per_cust_month.o_custkey == dim.c_custkey
    )
    pivoted = (
        joined.groupBy("r_name")
        .pivot("m", list(range(1, 13)))
        .agg(F.sum("hi").alias("hi"), F.sum("lo").alias("lo"))
    )
    return pivoted.select(
        "r_name",
        *[F.expr(rounded_from_parts_sql(f"`{m}_hi`", f"`{m}_lo`", "DIV"))
          .alias(f"m{m:02d}")
          for m in range(1, 13)],
    ).orderBy("r_name")


QUERIES["q63_pivot_revenue_matrix"] = q63_pivot_revenue_matrix

_PIVOT_CASE_SQL = ",\n           ".join(
    "CAST({r} AS DOUBLE) AS m{m:02d}".format(
        r=rounded_from_parts_sql(
            *exact_parts_oracle(
                f"CASE WHEN month(o_orderdate) = {m} "
                f"THEN o_totalprice END"),
            "//"),
        m=m,
    )
    for m in range(1, 13)
)
ORACLE["q63_pivot_revenue_matrix"] = f"""
    SELECT r.r_name,
           {_PIVOT_CASE_SQL}
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
"""



def q64_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) of customers over (total spend,
    order count): a customer is kept iff no other customer is ≥ on both
    axes and > on at least one. The oracle states the SEMANTICS directly
    (NOT EXISTS dominance, O(n²)); the Spark plan computes the same set
    with a bucket-pruned O(n log n) sweep:

    1. per-customer aggregate (map-side partial);
    2. broadcast (min, max) spend → assign each point one of
       ``PARETO_PRUNE_BUCKETS`` spend buckets;
    3. per-bucket max order-count (tiny agg) → suffix-max over HIGHER
       buckets, broadcast back: any point with count ≤ a strictly-higher
       bucket's max is dominated (higher bucket ⇒ strictly higher spend,
       given the distinct-spend precondition pinned in
       tests/test_mining.py) and is dropped BEFORE the sort;
    4. exact sweep on the survivors: sort by spend DESC, keep iff count
       exceeds the running max of all previous rows.

    Dominators needed by the sweep always survive pruning (a pruned
    point's own dominator transitively dominates whatever it dominated),
    so the sweep over survivors is exact. At 100 TB the expensive global
    sort runs only on the pruned survivor set, whose size is bounded by
    the frontier's inherent output size plus per-bucket slack.

    Core algorithm: ``operators/frontier.py::pareto_frontier_2d``
    (property-tested against the naive dominance definition on
    arbitrary generated point sets, tests/test_properties.py).
    """
    from ..operators.frontier import pareto_frontier_2d

    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    frontier = pareto_frontier_2d(agg, "spend", "n_orders")
    return frontier.select(
        F.col("o_custkey").alias("c_custkey"),
        F.round("spend", 2).alias("spend"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
    ).orderBy(F.desc("spend"))


QUERIES["q64_pareto_frontier"] = q64_pareto_frontier

ORACLE["q64_pareto_frontier"] = """
    WITH agg AS (
        SELECT o_custkey AS c_custkey,
               SUM(o_totalprice) AS spend,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT c_custkey, ROUND(spend, 2) AS spend,
           CAST(n_orders AS BIGINT) AS n_orders
    FROM agg a
    WHERE NOT EXISTS (
        SELECT 1 FROM agg b
        WHERE b.spend >= a.spend AND b.n_orders >= a.n_orders
          AND (b.spend > a.spend OR b.n_orders > a.n_orders)
    )
    ORDER BY spend DESC
"""


# --- vocabulary coverage ----------------------------------------------------

VOCAB_K = 20


def x95_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus's own top-K
    term vocabulary — the tokenizer-coverage audit run before committing
    a vocab: a source whose OOV mass is an outlier is either a different
    register/language or garbage, and will fragment into rare tokens at
    training time (complements x74's entropy and x80's Zipf shape).
    Vocabulary = top ``VOCAB_K`` terms by corpus frequency, term-asc
    tie-break (the x13 rule).

    Scale shape: ONE corpus token pass to per-(source, term) counts
    (persisted — consumed by the vocab head AND the coverage agg);
    vocabulary head is a TakeOrdered over term-scale rows; coverage is a
    broadcast semi-style join of term counts against the K-row vocab.
    No corpus-scale shuffle after the first aggregate.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    term_counts = (
        docs.select(
            "source",
            F.explode(tokens_expr(F.lower(F.col("text")))).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(track_persist)
    )
    vocab = (
        term_counts.groupBy("term")
        .agg(F.sum("n").alias("freq"))
        .orderBy(F.desc("freq"), "term")
        .limit(VOCAB_K)
        .select("term")
    )
    flagged = term_counts.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "term", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.round(
                F.sum(
                    F.when(F.col("in_vocab").isNull(), F.col("n")).otherwise(0)
                )
                / F.sum("n"),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


QUERIES["x95_vocab_oov"] = x95_vocab_oov

ORACLE["x95_vocab_oov"] = rf"""
    WITH term_counts AS (
        SELECT source, term, COUNT(*) AS n FROM (
            SELECT source,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
            FROM documents WHERE trim(text) <> ''
        ) GROUP BY 1, 2
    ),
    vocab AS (
        SELECT term FROM (
            SELECT term, SUM(n) AS freq FROM term_counts GROUP BY 1
        )
        ORDER BY freq DESC, term LIMIT {VOCAB_K}
    )
    SELECT tc.source,
           CAST(SUM(tc.n) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN tc.n ELSE 0 END)
                AS BIGINT) AS n_oov,
           ROUND(SUM(CASE WHEN v.term IS NULL THEN tc.n ELSE 0 END)
                 / CAST(SUM(tc.n) AS DOUBLE), 6) AS oov_rate
    FROM term_counts tc LEFT JOIN vocab v ON tc.term = v.term
    GROUP BY 1
    ORDER BY 1
"""


# --- entity resolution ------------------------------------------------------

ER_LEV_MAX = 4


def x96_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over the part catalog — the classic
    block → match → cluster → survive pipeline composed from the
    engine's own operators: blocking on (noun, type) keys (the x41
    sorted-neighborhood idea with a natural key), an edit-distance
    matcher (q28's scalar function as the pairwise rule), transitive
    closure via the x21 min-label connected-components operator, and a
    survivorship aggregate electing the min-key record per entity.
    Part names are adjective+noun composites with exact duplicates and
    near-variants, so clusters are non-trivial at every test SF.

    Scale shape: EXACT duplicates collapse before the fuzzy matcher —
    parts sharing (p_name, p_type) pairwise-match at distance 0, so
    the edit-distance rule only needs DISTINCT names: one star edge
    per group member plus one rep-edge per matched distinct-name pair
    reaches the same transitive closure as all-member pairwise (the
    dedup-exact-before-fuzzy move every ER pipeline makes). That turns
    the matcher's cost from Σ C(|block|, 2) node pairs into
    Σ C(|distinct names in block|, 2) — quadratic in the name-variant
    count, not the row count (sf0.1: 4.16M node pairs → 1,344 name
    pairs). The remaining self-join is an equi-join on the (noun,
    p_type) block key, never all-pairs; the DP itself is banded by the
    threshold form of ``levenshtein`` (early-exit at ER_LEV_MAX).
    Closure cost is O(diameter) rounds over the ~node-count star edges
    (operators/graph.py). Survivorship is one |clusters|-group
    aggregate.
    """
    from ..operators.graph import neardup_clusters

    parts = load_table(spark, sf_dir, "part").withColumn(
        "noun", F.element_at(F.split("p_name", " "), 2)
    )
    # one representative node per exact (p_name, p_type) duplicate group
    groups = parts.groupBy("p_name", "p_type", "noun").agg(
        F.min("p_partkey").alias("rep")
    )
    star = (
        parts.join(groups.select("p_name", "p_type", "rep"),
                   ["p_name", "p_type"])
        .filter(F.col("p_partkey") != F.col("rep"))
        .select(F.col("rep").alias("a"), F.col("p_partkey").alias("b"))
    )
    ga = groups.select(
        F.col("rep").alias("a"),
        F.col("p_name").alias("name_a"),
        F.col("noun").alias("noun_a"),
        F.col("p_type").alias("type_a"),
    )
    gb = groups.select(
        F.col("rep").alias("b"),
        F.col("p_name").alias("name_b"),
        F.col("noun").alias("noun_b"),
        F.col("p_type").alias("type_b"),
    )
    # threshold form: returns -1 when distance exceeds ER_LEV_MAX, so
    # `>= 0` is exactly `levenshtein(...) <= ER_LEV_MAX` with a banded
    # O(threshold * len) DP instead of the full O(len^2) table
    rep_edges = (
        ga.join(
            gb,
            (F.col("noun_a") == F.col("noun_b"))
            & (F.col("type_a") == F.col("type_b"))
            & (F.col("a") < F.col("b")),
        )
        .filter(F.levenshtein("name_a", "name_b", ER_LEV_MAX) >= 0)
        .select("a", "b")
    )
    edges = star.unionAll(rep_edges)
    clustered = neardup_clusters(parts, edges, "p_partkey")
    return (
        clustered.groupBy(F.col("cluster_id").alias("entity_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.countDistinct("p_name").cast("bigint").alias("n_names"),
            F.countDistinct("p_brand").cast("bigint").alias("n_brands"),
            F.min_by("p_name", "p_partkey").alias("canonical_name"),
        )
        .orderBy("entity_id")
    )


QUERIES["x96_entity_resolution"] = x96_entity_resolution

ORACLE["x96_entity_resolution"] = f"""
    WITH RECURSIVE p AS (
        SELECT p_partkey, p_name, p_brand, p_type,
               string_split(p_name, ' ')[2] AS noun
        FROM part
    ),
    pairs AS (
        SELECT a.p_partkey AS a, b.p_partkey AS b
        FROM p a JOIN p b
          ON a.noun = b.noun AND a.p_type = b.p_type
         AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= {ER_LEV_MAX}
    ),
    sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a
    ),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    clustered AS (
        SELECT p.*, COALESCE(comp.component, p.p_partkey) AS entity_id
        FROM p LEFT JOIN comp ON p.p_partkey = comp.node
    )
    SELECT entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_names,
           CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands,
           arg_min(p_name, p_partkey) AS canonical_name
    FROM clustered
    GROUP BY 1
    ORDER BY 1
"""


# --- data-quality expectations ----------------------------------------------

def x97_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation report over the order fact
    tables — the pre-flight gate a pipeline runs before trusting an
    ingest (the engine-level generalization of the reference's row-count
    reconciliation, validation.py O4): referential integrity both
    directions, cross-table temporal sanity (line items shipped before
    their order date), domain ranges, null contracts, and primary-key
    uniqueness, each reported as (violations, checked, rate). The
    synthetic feed genuinely violates the temporal check and has
    childless orders, so the report is non-vacuous by construction
    (pinned in tests/test_mining.py).

    Scale shape: per-table checks fold into ONE map-side aggregate per
    table (sum(CASE) batteries — no per-check pass); the two
    referential checks share ONE column-pruned join each. Output is a
    fixed 8-row report.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag",
        "l_shipdate",
    )
    orders = load_table(spark, sf_dir, "orders")

    # lineitem-side joined checks: orphan FK + ship-before-order, one join
    lo = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
        "left",
    )
    joined_checks = lo.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .alias("orphans"),
        F.sum(
            F.when(
                F.col("o_orderkey").isNotNull()
                & (F.col("l_shipdate") < F.col("o_orderdate")),
                1,
            ).otherwise(0)
        ).alias("early_ship"),
    ).selectExpr(
        "stack(2, 'li_orphan_order_fk', orphans, n, "
        "'li_ship_before_order', early_ship, n) AS (check_name, "
        "n_violations, n_checked)"
    )

    childless = (
        orders.select("o_orderkey")
        .join(li.select("l_orderkey").distinct(),
              F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0))
            .alias("v"),
        )
        .selectExpr(
            "stack(1, 'orders_childless', v, n) AS (check_name, "
            "n_violations, n_checked)"
        )
    )

    li_checks = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0)
        ).alias("qty"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0))
        .alias("price"),
        F.sum(F.when(F.col("l_returnflag").isNull(), 1).otherwise(0))
        .alias("rflag"),
    ).selectExpr(
        "stack(3, 'li_quantity_out_of_range', qty, n, "
        "'li_nonpositive_price', price, n, "
        "'li_null_returnflag', rflag, n) AS (check_name, n_violations, "
        "n_checked)"
    )

    o_checks = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0))
        .alias("pri"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup"),
    ).selectExpr(
        "stack(2, 'orders_null_priority', pri, n, "
        "'orders_duplicate_pk', dup, n) AS (check_name, n_violations, "
        "n_checked)"
    )

    report = joined_checks.unionByName(childless).unionByName(
        li_checks
    ).unionByName(o_checks)
    return report.select(
        "check_name",
        F.col("n_violations").cast("bigint").alias("n_violations"),
        F.col("n_checked").cast("bigint").alias("n_checked"),
        F.round(F.col("n_violations") / F.col("n_checked"), 6).alias(
            "violation_rate"
        ),
    ).orderBy("check_name")


QUERIES["x97_dq_expectations"] = x97_dq_expectations

ORACLE["x97_dq_expectations"] = """
    WITH lo AS (
        SELECT l.l_orderkey, l.l_shipdate, o.o_orderkey, o.o_orderdate
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    checks AS (
        SELECT 'li_orphan_order_fk' AS check_name,
               SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                   AS n_violations,
               COUNT(*) AS n_checked
        FROM lo
        UNION ALL
        SELECT 'li_ship_before_order',
               SUM(CASE WHEN o_orderkey IS NOT NULL
                         AND l_shipdate < o_orderdate THEN 1 ELSE 0 END),
               COUNT(*)
        FROM lo
        UNION ALL
        SELECT 'orders_childless',
               SUM(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END),
               COUNT(*)
        FROM orders o LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
          ON o.o_orderkey = l.l_orderkey
        UNION ALL
        SELECT 'li_quantity_out_of_range',
               SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                        THEN 1 ELSE 0 END),
               COUNT(*)
        FROM lineitem
        UNION ALL
        SELECT 'li_nonpositive_price',
               SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END),
               COUNT(*)
        FROM lineitem
        UNION ALL
        SELECT 'li_null_returnflag',
               SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END),
               COUNT(*)
        FROM lineitem
        UNION ALL
        SELECT 'orders_null_priority',
               SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
               COUNT(*)
        FROM orders
        UNION ALL
        SELECT 'orders_duplicate_pk',
               COUNT(*) - COUNT(DISTINCT o_orderkey),
               COUNT(*)
        FROM orders
    )
    SELECT check_name,
           CAST(n_violations AS BIGINT) AS n_violations,
           CAST(n_checked AS BIGINT) AS n_checked,
           ROUND(n_violations * 1.0 / n_checked, 6) AS violation_rate
    FROM checks
    ORDER BY check_name
"""


# --- time-series decomposition ----------------------------------------------

TREND_HALF_WIDTH = 3  # centered 7-day moving average


def x98_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily event-count series:
    observed = trend (centered 7-day moving average, partial windows at
    the edges) + weekday effect (mean detrended value per ISO weekday,
    re-centered so the 7 effects sum to zero) + residual — the STL-lite
    a metrics pipeline runs so anomaly thresholds (x40) and changepoint
    scans (x93) operate on residuals instead of raw counts, where weekly
    periodicity (measured by x92's lag-7 ACF) would otherwise drown the
    signal.

    Scale shape: ONE event-scale pass collapses to |days| rows; the
    moving-average window, the 7-row weekday-effect aggregate, and the
    re-centering broadcast all run at day scale. Output is |days| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    w_ma = W.orderBy("day").rowsBetween(-TREND_HALF_WIDTH, TREND_HALF_WIDTH)
    with_trend = daily.withColumn("trend", F.avg("x").over(w_ma)).withColumn(
        "isodow", (F.weekday("day") + F.lit(1)).cast("int")
    )
    dow_raw = with_trend.groupBy("isodow").agg(
        F.avg(F.col("x") - F.col("trend")).alias("raw_effect")
    )
    center = dow_raw.agg(F.avg("raw_effect").alias("grand"))
    dow = dow_raw.crossJoin(F.broadcast(center)).select(
        "isodow", (F.col("raw_effect") - F.col("grand")).alias("seasonal_raw")
    )
    return (
        with_trend.join(F.broadcast(dow), "isodow")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("x").cast("bigint").alias("observed"),
            F.round("trend", 6).alias("trend"),
            F.round("seasonal_raw", 6).alias("seasonal"),
            F.round(
                F.col("x") - F.col("trend") - F.col("seasonal_raw"), 6
            ).alias("residual"),
        )
        .orderBy("day")
    )


QUERIES["x98_seasonal_decomposition"] = x98_seasonal_decomposition

ORACLE["x98_seasonal_decomposition"] = f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS x
        FROM events GROUP BY 1
    ),
    with_trend AS (
        SELECT day, x,
               AVG(x) OVER (ORDER BY day
                   ROWS BETWEEN {TREND_HALF_WIDTH} PRECEDING
                   AND {TREND_HALF_WIDTH} FOLLOWING) AS trend,
               isodow(day) AS isodow
        FROM daily
    ),
    dow_raw AS (
        SELECT isodow, AVG(x - trend) AS raw_effect
        FROM with_trend GROUP BY 1
    ),
    dow AS (
        SELECT isodow,
               raw_effect - (SELECT AVG(raw_effect) FROM dow_raw)
                   AS seasonal_raw
        FROM dow_raw
    )
    SELECT strftime(t.day, '%Y-%m-%d') AS day,
           CAST(t.x AS BIGINT) AS observed,
           ROUND(t.trend, 6) AS trend,
           ROUND(d.seasonal_raw, 6) AS seasonal,
           ROUND(t.x - t.trend - d.seasonal_raw, 6) AS residual
    FROM with_trend t JOIN dow d ON t.isodow = d.isodow
    ORDER BY day
"""


# --- market-basket association ----------------------------------------------

BASKET_MIN_PAIR = 2
BASKET_TOP_K = 20


def x99_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over order line items: for part
    pairs co-occurring in ≥``BASKET_MIN_PAIR`` orders, support,
    directional confidence, and lift — the co-purchase sibling of x75's
    token-PMI (same counts-ratio algebra, basket-keyed instead of
    adjacency-keyed). Top-``BASKET_TOP_K`` pairs by lift; tie-broken on
    the part-key pair, and both engines order on the UNROUNDED lift
    (identical integer-ratio doubles), so the cut is deterministic.

    Scale shape: pair generation is a self-equi-join ON THE ORDER KEY —
    fan-out bounded by per-basket size squared (≈ lines-per-order², a
    data constant), never |parts|². Item frequencies attach via a
    broadcast-sized aggregate; the head is a TakeOrdered.
    """
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct().transform(
        track_persist
    )
    # one-row broadcast, never a driver-side count (the x78 nn rule)
    n = basket.agg(
        F.countDistinct("l_orderkey").cast("double").alias("n_orders")
    )
    item = basket.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a = basket.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    b = basket.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_PAIR)
    )
    ia = item.select(
        F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")
    )
    lift = (
        F.col("n_ab").cast("double") * F.col("n_orders")
        / (F.col("n_a") * F.col("n_b"))
    )
    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n))
        .withColumn("lift_raw", lift)
        .orderBy(F.desc("lift_raw"), "part_a", "part_b")
        .limit(BASKET_TOP_K)
        .select(
            "part_a",
            "part_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(F.col("n_ab") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("confidence"),
            F.round("lift_raw", 6).alias("lift"),
        )
    )


QUERIES["x99_market_basket"] = x99_market_basket

ORACLE["x99_market_basket"] = f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM basket),
    item AS (
        SELECT l_partkey, COUNT(*) AS n_item FROM basket GROUP BY 1
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_ab
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {BASKET_MIN_PAIR}
    )
    SELECT p.part_a, p.part_b,
           CAST(p.n_ab AS BIGINT) AS n_ab,
           ROUND(p.n_ab * 1.0 / n.n_orders, 6) AS support,
           ROUND(p.n_ab * 1.0 / ia.n_item, 6) AS confidence,
           ROUND(p.n_ab * 1.0 * n.n_orders / (ia.n_item * ib.n_item), 6)
               AS lift
    FROM pairs p
    JOIN item ia ON p.part_a = ia.l_partkey
    JOIN item ib ON p.part_b = ib.l_partkey,
    n
    ORDER BY p.n_ab * 1.0 * n.n_orders / (ia.n_item * ib.n_item) DESC,
             p.part_a, p.part_b
    LIMIT {BASKET_TOP_K}
"""


# --- hybrid retrieval: reciprocal-rank fusion (r14) ---------------------------

_X132_POOL = 50
#: The standard RRF damping constant (Cormack, Clarke & Büttcher 2009,
#: "Reciprocal rank fusion outperforms Condorcet and individual rank
#: learning methods").
_X132_RRF_K = 60
_X132_TOP = 20
#: The semantic probe: embeddings.vec_id 0 (vec_id aligns 1:1 with
#: documents.doc_id in the test corpus — the face's declared mapping).
_X132_PROBE_ID = 0


def x132_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion — the fusion step
    every RAG / retrieval curation stack runs between its lexical
    scorer (BM25, x88) and its embedding ANN (cosine, x06): each
    modality contributes its top-``_X132_POOL`` ranked list, a
    document's fused score is ``Σ_lists 1/(k₀ + rank)`` over the lists
    that contain it (k₀ = 60, Cormack et al. 2009), and the final
    answer is the fused top-20. Rank fusion needs only the RANKS, so
    the cross-engine contract is integer-exact: both modalities rank
    on 6dp-ROUNDED scores with id tie-breaks (the x06/x88 float-order
    discipline), and the RRF contribution is quantized to parts-per-
    million with integer division — no float crosses the engine
    boundary.

    Scale shape: each modality is its own bounded retrieval (BM25 =
    one corpus pass + posting-scale TakeOrdered; cosine = one-row
    probe broadcast + windowed top-k — the x06 plan); the fusion
    phase touches two ≤ 50-row frames (full-outer join on doc_id +
    TakeOrdered 20), so at 100 TB fusion cost is pool size, not
    corpus size. The two rank windows run on ≤ 50-row frames
    (allowlisted bounded SinglePartition, the q30/x110 class).

    Output: one row per fused top-20 doc — ``doc_id``, the two
    modality ranks (NULL when the doc is outside that modality's
    pool), and ``rrf_ppm``.
    """
    from ..operators.similarity import cosine_topk  # noqa: PLC0415

    lex_pool = (
        _bm25_raw_scores(spark, sf_dir)
        .select("doc_id", F.round("raw", 6).alias("s"))
        .orderBy(F.desc("s"), "doc_id")
        .limit(_X132_POOL)
    )
    lex = lex_pool.select(
        "doc_id",
        F.row_number().over(W.orderBy(F.desc("s"), "doc_id"))
        .cast("long").alias("rank_lex"),
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double"))
        .alias("embedding"),
    )
    q0 = emb.filter(F.col("vec_id") == _X132_PROBE_ID)
    sem = cosine_topk(emb, q0, k=_X132_POOL).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("long").alias("rank_sem"),
    )
    contrib = (
        F.when(F.col("rank_lex").isNotNull(),
               F.expr(f"1000000 DIV ({_X132_RRF_K} + rank_lex)"))
        .otherwise(F.lit(0))
        + F.when(F.col("rank_sem").isNotNull(),
                 F.expr(f"1000000 DIV ({_X132_RRF_K} + rank_sem)"))
        .otherwise(F.lit(0))
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .withColumn("rrf_ppm", contrib.cast("long"))
        .orderBy(F.desc("rrf_ppm"), "doc_id")
        .limit(_X132_TOP)
        .select("doc_id", "rank_lex", "rank_sem", "rrf_ppm")
    )


QUERIES["x132_rrf_fusion"] = x132_rrf_fusion

ORACLE["x132_rrf_fusion"] = rf"""
    WITH per_doc AS (
        SELECT doc_id, len(toks) AS dl, {_BM25_TF_SQL}
        FROM (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS toks
            FROM documents WHERE trim(text) <> ''
        )
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl, {_BM25_DF_SQL}
        FROM per_doc
    ),
    scored AS (
        SELECT doc_id, {_BM25_SCORE_SQL} AS raw
        FROM per_doc, stats
    ),
    lexpool AS (
        SELECT doc_id, ROUND(raw, 6) AS s FROM scored WHERE raw > 0
        ORDER BY s DESC, doc_id LIMIT {_X132_POOL}
    ),
    lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY s DESC, doc_id)
                    AS BIGINT) AS rank_lex
        FROM lexpool
    ),
    v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])) > 0
    ),
    pairs AS (
        SELECT c.vec_id AS doc_id,
               ROUND(list_dot_product(q.e, c.e) /
                     (sqrt(list_dot_product(q.e, q.e))
                      * sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
        FROM v q JOIN v c
          ON q.vec_id = {_X132_PROBE_ID} AND c.vec_id <> q.vec_id
    ),
    sem AS (
        SELECT doc_id, CAST(rn AS BIGINT) AS rank_sem FROM (
            SELECT doc_id, row_number() OVER (
                ORDER BY cosine DESC, doc_id) AS rn
            FROM pairs
        ) WHERE rn <= {_X132_POOL}
    ),
    fused AS (
        SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
               lex.rank_lex, sem.rank_sem
        FROM lex FULL OUTER JOIN sem ON sem.doc_id = lex.doc_id
    )
    SELECT doc_id, rank_lex, rank_sem,
           CAST(COALESCE(1000000 // ({_X132_RRF_K} + rank_lex), 0)
                + COALESCE(1000000 // ({_X132_RRF_K} + rank_sem), 0)
                AS BIGINT) AS rrf_ppm
    FROM fused
    ORDER BY rrf_ppm DESC, doc_id
    LIMIT {_X132_TOP}
"""
