"""Round-3 curation extension queries — span-level exact-substring dedup,
corpus-trained unigram LM quality scoring, and statistical anomaly
detection. These extend SURVEY.md §2.9 (X4 text analysis / X1 dedup)
with the remaining ops a large-scale training-data pipeline runs between
exact dedup and quality filtering.

Same driver contract as the other plan modules: each query has DuckDB
oracle SQL with identical column aliases; counts are CAST to BIGINT in
the oracle (DuckDB SUM(BIGINT) → HUGEINT renders differently from
Spark's BIGINT — the x26/x27/x31 round-2 lesson).
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.text import tokens_expr
from ..operators.sampling import holdout_thresholds, md5_band_width
from ..sources import load_table

QUERIES: dict = {}
ORACLE: dict = {}

# Non-overlapping span width (tokens) for exact-substring dedup.
SPAN_TOKENS = 20


# --- X1 extension: span-level exact-substring dedup -------------------------

def x38_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup (X1 at sub-document granularity):
    chunk every document into non-overlapping ``SPAN_TOKENS``-token spans,
    rank identical spans by first occurrence ``(doc_id, span_idx)``, and
    report the duplicated-span mass per source — the chunk-hash
    approximation of suffix-array ExactSubstr dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"), which a
    curation pipeline runs after whole-doc dedup (x01) to catch repeated
    boilerplate passages embedded in otherwise-unique documents.

    Scale shape: tokens are materialized once in their own projection
    (HOF-CSE pitfall — an inline split() inside ``transform`` re-splits
    per span), spans explode to O(tokens/20) rows per doc, and the
    first-occurrence rank shuffles on ``xxhash64(span)`` — a fixed-width
    64-bit key, never the span string (the repo-wide sketch policy;
    collision odds at 1e12 spans ≈ 2.7e-8). One explode, one shuffle,
    one tiny per-source aggregate. The oracle partitions by the span
    string itself, pinning hash-vs-string equivalence.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    toks = docs.select(
        "doc_id", "source", tokens_expr(F.col("text")).alias("toks")
    )
    n_spans = F.ceil(F.size("toks") / F.lit(SPAN_TOKENS)).cast("int")
    spans = toks.select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(
                    F.slice("toks", i * SPAN_TOKENS + 1, SPAN_TOKENS), " "
                ),
            )
        ).alias("span_idx", "span"),
    ).select("doc_id", "source", "span_idx", F.xxhash64("span").alias("span_h"))
    w = W.partitionBy("span_h").orderBy("doc_id", "span_idx")
    ranked = spans.withColumn("__rn", F.row_number().over(w))
    dup = F.sum((F.col("__rn") > 1).cast("bigint"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_spans"),
            dup.alias("n_dup_spans"),
            F.round(dup / F.count("*"), 6).alias("dup_ratio"),
        )
        .orderBy("source")
    )


QUERIES["x38_span_dedup"] = x38_span_dedup

ORACLE["x38_span_dedup"] = r"""
    WITH toks AS (
        SELECT doc_id, source,
               string_split_regex(trim(text), '\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ),
    spans AS (
        SELECT doc_id, source, CAST(i AS INTEGER) AS span_idx,
               array_to_string(t[(i * 20 + 1):(i * 20 + 20)], ' ') AS span
        FROM toks,
             LATERAL (
                 SELECT unnest(range(CAST(ceil(len(t) / 20.0) AS BIGINT))) AS i
             )
    ),
    ranked AS (
        SELECT source,
               ROW_NUMBER() OVER (
                   PARTITION BY span ORDER BY doc_id, span_idx
               ) AS rn
        FROM spans
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           ROUND(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) / COUNT(*), 6)
               AS dup_ratio
    FROM ranked GROUP BY source ORDER BY source
"""


# --- X4 extension: corpus-trained unigram LM quality score ------------------

def x39_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM quality score (X4): train token
    log-probabilities over the FULL corpus, then score a document as the
    mean token log-prob — the in-engine analog of CCNet-style LM
    perplexity filtering, with the unigram table standing in for the
    external KenLM model (no model dependency; the vocabulary IS the
    corpus, so no OOV smoothing is needed). ``bits_per_token`` is derived
    from the already-rounded score so the conversion adds no float noise.

    Scale shape: ONE corpus pass — the |vocab|-sized count aggregate is
    the only consumer of the exploded terms (the corpus total derives
    from the vocab table itself, not a second scan) and rides back as a
    broadcast hash join (vocab ≪ corpus at any scale; at web scale, cap
    to top-K tokens + an OOV floor row). The total rides as a broadcast
    one-row cross join (no driver ``count()`` action — x13's pattern).
    The scored slice (doc_id < 50) prunes into the scan on the scoring
    side only.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    terms = docs.select(
        "doc_id", F.explode(tokens_expr(F.col("text"))).alias("term")
    )
    counts = terms.groupBy("term").agg(F.count("*").alias("cnt"))
    vocab = counts.crossJoin(
        F.broadcast(counts.agg(F.sum("cnt").alias("total")))
    )
    logp = F.log(F.col("cnt") / F.col("total"))
    scored = (
        terms.filter(F.col("doc_id") < 50)
        .join(F.broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(logp), 6).alias("avg_logp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "avg_logp",
        F.round(-F.col("avg_logp") / F.lit(math.log(2.0)), 6).alias(
            "bits_per_token"
        ),
    ).orderBy("doc_id")


QUERIES["x39_unigram_lm_score"] = x39_unigram_lm_score

ORACLE["x39_unigram_lm_score"] = r"""
    WITH terms AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents WHERE trim(text) <> ''
    ),
    vocab AS (SELECT term, COUNT(*) AS cnt FROM terms GROUP BY 1),
    tot AS (SELECT COUNT(*) AS total FROM terms),
    d AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(ln(v.cnt / tot.total)), 6) AS avg_logp
        FROM terms t
        JOIN vocab v USING (term)
        CROSS JOIN tot
        WHERE t.doc_id < 50
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, avg_logp,
           ROUND(-avg_logp / ln(2), 6) AS bits_per_token
    FROM d ORDER BY doc_id
"""


# --- statistical anomaly detection over events ------------------------------

def x40_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection over the events stream's batch twin:
    per-type mean/stddev, broadcast back, flag |z| > 2.5 — the outlier
    gate a telemetry pipeline runs before aggregation (and the batch twin
    of a streaming quality monitor). Stats are rounded to 9dp in BOTH
    engines before the z computation (x37's determinism pattern: the
    broadcast stats table is then bit-identical everywhere, so the only
    cross-engine float surface is the final rounded max).

    Scale shape: per-type stats are a |types|-row aggregate (tiny) that
    returns as a broadcast hash join — NOT a window over event_type
    (a window would sort every event within ~5 giant partitions; the
    groupBy aggregates map-side first). One shuffle for the stats, one
    for the final per-type rollup; the event payload never shuffles.
    """
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 9).alias("mu"),
        F.round(F.stddev_samp("value"), 9).alias("sigma"),
    )
    # try_divide: a constant-valued type has sigma 0 (ANSI /0 throws);
    # a single-event type has sigma NULL. NULL z rows count as
    # non-anomalous below, matching the oracle (whose NaN > 2.5 is
    # false and whose SUM(CASE ... ELSE 0) never goes NULL).
    z = F.try_divide(F.col("value") - F.col("mu"), F.col("sigma"))
    flagged = ev.join(F.broadcast(stats), "event_type").withColumn(
        "absz", F.abs(z)
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.coalesce((F.col("absz") > 2.5).cast("bigint"),
                              F.lit(0))).alias("n_anomalies"),
            F.round(F.max("absz"), 4).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


QUERIES["x40_event_anomalies"] = x40_event_anomalies

ORACLE["x40_event_anomalies"] = """
    WITH stats AS (
        SELECT event_type,
               ROUND(AVG(value), 9) AS mu,
               ROUND(STDDEV_SAMP(value), 9) AS sigma
        FROM events GROUP BY 1
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN ABS((e.value - s.mu) / s.sigma) > 2.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           ROUND(MAX(ABS((e.value - s.mu) / s.sigma)), 4) AS max_abs_z
    FROM events e JOIN stats s USING (event_type)
    GROUP BY e.event_type ORDER BY e.event_type
"""


# --- X2 extension: sorted-neighborhood blocking dedup -----------------------

def x41_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate generation (the third classic
    entity-resolution blocking family next to LSH banding x08 and the
    inverted shingle index x10): sort each language block by
    ``(n_chars, doc_id)``, slide a window of size 3, and emit neighbor
    pairs whose distinct-token Jaccard ≥ 0.8. Jaccard here is a ratio of
    exact set cardinalities — rational, so bit-identical across engines.

    Scale shape: the sort is PER BLOCK (``partitionBy(lang)``), never a
    global single-partition window; each row joins only its w-1=2
    successors via ``lead`` (zero self-join, zero explode fan-out beyond
    2 rows/doc). At 100 TB the block key would be a coarser prefix
    (e.g. fingerprint head) to keep blocks under executor memory; the
    window machinery is unchanged.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    base = docs.select(
        "doc_id", "lang", "n_chars",
        F.array_distinct(tokens_expr(F.col("text"))).alias("toks"),
    )
    w = W.partitionBy("lang").orderBy("n_chars", "doc_id")
    nb = base.select(
        "lang", "doc_id", "toks",
        F.lead("doc_id", 1).over(w).alias("id1"),
        F.lead("toks", 1).over(w).alias("t1"),
        F.lead("doc_id", 2).over(w).alias("id2"),
        F.lead("toks", 2).over(w).alias("t2"),
    )
    pairs = nb.select(
        "lang", "doc_id", "toks",
        F.explode(
            F.array(
                F.struct(F.col("id1").alias("nb_id"), F.col("t1").alias("nb_toks")),
                F.struct(F.col("id2").alias("nb_id"), F.col("t2").alias("nb_toks")),
            )
        ).alias("p"),
    ).select(
        "lang", "doc_id", "toks",
        F.col("p.nb_id").alias("nb_id"), F.col("p.nb_toks").alias("nb_toks"),
    )
    jac = F.size(F.array_intersect("toks", "nb_toks")) / F.size(
        F.array_union("toks", "nb_toks")
    )
    return (
        pairs.filter(F.col("nb_id").isNotNull())
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= 0.8)
        .select("lang", "doc_id", "nb_id", "jaccard")
        .orderBy("doc_id", "nb_id")
    )


QUERIES["x41_sorted_neighborhood"] = x41_sorted_neighborhood

ORACLE["x41_sorted_neighborhood"] = r"""
    WITH base AS (
        SELECT doc_id, lang, n_chars,
               list_distinct(string_split_regex(trim(text), '\s+')) AS toks
        FROM documents WHERE trim(text) <> ''
    ),
    nb AS (
        SELECT lang, doc_id, toks,
               lead(doc_id, 1) OVER w AS id1, lead(toks, 1) OVER w AS t1,
               lead(doc_id, 2) OVER w AS id2, lead(toks, 2) OVER w AS t2
        FROM base
        WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
    ),
    pairs AS (
        SELECT lang, doc_id, toks, id1 AS nb_id, t1 AS nb_toks FROM nb
        UNION ALL
        SELECT lang, doc_id, toks, id2 AS nb_id, t2 AS nb_toks FROM nb
    ),
    scored AS (
        SELECT lang, doc_id, nb_id,
               ROUND(len(list_intersect(toks, nb_toks))
                     / len(list_distinct(list_concat(toks, nb_toks))), 6)
                   AS jaccard
        FROM pairs WHERE nb_id IS NOT NULL
    )
    SELECT lang, doc_id, nb_id, jaccard
    FROM scored WHERE jaccard >= 0.8
    ORDER BY doc_id, nb_id
"""


# --- X6 extension: equi-width histogram profiling ---------------------------

def x42_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values per type (X6 profiling —
    the exact twin of x12's sketch profiling, and the summary a data
    validator renders as a distribution readout). Bin edges derive from
    per-type MIN/MAX — exact selections, no float accumulation — so the
    binning arithmetic is bit-identical across engines.

    Scale shape: per-type (lo, hi) is a tiny aggregate broadcast back;
    the bin id is a map-side expression; the histogram aggregate carries
    |types| × 10 rows. Nothing but the two |types|-row tables shuffles.
    """
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(10.0)
    bin_id = F.when(F.col("hi") == F.col("lo"), F.lit(1)).otherwise(
        F.least(
            F.lit(10),
            (F.floor((F.col("value") - F.col("lo")) / width) + 1).cast("int"),
        )
    ).cast("int")
    binned = (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("bin", bin_id)
        .withColumn("bin_lo", F.round(F.col("lo") + (F.col("bin") - 1) * width, 6))
    )
    return (
        binned.groupBy("event_type", "bin", "bin_lo")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "bin")
    )


QUERIES["x42_value_histogram"] = x42_value_histogram

ORACLE["x42_value_histogram"] = """
    WITH stats AS (
        SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
        FROM events GROUP BY 1
    ),
    binned AS (
        SELECT e.event_type,
               CASE WHEN s.hi = s.lo THEN 1
                    ELSE LEAST(10, CAST(FLOOR((e.value - s.lo)
                             / ((s.hi - s.lo) / 10.0)) AS INTEGER) + 1)
               END AS bin,
               s.lo, s.hi
        FROM events e JOIN stats s USING (event_type)
    )
    SELECT event_type, CAST(bin AS INTEGER) AS bin,
           ROUND(lo + (bin - 1) * ((hi - lo) / 10.0), 6) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM binned
    GROUP BY event_type, bin, lo, hi
    ORDER BY event_type, bin
"""


# --- X4/X6 extension: winsorized robust statistics --------------------------

def x43_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%-clipped) robust statistics per event type — the
    outlier-robust normalization a feature pipeline applies before
    training (robust scaling). Uses Spark's EXACT ``percentile``
    aggregate (linear interpolation, same definition as DuckDB's
    ``quantile_cont``); the clip bounds are rounded to 6dp in both
    engines so the broadcast bounds table is bit-identical (x37's
    determinism pattern).

    Scale shape: exact per-group percentile sorts within each group's
    partial state — at 100 TB you'd swap in ``percentile_approx`` (KLL,
    mergeable, already certified by x12) with the same query shape; the
    clip-and-average pass is map-side against broadcast bounds.
    """
    ev = load_table(spark, sf_dir, "events")
    pct = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.05), 6).alias("p05"),
        F.round(F.percentile("value", 0.95), 6).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        ev.join(F.broadcast(pct), "event_type")
        .groupBy("event_type", "p05", "p95")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 4).alias("mean_raw"),
            F.round(F.avg(clipped), 4).alias("mean_winsorized"),
        )
        .orderBy("event_type")
    )


QUERIES["x43_winsorized_stats"] = x43_winsorized_stats

ORACLE["x43_winsorized_stats"] = """
    WITH pct AS (
        SELECT event_type,
               ROUND(quantile_cont(value, 0.05), 6) AS p05,
               ROUND(quantile_cont(value, 0.95), 6) AS p95
        FROM events GROUP BY 1
    )
    SELECT e.event_type, p.p05, p.p95,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(e.value), 4) AS mean_raw,
           ROUND(AVG(LEAST(GREATEST(e.value, p.p05), p.p95)), 4)
               AS mean_winsorized
    FROM events e JOIN pct p USING (event_type)
    GROUP BY e.event_type, p.p05, p.p95
    ORDER BY e.event_type
"""


# --- X2 extension: duplicate-cluster survivor selection ---------------------

def x44_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection over near-duplicate clusters — the decision
    step a curation pipeline runs AFTER clustering (x21): within each
    transitive cluster keep the highest-quality member (longest document,
    ties to the smallest doc_id) and count what gets dropped. Quality
    here is ``n_chars``; any scored column (x03's quality metrics, x39's
    LM score) slots into the same window.

    Scale shape: clusters come from the iterative min-label propagation
    in operators/graph.py (localCheckpoint per round, O(diameter)
    rounds); the survivor choice is one window over cluster_id — dup
    clusters are shallow and small, so partitions are tiny. Only
    multi-member clusters are emitted (singletons pass through a real
    pipeline untouched).
    """
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.graph import neardup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id",
                                block_col="lang", threshold=0.2)
    clustered = neardup_clusters(docs, pairs.select("a", "b"), "doc_id")
    w = W.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = clustered.select("doc_id", "n_chars", "cluster_id").withColumn(
        "__rn", F.row_number().over(w)
    )
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.max(F.when(F.col("__rn") == 1, F.col("doc_id"))).alias(
                "survivor_doc_id"
            ),
            F.sum((F.col("__rn") > 1).cast("bigint")).alias("n_dropped"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy("cluster_id")
    )


QUERIES["x44_cluster_survivors"] = x44_cluster_survivors

# The cluster CTE mirrors x21's recursive-closure oracle (same pair
# predicate), extended with the survivor window.
ORACLE["x44_cluster_survivors"] = r"""
    WITH RECURSIVE d AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
                   i -> string_split_regex(lower(trim(text)), '\s+')[i] || ' ' ||
                        string_split_regex(lower(trim(text)), '\s+')[i+1] || ' ' ||
                        string_split_regex(lower(trim(text)), '\s+')[i+2]
               )) AS grams
        FROM documents
        WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 3
    ),
    pairs AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
              (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.2
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
        SELECT documents.doc_id, documents.n_chars,
               COALESCE(comp.component, documents.doc_id) AS cluster_id
        FROM documents LEFT JOIN comp ON documents.doc_id = comp.node
    ),
    ranked AS (
        SELECT cluster_id, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY cluster_id
                   ORDER BY n_chars DESC, doc_id ASC
               ) AS rn
        FROM clustered
    )
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS survivor_doc_id,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped
    FROM ranked
    GROUP BY cluster_id
    HAVING COUNT(*) >= 2
    ORDER BY cluster_id
"""


# --- time-series gap-fill resampling ----------------------------------------

def x45_gapfill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket resampling with gap filling and LOCF carry-forward —
    the hypertable rollup a time-series store exposes as
    ``time_bucket_gapfill`` (TimescaleDB semantics): hourly sums per
    event type over a DENSE hour spine (missing hours materialize as
    zero-count rows whose running value carries the last observation
    forward). Downstream consumers (charts, anomaly windows, x40) need
    the dense grid, not the sparse aggregate.

    Scale shape: the hour spine is |types| × |hours| — generated from a
    one-row min/max aggregate via ``sequence``+``explode``, NEVER a
    driver-side loop; actuals join the spine on (type, bucket) and the
    LOCF window partitions per type over the dense grid. Sums round to
    exact 0.01-multiples (repo float policy).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        "value",
    )
    actual = ev.groupBy("event_type", "bucket").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")
    )
    bounds = ev.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    spine_hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("bucket")
    )
    spine = ev.select("event_type").distinct().crossJoin(
        F.broadcast(spine_hours)
    )
    filled = spine.join(actual, ["event_type", "bucket"], "left")
    w = W.partitionBy("event_type").orderBy("bucket")
    return (
        filled.select(
            "event_type",
            "bucket",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.round(F.last("total", ignorenulls=True).over(w), 2).alias(
                "total_locf"
            ),
            (F.coalesce("n", F.lit(0)) == 0).alias("is_gap"),
        )
        .orderBy("event_type", "bucket")
    )


QUERIES["x45_gapfill_resample"] = x45_gapfill_resample

ORACLE["x45_gapfill_resample"] = """
    WITH ev AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket, value
        FROM events
    ),
    actual AS (
        SELECT event_type, bucket,
               CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS total
        FROM ev GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM ev),
    spine AS (
        SELECT t.event_type, g.bucket
        FROM (SELECT DISTINCT event_type FROM ev) t
        CROSS JOIN (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
            FROM bounds
        ) g
    ),
    filled AS (
        SELECT s.event_type, s.bucket,
               COALESCE(a.n, 0) AS n_events, a.total
        FROM spine s LEFT JOIN actual a USING (event_type, bucket)
    )
    SELECT event_type, bucket,
           CAST(n_events AS BIGINT) AS n_events,
           ROUND(last_value(total IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
           ), 2) AS total_locf,
           (n_events = 0) AS is_gap
    FROM filled ORDER BY event_type, bucket
"""


# --- X3 extension: embedding covariance statistics --------------------------

def x46_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise covariance/correlation matrix over the leading 8
    embedding dimensions — the sufficient statistics behind whitening /
    PCA of an embedding table (the preprocessing step before IVF
    training or dimensionality reduction). The (i, j) pair expansion is
    a MAP-SIDE nested ``transform`` over a bound array column — no
    self-join of the embedding table, no shuffle until the d² aggregate.

    Scale shape: d²=64 cells per row explode locally and reduce through
    one map-side-combined shuffle of |cells| rows; covariance partial
    states are mergeable co-moments. For full d=64 (4096 cells/row) the
    same plan holds; beyond that the textbook move is a Pandas-UDF
    per-partition outer-product accumulation (documented, not needed at
    these dims).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        F.slice(
            F.transform("embedding", lambda x: x.cast("double")), 1, 8
        ).alias("v")
    )
    cells = v.select(
        F.explode(
            F.flatten(
                F.transform(
                    "v",
                    lambda vi, i: F.transform(
                        F.col("v"),
                        lambda vj, j: F.struct(
                            i.alias("i"), j.alias("j"),
                            vi.alias("vi"), vj.alias("vj"),
                        ),
                    ),
                )
            )
        ).alias("c")
    ).select("c.*")
    return (
        cells.groupBy("i", "j")
        .agg(
            F.round(F.covar_samp("vi", "vj"), 6).alias("cov"),
            F.round(F.corr("vi", "vj"), 6).alias("corr"),
        )
        .orderBy("i", "j")
    )


QUERIES["x46_embedding_covariance"] = x46_embedding_covariance

ORACLE["x46_embedding_covariance"] = """
    WITH v AS (
        SELECT list_transform(embedding[1:8], x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    cells AS (
        SELECT CAST(i.i AS INTEGER) AS i, CAST(j.j AS INTEGER) AS j,
               v.v[i.i + 1] AS vi, v.v[j.j + 1] AS vj
        FROM v,
             LATERAL (SELECT unnest(range(8)) AS i) i,
             LATERAL (SELECT unnest(range(8)) AS j) j
    )
    SELECT i, j,
           ROUND(COVAR_SAMP(vi, vj), 6) AS cov,
           ROUND(CORR(vi, vj), 6) AS corr
    FROM cells GROUP BY i, j ORDER BY i, j
"""


# --- X2/X4 extension: cross-split contamination audit -----------------------

def x47_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit — x19's content-hash train/test split
    composed with x33's inverted-index overlap: per language, how many
    TEST documents share at least one 5-gram with any TRAIN document.
    This is the eval-hygiene readout a pipeline publishes alongside a
    split (near-dup leakage across splits silently inflates eval
    scores even when exact dedup was clean).

    Scale shape: the shared ``document_grams`` stage (hashed 5-gram
    postings); train postings deduplicate to a distinct gram set before
    the equi-join, so cost scales with posting-list collisions, never
    |test| × |train|. The oracle recomputes grams as strings — counts
    are hash-invariant up to 64-bit collisions (documented policy).
    The grams frame feeds THREE consumers (test postings, train gram
    set, per-lang totals), so it is persisted — without it the
    tokenize+shingle+fingerprint stage runs three times (measured
    2.4s → 0.9s at sf0.1; the x08 lesson).
    """
    from ..cache import track_persist  # noqa: PLC0415

    from ..functions.text import fingerprint_expr
    from ..operators.dedup import document_grams

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "split",
        F.when(
            F.substring(fingerprint_expr("text"), 1, 1) < F.lit("c"), "train"
        ).otherwise("test"),
    )
    grams = document_grams(docs, "text", "doc_id", shingle_n=5,
                           keep_cols=("lang", "split")) \
        .transform(track_persist)
    test_post = grams.filter(F.col("split") == "test").select(
        "id", "lang", F.explode("grams").alias("g")
    )
    train_set = (
        grams.filter(F.col("split") == "train")
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    leaked = test_post.join(train_set, "g").select("id", "lang").distinct()
    totals = (
        grams.filter(F.col("split") == "test")
        .groupBy("lang")
        .agg(F.count("*").alias("n_test_docs"))
    )
    leaks = leaked.groupBy("lang").agg(F.count("*").alias("n_leaked"))
    return (
        totals.join(leaks, "lang", "left")
        .select(
            "lang",
            "n_test_docs",
            F.coalesce("n_leaked", F.lit(0)).alias("n_leaked_docs"),
            F.round(
                F.coalesce("n_leaked", F.lit(0)) / F.col("n_test_docs"), 6
            ).alias("leak_ratio"),
        )
        .orderBy("lang")
    )


QUERIES["x47_split_leakage"] = x47_split_leakage

ORACLE["x47_split_leakage"] = r"""
    WITH labeled AS (
        SELECT doc_id, lang,
               CASE WHEN substring(md5(trim(regexp_replace(regexp_replace(
                           lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'),
                           '\s+', ' ', 'g'))), 1, 1) < 'c'
                    THEN 'train' ELSE 'test' END AS split,
               string_split_regex(trim(lower(text)), '\s+') AS l,
               trim(text) <> '' AS nonempty
        FROM documents
    ),
    grams AS (
        SELECT doc_id, lang, split,
               unnest(list_distinct(list_transform(range(1, len(l) - 3),
                   i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' '
                        || l[i+3] || ' ' || l[i+4]))) AS g
        FROM labeled WHERE nonempty AND len(l) >= 5
    ),
    train_set AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
    leaked AS (
        SELECT DISTINCT t.doc_id, t.lang
        FROM grams t JOIN train_set USING (g)
        WHERE t.split = 'test'
    ),
    totals AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_test_docs
        FROM labeled WHERE split = 'test'
        GROUP BY lang
    ),
    leaks AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_leaked
        FROM leaked GROUP BY lang
    )
    SELECT t.lang, t.n_test_docs,
           CAST(COALESCE(k.n_leaked, 0) AS BIGINT) AS n_leaked_docs,
           ROUND(COALESCE(k.n_leaked, 0) / t.n_test_docs, 6) AS leak_ratio
    FROM totals t LEFT JOIN leaks k USING (lang)
    ORDER BY t.lang
"""


# --- X4/X6 extension: per-source distribution drift -------------------------

def x48_source_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift: KL(source ‖ corpus) over the
    unigram distributions — the monitoring statistic a corpus pipeline
    tracks to catch a source whose content shifted between crawls (and
    the quantitative form of "this source stopped looking like the
    rest"). Every source term exists in the corpus distribution by
    construction, so the KL sum is total (no zero-denominator terms).

    Scale shape: ONE corpus pass — the exploded terms have a single
    consumer, the (source, term) count; the corpus term counts, the
    per-source totals, AND the corpus total all derive from that
    |sources|×|vocab|-sized table (tiny re-aggregations, no second
    scan) and return as broadcast joins. The corpus total rides as a
    broadcast one-row cross join (x13's no-count-action pattern).
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    terms = docs.select(
        "source", F.explode(tokens_expr(F.col("text"))).alias("term")
    )
    st = terms.groupBy("source", "term").agg(F.count("*").alias("cnt_st"))
    corpus_counts = st.groupBy("term").agg(F.sum("cnt_st").alias("cnt_t"))
    corpus = corpus_counts.crossJoin(
        F.broadcast(corpus_counts.agg(F.sum("cnt_t").alias("total")))
    )
    totals = st.groupBy("source").agg(F.sum("cnt_st").alias("total_s"))
    p_s = F.col("cnt_st") / F.col("total_s")
    p = F.col("cnt_t") / F.col("total")
    return (
        st.join(F.broadcast(totals), "source")
        .join(F.broadcast(corpus), "term")
        .groupBy("source")
        .agg(
            F.max("total_s").alias("n_tokens"),
            F.round(F.sum(p_s * F.log(p_s / p)), 6).alias("kl_vs_corpus"),
        )
        .orderBy("source")
    )


QUERIES["x48_source_drift_kl"] = x48_source_drift_kl

ORACLE["x48_source_drift_kl"] = r"""
    WITH terms AS (
        SELECT source,
               unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents WHERE trim(text) <> ''
    ),
    st AS (
        SELECT source, term, COUNT(*) AS cnt_st
        FROM terms GROUP BY 1, 2
    ),
    corpus AS (SELECT term, COUNT(*) AS cnt_t FROM terms GROUP BY 1),
    tot AS (SELECT COUNT(*) AS total FROM terms),
    totals AS (
        SELECT source, CAST(SUM(cnt_st) AS BIGINT) AS total_s
        FROM st GROUP BY 1
    )
    SELECT st.source,
           CAST(MAX(t.total_s) AS BIGINT) AS n_tokens,
           ROUND(SUM((st.cnt_st / t.total_s)
                     * ln((st.cnt_st / t.total_s)
                          / (c.cnt_t / tot.total))), 6) AS kl_vs_corpus
    FROM st
    JOIN totals t USING (source)
    JOIN corpus c USING (term)
    CROSS JOIN tot
    GROUP BY st.source
    ORDER BY st.source
"""


# --- X6 extension: data-quality constraint suite ----------------------------

def x49_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite (Deequ-style) over the
    documents table: completeness, key uniqueness, derived-column
    consistency (``n_chars == length(text)``), and a format pattern —
    each a ratio in [0,1] with a pass flag. This generalizes q17's
    single COUNT reconciliation into the constraint-report shape a
    validation gate publishes.

    Scale shape: ALL constraint metrics reduce in ONE aggregate pass
    over the table (mergeable sums + one distinct-count); the report is
    a 4-row map-side unpivot of the single aggregate row. Ratios of
    equal integers are exactly 1.0 in IEEE arithmetic, so the pass flag
    (metric == 1.0) is engine-independent.
    """
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.agg(
        (F.sum(F.col("text").isNotNull().cast("bigint")) / F.count("*"))
        .alias("completeness_text"),
        (F.countDistinct("doc_id") / F.count("*")).alias("uniqueness_doc_id"),
        (F.sum((F.col("n_chars") == F.length("text")).cast("bigint"))
         / F.count("*")).alias("consistency_n_chars"),
        (F.sum(F.col("source").like("src%").cast("bigint")) / F.count("*"))
        .alias("pattern_source"),
    )
    report = agg.select(
        F.expr(
            "stack(4, "
            "'completeness_text', completeness_text, "
            "'uniqueness_doc_id', uniqueness_doc_id, "
            "'consistency_n_chars', consistency_n_chars, "
            "'pattern_source', pattern_source) AS (constraint, metric)"
        )
    )
    return report.select(
        "constraint",
        F.round("metric", 6).alias("metric"),
        (F.col("metric") == 1.0).alias("passed"),
    ).orderBy("constraint")


QUERIES["x49_quality_constraints"] = x49_quality_constraints

ORACLE["x49_quality_constraints"] = """
    WITH agg AS (
        SELECT
            SUM(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END)
                / COUNT(*) AS completeness_text,
            COUNT(DISTINCT doc_id) / COUNT(*) AS uniqueness_doc_id,
            SUM(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END)
                / COUNT(*) AS consistency_n_chars,
            SUM(CASE WHEN source LIKE 'src%' THEN 1 ELSE 0 END)
                / COUNT(*) AS pattern_source
        FROM documents
    ),
    report AS (
        SELECT 'completeness_text' AS "constraint",
               completeness_text AS metric FROM agg
        UNION ALL
        SELECT 'uniqueness_doc_id', uniqueness_doc_id FROM agg
        UNION ALL
        SELECT 'consistency_n_chars', consistency_n_chars FROM agg
        UNION ALL
        SELECT 'pattern_source', pattern_source FROM agg
    )
    SELECT "constraint", ROUND(metric, 6) AS metric,
           (metric = 1.0) AS passed
    FROM report ORDER BY "constraint"
"""


# --- grouped-map escape hatch: per-group model fit via applyInPandas --------

def x50_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS fit (value ~ hour-of-day) via ``applyInPandas`` —
    the Arrow grouped-map escape hatch for per-group logic the built-in
    aggregates can't express (model fits, scipy calls, per-entity
    solvers). Here the fit IS expressible as ``regr_slope`` /
    ``regr_intercept`` — deliberately, so the oracle value-checks the
    Python path against the closed form: the grouped-map plumbing
    (grouping, Arrow batch shape, schema contract) is verified by the
    driver, not just smoke-tested.

    Scale shape: one shuffle on the group key; each group arrives as one
    Arrow batch (vectorized numpy inside, no per-row Python). Groups
    must fit in executor memory — the documented contract of any
    grouped-map operator; for unbounded groups use the mergeable
    co-moment aggregates (q49) instead.
    """
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    feat = ev.select(
        "event_type",
        F.hour("ts").cast("double").alias("x"),
        F.col("value").alias("y"),
    )

    def fit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        x = pdf["x"].to_numpy(np.float64)
        y = pdf["y"].to_numpy(np.float64)
        mx, my = x.mean(), y.mean()
        dx = x - mx
        ssx = float((dx * dx).sum())
        if ssx == 0.0:
            # zero x-variance group: numpy 0/0 would yield NaN where
            # the oracle's REGR_SLOPE/REGR_INTERCEPT return NULL
            slope = intercept = None
        else:
            raw = float((dx * (y - my)).sum() / ssx)
            # intercept uses the UNROUNDED slope (the oracle's
            # REGR_INTERCEPT does); rounding is output-only
            slope = round(raw, 6)
            intercept = round(my - raw * mx, 6)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [len(x)],
                "slope": [slope],
                "intercept": [intercept],
            }
        )

    return (
        feat.groupBy("event_type")
        .applyInPandas(fit, "event_type string, n bigint, slope double, intercept double")
        .orderBy("event_type")
    )


QUERIES["x50_grouped_ols"] = x50_grouped_ols

ORACLE["x50_grouped_ols"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(REGR_SLOPE(value, EXTRACT(hour FROM ts)), 6) AS slope,
           ROUND(REGR_INTERCEPT(value, EXTRACT(hour FROM ts)), 6)
               AS intercept
    FROM events
    GROUP BY event_type ORDER BY event_type
"""


# --- ordered-funnel conversion analysis -------------------------------------

def x51_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis over the events table: how many users
    completed signup → click → purchase IN ORDER (each later stage
    strictly after the user's earliest qualifying prior stage) — the
    staged-conversion operator every product-analytics engine ships
    (and a sequence-pattern query relational engines express poorly).

    Implemented as ONE aggregation pass: per user, the stage timestamps
    fold as conditional MIN aggregates over a sorted per-user event
    array — no joins, no repeated scans. The per-user array is bounded
    by user activity (the grouped-map memory contract, same as x50);
    for power-law users a pre-aggregation to (user, type, min_ts) per
    day bounds it further.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type").isin("signup", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_type"))
            ).alias("seq")
        )
    )
    # F.get (not [0]): ANSI mode throws INVALID_ARRAY_INDEX on an
    # empty filtered array — any user with an INCOMPLETE funnel would
    # crash the query instead of yielding the NULL the oracle computes
    # (r7 review; latent only because the synthetic funnels happen to
    # be complete for every user)
    t1 = F.get(
        F.filter("seq", lambda s: s.getField("event_type") == "signup"), 0
    )["ts"]
    per_user = per_user.withColumn("t1", t1)
    t2 = F.get(
        F.filter(
            "seq",
            lambda s: (s.getField("event_type") == "click")
            & (s.getField("ts") > F.col("t1")),
        ), 0,
    )["ts"]
    per_user = per_user.withColumn("t2", t2)
    t3 = F.get(
        F.filter(
            "seq",
            lambda s: (s.getField("event_type") == "purchase")
            & (s.getField("ts") > F.col("t2")),
        ), 0,
    )["ts"]
    per_user = per_user.withColumn("t3", t3)
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("t1").isNotNull().cast("bigint")).alias("reached_signup"),
        F.sum(F.col("t2").isNotNull().cast("bigint")).alias("reached_click"),
        F.sum(F.col("t3").isNotNull().cast("bigint")).alias(
            "reached_purchase"
        ),
    )


QUERIES["x51_funnel"] = x51_funnel

ORACLE["x51_funnel"] = """
    WITH f AS (
        SELECT user_id, event_type, ts FROM events
        WHERE event_type IN ('signup', 'click', 'purchase')
    ),
    s1 AS (
        SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END)
            AS t1
        FROM f GROUP BY user_id
    ),
    s2 AS (
        SELECT f.user_id,
               MIN(CASE WHEN f.event_type = 'click' AND f.ts > s1.t1
                        THEN f.ts END) AS t2
        FROM f JOIN s1 USING (user_id) GROUP BY f.user_id
    ),
    s3 AS (
        SELECT f.user_id,
               MIN(CASE WHEN f.event_type = 'purchase' AND f.ts > s2.t2
                        THEN f.ts END) AS t3
        FROM f JOIN s2 USING (user_id) GROUP BY f.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS reached_signup,
           CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS reached_click,
           CAST(SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS reached_purchase
    FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
"""


# --- EWMA smoothing over resampled series -----------------------------------

def x52_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over the hourly rollup —
    the time-series smoothing operator (monitoring dashboards, trend
    baselines for x40-style anomaly gates). Weights fold over a BOUNDED
    trailing window (last 10 buckets, α=0.5), expressed as window
    ``collect_list`` + higher-order zip/fold — both engines evaluate the
    identical weighted sum in the identical frame order, so the float
    result matches bit-for-bit before rounding.

    Scale shape: one shuffle to the hourly grain, one per-type window
    over the (tiny) bucket series; the HOF fold is map-side. The frame
    bound (ROWS 9 PRECEDING) keeps state O(1) per row — the same
    truncation a streaming EWMA carries.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
        )
        .agg(F.round(F.sum("value"), 2).alias("total"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-9, W.currentRow)
    )
    vals = F.collect_list("total").over(w)
    smoothed = hourly.withColumn("vals", vals)
    k = F.size("vals")
    # weights a^(k-1-i) for i in 0..k-1 (oldest→newest), α = 0.5
    weighted = F.zip_with(
        "vals",
        F.transform(F.sequence(F.lit(1), k), lambda i: F.pow(F.lit(0.5), k - i)),
        lambda v, wt: v * wt,
    )
    norm = F.aggregate(
        F.transform(F.sequence(F.lit(1), k), lambda i: F.pow(F.lit(0.5), k - i)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # try_divide: an empty history window has norm 0 (ANSI /0 throws)
    ewma = F.try_divide(
        F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x), norm
    )
    return (
        smoothed.select(
            "event_type",
            "bucket",
            "total",
            F.round(ewma, 4).alias("ewma"),
        )
        .filter(F.col("bucket") < F.to_timestamp(F.lit("2024-01-02 00:00:00")))
        .orderBy("event_type", "bucket")
    )


QUERIES["x52_ewma_smoothing"] = x52_ewma_smoothing

ORACLE["x52_ewma_smoothing"] = """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket,
               ROUND(SUM(value), 2) AS total
        FROM events GROUP BY 1, 2
    ),
    windowed AS (
        SELECT event_type, bucket, total,
               list(total) OVER (
                   PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
               ) AS vals
        FROM hourly
    )
    SELECT event_type, bucket, total,
           ROUND(
               list_sum(list_transform(range(1, len(vals) + 1),
                   i -> vals[i] * pow(0.5, len(vals) - i)))
               / list_sum(list_transform(range(1, len(vals) + 1),
                   i -> pow(0.5, len(vals) - i))),
           4) AS ewma
    FROM windowed
    WHERE bucket < TIMESTAMP '2024-01-02 00:00:00'
    ORDER BY event_type, bucket
"""


# --- X2/X3 extension: sparse lexical cosine near-dup ------------------------

# x53's per-term pair space is bounded by POSTING_CAP² regardless of
# corpus size (r4 brief item 4): the fractional df prune alone admits
# posting lists of length 0.25·N, i.e. O(N²/16) candidate pairs per
# surviving term at 100 TB. A term in >10k documents is stopword-grade
# for near-dup purposes at any web scale; dropping it loses ~no
# discriminative signal while capping the join's per-term cost at a
# CONSTANT. Inactive at test SFs (0.25·N < cap), so bench numbers and
# the oracle hash are unchanged there; the property test exercises it
# on a synthetic corpus via the factored core below.
TFIDF_POSTING_CAP = 10_000


def tfidf_cosine_pairs(docs: DataFrame, posting_cap: int = TFIDF_POSTING_CAP,
                       threshold: float = 0.5) -> DataFrame:
    """Core of x53 over any ``(doc_id, text)`` frame — factored out so the
    posting-cap behavior is property-testable on synthetic corpora."""
    # NOT persisted: the exploded token frame is the corpus's largest
    # intermediate, and materializing it costs more than the second
    # tokenizer pass it saves (measured 1.0s → 1.4s at sf0.1 when
    # cached) — the x08 persist rule applies to EXPENSIVE-to-recompute
    # narrow frames (sketches, weighted postings), not wide raw explodes.
    terms = docs.select(
        "doc_id", F.explode(tokens_expr(F.lower(F.col("text")))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    df_t = (
        terms.select("doc_id", "term").distinct()
        .groupBy("term").agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df") <= 0.25 * F.col("n_docs"))
            & (F.col("df") <= F.lit(posting_cap))
        )
    )
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    # PERSISTED since r13 (reversing the r4 measurement-based call): the
    # three consumers (norms + both pair-join sides) each re-ran the
    # whole tokenize → tf → df pipeline — the RepeatedScan lint rule
    # counted NINE corpus scans in the final plan. Locally the idle
    # cores absorbed the redundancy (uncached measured 1.05 s vs
    # 1.17 s cached at sf0.1 — within noise), but at 100 TB an ~5×
    # corpus re-read dominates everything; the x120 r12 ruling applies:
    # scan count wins over sub-100 ms local latency. ``w`` is the
    # narrow post-prune weighted-posting frame — exactly the x08
    # persist class — not the wide raw explode (``terms`` stays
    # unpersisted; its two consumers are the tf and df aggregates that
    # the persist of ``w`` already collapses into one materialization).
    from ..cache import track_persist  # noqa: PLC0415

    w = (
        tf.join(F.broadcast(df_t), "term")
        .select("doc_id", "term", (F.col("tf") * idf).alias("w"))
        .transform(track_persist)
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, (F.col("a.term") == F.col("b.term"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    return (
        dots.join(norms.withColumnRenamed("doc_id", "d1")
                  .withColumnRenamed("nrm", "n1"), "d1")
        .join(norms.withColumnRenamed("doc_id", "d2")
              .withColumnRenamed("nrm", "n2"), "d2")
        .withColumn("__cos", F.col("dot") / (F.col("n1") * F.col("n2")))
        .filter(F.col("__cos") >= F.lit(threshold))
        .select("d1", "d2", F.round("__cos", 6).alias("cosine"))
        .orderBy("d1", "d2")
    )


def x53_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted lexical near-dup: TF-IDF cosine similarity between
    document pairs via an inverted posting index — the *weighted* sibling
    of x10's set-based n-gram Jaccard, and the sparse-vector sibling of
    x16's dense embedding cosine (the third similarity family a curation
    stack runs: set overlap, sparse lexical, dense semantic).

    Scale shape: never all-pairs. Postings join on ``term``, so the pair
    space is the sum over terms of posting-list-squared — and the
    dominant lists are removed *before* the join by TWO prunes: the
    document-frequency fraction (``df <= 25%`` of the corpus — stopword-
    grade terms contribute near-zero discriminative weight but quadratic
    collisions, the term-pruning strategy of prefix-filter set-similarity
    joins, PPJoin family) and the CONSTANT posting-length cap
    ``df <= TFIDF_POSTING_CAP`` (r4 brief: the fraction alone still
    admits O(N²/16) pairs per term at 100 TB; the cap bounds per-term
    pair space at 10k² regardless of corpus size). The df table is
    |vocab|-sized and broadcast. TF-IDF formula shared with x13
    (smoothed idf = ln((N+1)/(df+1))+1).
    Reference analog: none (extension surface, SURVEY.md §2.9).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    return tfidf_cosine_pairs(docs)


QUERIES["x53_tfidf_cosine_pairs"] = x53_tfidf_cosine_pairs

ORACLE["x53_tfidf_cosine_pairs"] = r"""
    WITH terms AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents WHERE trim(text) <> ''
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    n AS (SELECT COUNT(*) AS n_docs FROM documents WHERE trim(text) <> ''),
    df AS (
        SELECT term, COUNT(*) AS df
        FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1
    ),
    kept AS (
        SELECT df.term, ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0 AS idf
        FROM df CROSS JOIN n
        WHERE df.df <= 0.25 * n.n_docs AND df.df <= 10000
    ),
    w AS (
        SELECT tf.doc_id, tf.term, tf.tf * kept.idf AS w
        FROM tf JOIN kept USING (term)
    ),
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
    dots AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, sum(a.w * b.w) AS dot
        FROM w a JOIN w b USING (term)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2, ROUND(dot / (x.nrm * y.nrm), 6) AS cosine
    FROM dots
    JOIN norms x ON d1 = x.doc_id
    JOIN norms y ON d2 = y.doc_id
    WHERE dot / (x.nrm * y.nrm) >= 0.5
    ORDER BY d1, d2
"""


# --- §2.5 extension: incremental aggregate maintenance ----------------------

def x54_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: per-group metrics computed as a
    MERGE of two independently-aggregated partials (a "history" partition
    and a "delta" partition of lineitem), proving the partial state is
    algebraically mergeable — count/sum/min/max merge directly, avg and
    stddev derive from merged co-moments (n, Σx, Σx²). The oracle
    recomputes everything from the full table in one pass, so the gate
    checks merge(partial(A), partial(B)) ≡ aggregate(A ∪ B).

    This is the 100 TB pattern for nightly pipelines: store per-partition
    partial states, merge at read time, never rescan history to admit a
    delta (the same algebra Spark's own partial aggregation uses inside
    one job, lifted to cross-job persistence). All l_quantity values are
    integer-valued doubles, so Σx and Σx² are exact in IEEE double and
    the derived metrics are bit-identical across engines and split
    points. Reference analog: validation.py's full-recount gate
    (/root/reference/dags/tasks/validation.py) — this is the version
    that doesn't rescan.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag").agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").alias("s_qty"),
            F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("ss_qty"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.sum("l_extendedprice").alias("s_price"),
        )

    history = partial(li.filter(F.col("l_orderkey") % 10 != 7))
    delta = partial(li.filter(F.col("l_orderkey") % 10 == 7))
    merged = history.unionByName(delta).groupBy("l_returnflag").agg(
        F.sum("n").alias("n"),
        F.sum("s_qty").alias("s_qty"),
        F.sum("ss_qty").alias("ss_qty"),
        F.min("min_price").alias("min_price"),
        F.max("max_price").alias("max_price"),
        F.sum("s_price").alias("s_price"),
    )
    return merged.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.round(F.col("s_qty") / F.col("n"), 6).alias("avg_qty"),
        F.round(
            F.sqrt(
                (F.col("ss_qty") - F.col("s_qty") * F.col("s_qty") / F.col("n"))
                / (F.col("n") - 1)
            ),
            6,
        ).alias("std_qty"),
        "min_price",
        "max_price",
        F.round("s_price", 2).alias("revenue"),
    ).orderBy("l_returnflag")


QUERIES["x54_incremental_agg_merge"] = x54_incremental_agg_merge

ORACLE["x54_incremental_agg_merge"] = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_quantity) / COUNT(*), 6) AS avg_qty,
           ROUND(sqrt(
               (SUM(l_quantity * l_quantity)
                - SUM(l_quantity) * SUM(l_quantity) / COUNT(*))
               / (COUNT(*) - 1)
           ), 6) AS std_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           ROUND(SUM(l_extendedprice), 2) AS revenue
    FROM lineitem
    GROUP BY 1 ORDER BY 1
"""


# --- §2.5/§2.6 extension: range-partition planning --------------------------

def x56_range_partition_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partition planning as a first-class query: exact octile
    boundaries of ``l_quantity`` in ONE aggregate pass, broadcast to the
    scan, bucket assigned map-side (``1 + #boundaries below``), then
    per-bucket occupancy stats. This is the planning step behind sorted/
    clustered table layouts (Spark's own RangePartitioner does the same
    with sampling); at 100 TB the exact ``percentile`` swaps for
    ``percentile_approx`` and the plan shape is unchanged — one pass for
    bounds, one map-side assignment, one aggregation. No global sort
    anywhere (the naive ``ntile`` formulation is a single-partition
    window over the full table — the exact shape this query avoids).

    Determinism: l_quantity is integer-valued and the octile fractions
    are exact binary fractions, so interpolated boundaries are exact in
    IEEE double and bit-identical across engines.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity")
    bounds = li.agg(
        F.expr(
            "percentile(l_quantity, "
            "array(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875))"
        ).alias("bs")
    )
    assigned = li.crossJoin(F.broadcast(bounds)).withColumn(
        "bucket",
        (F.size(F.filter(F.col("bs"), lambda b: F.col("l_quantity") > b)) + 1)
    )
    return (
        assigned.groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
        .orderBy("bucket")
    )


QUERIES["x56_range_partition_planner"] = x56_range_partition_planner

ORACLE["x56_range_partition_planner"] = """
    WITH bs AS (
        SELECT quantile_cont(l_quantity,
            [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
        FROM lineitem
    )
    SELECT CAST(len(list_filter(bs.bs, b -> l.l_quantity > b)) + 1 AS INTEGER)
               AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l.l_quantity) AS min_qty,
           MAX(l.l_quantity) AS max_qty
    FROM lineitem l CROSS JOIN bs
    GROUP BY 1 ORDER BY 1
"""


# --- X6 extension: mergeable HLL sketch profiling ---------------------------

def x57_hll_merge_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct profiling (X6 at cross-job granularity):
    per-source distinct-text cardinality via DataSketches HLL, computed
    TWICE — one single-pass sketch, and a union of two independently-
    sketched shards (``doc_id % 2``) — then certified in-engine against
    the exact distinct count. The row the oracle checks is the exact
    count plus two certification booleans, so the gate pins that (a)
    sketch union is estimate-consistent with single-pass sketching and
    (b) the estimate lands within the declared 5% envelope.

    This is x54's merge-algebra story for APPROXIMATE state: at 100 TB a
    profiling pipeline stores one tiny HLL per partition/day and unions
    at read time — never re-scanning history — which only works because
    union-then-estimate ≡ estimate-of-whole. ``hll_union_agg`` is the
    cross-job persistence form of what Spark's partial aggregation
    already does inside one job.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "text"
    )
    single = docs.groupBy("source").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(F.xxhash64("text")))
        .alias("est_single"),
        F.countDistinct("text").alias("n_exact"),
    )
    shard_sketches = (
        docs.withColumn("shard", F.col("doc_id") % 2)
        .groupBy("source", "shard")
        .agg(F.hll_sketch_agg(F.xxhash64("text")).alias("sk"))
    )
    merged = shard_sketches.groupBy("source").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    return (
        single.join(merged, "source")
        .select(
            "source",
            "n_exact",
            (F.col("est_merged") == F.col("est_single"))
            .alias("merge_consistent"),
            (
                F.abs(F.col("est_merged") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("within_5pct"),
        )
        .orderBy("source")
    )


QUERIES["x57_hll_merge_profile"] = x57_hll_merge_profile

ORACLE["x57_hll_merge_profile"] = """
    SELECT source,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_exact,
           TRUE AS merge_consistent,
           TRUE AS within_5pct
    FROM documents
    GROUP BY 1 ORDER BY 1
"""


# --- X6 extension: count-min sketch heavy hitters (r12) ---------------------

_X120_DEPTH, _X120_WIDTH = 4, 256


def x120_count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency profiling, fully certified (the third
    mergeable sketch next to HLL distinct counts (x12/x57) and KLL
    quantiles (x12) — per-key frequency / heavy-hitter estimation in
    depth·width bounded memory): build the 4x256 counter table over
    ``lineitem.l_suppkey``, point-query it for EVERY key, and emit the
    top-10 heavy hitters (exact count, sketch estimate, overestimate)
    alongside the registry-wide law columns — ``min_slack = min over
    ALL keys of (est − exact)``, which the CMS guarantee says is ≥ 0
    DETERMINISTICALLY (counters only ever add colliding keys' counts;
    an underestimate is impossible, not just unlikely), and
    ``max_overest``, the measured collision noise the ε·N bound caps.

    Unlike the HLL/KLL faces (whose binary sketches aren't SQL-
    replayable, so x12 certifies error envelopes only), the CMS here is
    md5-bucketed (operators/profiling.cms_bucket — the x106
    content_hash64 technique), so DuckDB replays the ENTIRE sketch —
    bucket assignment, counter table, min-of-d estimates — and the gate
    value-hashes estimates exactly, not within a tolerance.

    Scale shape (r14, the x134 frequency-table move): ONE corpus scan
    — the exact per-key count table that the certification needs
    anyway is persisted, and the sketch's counters derive from IT by
    weighted counting (``cnt[i,b] = Σ_{key∈bucket} exact_cnt(key)`` —
    identical to per-row incrementing by linearity), so the
    explode × depth runs over |keys| rows instead of the corpus and
    the old second scan disappears. Probing stays the zero-shuffle
    single-map broadcast. The 100 TB PRODUCT path (sketch alone, no
    exact table) remains the operator's per-row bounded-shuffle build
    (profiling.count_min_sketch_table — streaming x127 exercises it);
    the exact counts exist here only to certify, merged counter-wise
    across partitions/days at scale: union → sum, the x54/x57 merge
    algebra.
    """
    from ..cache import track_persist  # noqa: PLC0415
    from ..operators.profiling import (  # noqa: PLC0415
        cms_buckets,
        count_min_estimates,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey")
    )
    # Persist the shared intermediates (r12 verdict item 1: without
    # them the final adaptive plan re-ran shared subtrees once per
    # consumer — 17 lineitem scans for what should be 1). `exact` is
    # the |keys|-grain CERTIFICATION table feeding both the sketch
    # derivation and the probe; `probed` is consumed by two branches
    # (law aggregate + top-10).
    exact = li.groupBy("suppkey").agg(
        F.count(F.lit(1)).alias("exact_cnt")).transform(track_persist)
    sketch = (
        exact.select(F.explode(F.array(*[
            F.struct(F.lit(i).alias("i"), b.alias("b"))
            for i, b in enumerate(
                cms_buckets(F.col("suppkey"), _X120_DEPTH, _X120_WIDTH))
        ])).alias("ib"), "exact_cnt")
        .groupBy(F.col("ib.i").alias("i"), F.col("ib.b").alias("b"))
        .agg(F.sum("exact_cnt").alias("cnt"))
    )
    probed = count_min_estimates(
        exact, sketch, "suppkey", _X120_DEPTH, _X120_WIDTH
    ).withColumn("overest", F.col("cms_est") - F.col("exact_cnt")) \
        .transform(track_persist)
    law = probed.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.min("overest").alias("min_slack"),
        F.max("overest").alias("max_overest"),
    )
    return (
        probed.orderBy(F.col("exact_cnt").desc(), "suppkey").limit(10)
        .crossJoin(F.broadcast(law))
        .select(
            "suppkey", "exact_cnt",
            F.col("cms_est").cast("long").alias("cms_est"),
            F.col("overest").cast("long").alias("overest"),
            "n_keys", "min_slack", "max_overest",
        )
        .orderBy(F.col("exact_cnt").desc(), "suppkey")
    )


QUERIES["x120_count_min_heavy_hitters"] = x120_count_min_heavy_hitters

ORACLE["x120_count_min_heavy_hitters"] = f"""
    WITH src AS (SELECT l_suppkey AS suppkey FROM lineitem),
    exact AS (SELECT suppkey, COUNT(*) AS exact_cnt FROM src GROUP BY 1),
    d AS (SELECT unnest(range({_X120_DEPTH})) AS i),
    sketch AS (
        -- all four lanes slice ONE md5 digest (8 hex chars = 32 bits
        -- each), mirroring operators/profiling.cms_buckets
        SELECT i,
               CAST(('0x' || substring(md5(CAST(suppkey AS VARCHAR)),
                   8 * CAST(i AS INTEGER) + 1, 8))::BIGINT
                   % {_X120_WIDTH} AS INTEGER) AS b,
               COUNT(*) AS cnt
        FROM src CROSS JOIN d
        GROUP BY 1, 2
    ),
    probed AS (
        SELECT e.suppkey, e.exact_cnt, MIN(s.cnt) AS cms_est
        FROM exact e
        CROSS JOIN d
        JOIN sketch s
          ON s.i = d.i
         AND s.b = CAST(('0x' || substring(
                md5(CAST(e.suppkey AS VARCHAR)),
                8 * CAST(d.i AS INTEGER) + 1, 8))::BIGINT
                % {_X120_WIDTH} AS INTEGER)
        GROUP BY 1, 2
    ),
    j AS (
        SELECT suppkey, exact_cnt, cms_est,
               cms_est - exact_cnt AS overest
        FROM probed
    ),
    law AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               MIN(overest) AS min_slack,
               MAX(overest) AS max_overest
        FROM j
    )
    SELECT j.suppkey, CAST(j.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(j.cms_est AS BIGINT) AS cms_est,
           CAST(j.overest AS BIGINT) AS overest,
           law.n_keys, CAST(law.min_slack AS BIGINT) AS min_slack,
           CAST(law.max_overest AS BIGINT) AS max_overest
    FROM j CROSS JOIN law
    ORDER BY j.exact_cnt DESC, j.suppkey
    LIMIT 10
"""


# --- curation extension: token-budget water-filling (r12) -------------------

#: Budget = floor(total_tokens * 4 / 5) — integer arithmetic end-to-end.
#: 4/5 deliberately: at 60% the fill level sits BELOW every language's
#: capacity (nothing saturates; the when-branch never runs in the
#: certified face), at 80% the four non-en languages saturate and en
#: levels — both branches of the closed form are driver-certified.
_X121_BUDGET_NUM, _X121_BUDGET_DEN = 4, 5


def x121_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget allocation by exact WATER-FILLING — the
    epoch-planning step of corpus curation: given a total token budget
    B (here 80% of the corpus), give every language an equal share,
    except languages whose whole capacity fits under that share keep it
    all (saturate) and their surplus re-levels among the rest. The
    closed form over capacities sorted ascending (c_1 ≤ … ≤ c_n,
    prefix sums P_i): source i saturates iff
    ``c_i·(n−i+1) + P_{i−1} ≤ B`` (monotone in i — proved in
    tests/test_count_min.py::test_waterfill_saturation_monotonicity),
    k = the largest saturating rank, and everyone above k gets the
    common level ``L = (B − P_k) div (n − k)``. All arithmetic is
    INTEGER (floor division both engines), so the DuckDB oracle
    replays the allocation token-for-token — no float levels, no
    tolerance.

    Output per language (the skewed grouping — en holds ~44% of the
    corpus, so the small languages SATURATE and the big ones level;
    both branches run in the certified face): capacity, allocated, saturated, plus the law
    columns ``budget`` and ``leftover = budget − Σ allocated``
    (0 ≤ leftover < n − k, the floor-division remainder — an
    allocation that overspends or leaves more than the rounding
    residue on the table is a bug the gate catches).

    Scale shape: ONE corpus scan + a |sources|-grain aggregate is the
    only data-scale work; the waterfill itself (rank, prefix-sum,
    saturation scan) runs windows over the |langs|-row capacity
    table — a SinglePartition funnel of bounded grain (plan-lint
    allowlisted, the x90/x92 class). At 100 TB the capacity table is
    still |langs| rows.
    """
    from ..functions.text import token_count_expr  # noqa: PLC0415
    from ..operators.sampling import waterfill_allocate  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    cap = (
        docs.select("lang", token_count_expr("text").alias("t"))
        .groupBy("lang")
        .agg(F.sum("t").cast("long").alias("capacity"))
    )
    return (
        waterfill_allocate(cap, "lang", "capacity",
                           _X121_BUDGET_NUM, _X121_BUDGET_DEN)
        .select(
            "lang", "capacity", "allocated", "saturated",
            "budget", "leftover",
        )
        .orderBy("lang")
    )


QUERIES["x121_token_budget_waterfill"] = x121_token_budget_waterfill

ORACLE["x121_token_budget_waterfill"] = rf"""
    WITH cap AS (
        SELECT lang,
               CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+'))
                        END) AS BIGINT) AS capacity
        FROM documents GROUP BY 1
    ),
    t AS (
        SELECT SUM(capacity) AS total,
               COUNT(*) AS n_sources
        FROM cap
    ),
    ranked AS (
        SELECT cap.lang, cap.capacity, t.n_sources,
               CAST(t.total * {_X121_BUDGET_NUM} // {_X121_BUDGET_DEN}
                    AS BIGINT) AS budget,
               ROW_NUMBER() OVER (ORDER BY cap.capacity, cap.lang) AS rk,
               SUM(cap.capacity) OVER (
                   ORDER BY cap.capacity, cap.lang
                   ROWS UNBOUNDED PRECEDING) AS prefix
        FROM cap CROSS JOIN t
    ),
    s AS (
        SELECT *,
               capacity * (n_sources - rk + 1) + (prefix - capacity)
                   <= budget AS saturated
        FROM ranked
    ),
    kstat AS (
        SELECT COALESCE(MAX(CASE WHEN saturated THEN rk END), 0) AS k,
               CAST(COALESCE(MAX(CASE WHEN saturated THEN prefix END), 0)
                    AS BIGINT) AS prefix_k
        FROM s
    ),
    alloc AS (
        SELECT s.lang, s.capacity, s.saturated, s.budget,
               CASE WHEN s.saturated THEN s.capacity
                    WHEN s.n_sources > kstat.k
                    THEN CAST((s.budget - kstat.prefix_k)
                              // (s.n_sources - kstat.k) AS BIGINT)
                    ELSE 0 END AS allocated
        FROM s CROSS JOIN kstat
    ),
    law AS (
        SELECT CAST(MAX(budget) - SUM(allocated) AS BIGINT) AS leftover
        FROM alloc
    )
    SELECT alloc.lang, alloc.capacity,
           CAST(alloc.allocated AS BIGINT) AS allocated, alloc.saturated,
           CAST(alloc.budget AS BIGINT) AS budget, law.leftover
    FROM alloc CROSS JOIN law
    ORDER BY alloc.lang
"""


# --- D5/SCD companion: snapshot-diff change data capture --------------------

def x58_snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two table snapshots: full-outer join
    on the business key, classify every key as insert / delete / update /
    unchanged, report per-class counts. The read-side complement of the
    write-side upsert machinery (D5 anti-join insert-if-new, SCD2,
    snapshot-swap in ``operators/transactional.py``): given yesterday's
    and today's snapshot, emit the delta a downstream consumer applies.

    The two snapshots are derived deterministically from ``orders`` so
    the oracle can rebuild them: "old" drops ``o_orderkey % 7 = 3``
    (today's inserts) and discounts ``% 5 = 0`` prices by 10% (today's
    updates); "new" drops ``% 11 = 5`` (today's deletes).

    Scale shape: ONE shuffle on the join key for both sides (the same
    co-partitioning a bucketed snapshot layout gives for free at 100 TB);
    classification is a map-side CASE; the aggregate is 4 groups. No
    window, no driver materialization.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 7 != 3).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.round(F.col("o_totalprice") * 0.9, 2)
        ).otherwise(F.col("o_totalprice")).alias("old_price"),
    )
    new = orders.filter(F.col("o_orderkey") % 11 != 5).select(
        "o_orderkey", F.col("o_totalprice").alias("new_price")
    )
    diff = old.join(new, "o_orderkey", "full_outer").withColumn(
        "change_type",
        F.when(F.col("old_price").isNull(), "insert")
        .when(F.col("new_price").isNull(), "delete")
        .when(F.col("old_price") != F.col("new_price"), "update")
        .otherwise("unchanged"),
    )
    return (
        diff.groupBy("change_type")
        .agg(F.count("*").alias("n_keys"))
        .orderBy("change_type")
    )


QUERIES["x58_snapshot_diff_cdc"] = x58_snapshot_diff_cdc

ORACLE["x58_snapshot_diff_cdc"] = """
    WITH old AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0
                    THEN ROUND(o_totalprice * 0.9, 2)
                    ELSE o_totalprice END AS old_price
        FROM orders WHERE o_orderkey % 7 <> 3
    ),
    new AS (
        SELECT o_orderkey, o_totalprice AS new_price
        FROM orders WHERE o_orderkey % 11 <> 5
    ),
    diff AS (
        SELECT CASE WHEN old_price IS NULL THEN 'insert'
                    WHEN new_price IS NULL THEN 'delete'
                    WHEN old_price <> new_price THEN 'update'
                    ELSE 'unchanged' END AS change_type
        FROM old FULL OUTER JOIN new USING (o_orderkey)
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM diff GROUP BY 1 ORDER BY 1
"""


# --- events analytics extension: cohort retention ---------------------------

def x59_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over the events stream: users are cohorted by
    first-active day; for each (cohort day, day offset ≤ 7) report how
    many of that cohort were active again — the standard product-
    analytics retention triangle, and a different events shape from
    funnel (x51: ordered step progression) and sessionization (q19:
    gap-based grouping).

    Scale shape: ONE scan of raw events (the (user, day) distinct), then
    the cohort day as a ``min`` window partitioned by ``user_id`` — a
    high-cardinality partition key, and strictly cheaper than the
    equivalent self-join formulation (distinct → per-user min-aggregate →
    join back), which Spark plans as a SECOND full scan+distinct of
    events because unpersisted subplans aren't shared between consumers.
    The final aggregate is |cohorts × 8| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    per_user = W.partitionBy("user_id")
    return (
        user_days.withColumn("cohort_day", F.min("d").over(per_user))
        .withColumn("day_offset", F.datediff("d", "cohort_day"))
        .filter(F.col("day_offset") <= 7)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
        )
        .agg(F.count("*").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


QUERIES["x59_cohort_retention"] = x59_cohort_retention

ORACLE["x59_cohort_retention"] = """
    WITH user_days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    cohort AS (
        SELECT user_id, MIN(d) AS cohort_day FROM user_days GROUP BY 1
    )
    SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', c.cohort_day, u.d) AS INTEGER) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM user_days u JOIN cohort c USING (user_id)
    WHERE date_diff('day', c.cohort_day, u.d) <= 7
    GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- X2 extension: prefix-filtered set-similarity join (PPJoin family) ------

def x60_prefix_filtered_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard join (AllPairs/PPJoin family): for
    Jaccard ≥ t, sort each document's shingle set by GLOBAL document
    frequency (rarest first) and emit postings only for the first
    ``n - ⌈t·n⌉ + 1`` shingles — any pair meeting the threshold MUST
    collide inside these prefixes, so the candidate set shrinks by ~t
    while staying lossless. Candidates are then exact-verified on the
    full shingle sets. The oracle recomputes the answer with x10's
    exhaustive same-block pair scan, so the driver gate empirically
    certifies the prefix filter's losslessness end to end (a missed pair
    would be a row-count mismatch).

    This is the third index-pruning strategy in the dedup family —
    MinHash banding (x08) and SimHash pigeonhole banding (x09) are
    probabilistic; the prefix filter is EXACT — and the rare-first
    global order is the same frequency heuristic x53's df-prune applies
    to weighted cosine. Scale shape: the frequency table is |vocab|-sized
    and broadcast; the ranking window partitions by doc id (high
    cardinality); the candidate join shuffles on (block, shingle) like
    x10 but over prefix postings only; verification touches candidate
    pairs, never the corpus square.
    """
    from ..cache import track_persist  # noqa: PLC0415

    from ..operators.dedup import document_grams, prefix_filter_postings

    t = 0.5
    docs = load_table(spark, sf_dir, "documents")
    grams = document_grams(docs, "text", "doc_id", shingle_n=3,
                           keep_cols=("lang",)) \
        .transform(track_persist)
    # shared machinery (operators/dedup.prefix_filter_postings): the
    # rare-first ranking, the n − ⌈t·n⌉ + 1 cut, and the lossless df≥2
    # prune are ONE implementation for x60 and x67b, so the certified
    # and product paths cannot drift apart
    prefix, _ = prefix_filter_postings(
        grams,
        lambda n: n - F.ceil(F.lit(t) * n) + 1,
        block_col="lang",
    )
    # the symmetric Jaccard join never reads doc sizes — don't ship
    # them through the candidate shuffle
    prefix = prefix.select("id", "lang", "g")
    a, b = prefix.alias("a"), prefix.alias("b")
    candidates = (
        a.join(b, (F.col("a.lang") == F.col("b.lang"))
               & (F.col("a.g") == F.col("b.g"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
        .distinct()
    )
    ga = grams.select(F.col("id").alias("ia"), F.col("grams").alias("grams_a"))
    gb = grams.select(F.col("id").alias("ib"), F.col("grams").alias("grams_b"))
    verified = (
        candidates.join(ga, "ia").join(gb, "ib")
        .withColumn("common", F.size(F.array_intersect("grams_a", "grams_b")))
        .withColumn(
            "jaccard",
            F.col("common")
            / (F.size("grams_a") + F.size("grams_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= t)
    )
    return (
        verified.select(
            F.col("ia").alias("a"), F.col("ib").alias("b"),
            F.round("jaccard", 6).alias("jaccard"),
        )
        .orderBy("a", "b")
    )


QUERIES["x60_prefix_filtered_jaccard"] = x60_prefix_filtered_jaccard

ORACLE["x60_prefix_filtered_jaccard"] = r"""
    WITH d AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
                   i -> string_split_regex(lower(trim(text)), '\s+')[i] || ' ' ||
                        string_split_regex(lower(trim(text)), '\s+')[i+1] || ' ' ||
                        string_split_regex(lower(trim(text)), '\s+')[i+2]
               )) AS grams
        FROM documents
        WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 3
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           ROUND(len(list_intersect(a.grams, b.grams)) * 1.0 /
                 (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
                 6) AS jaccard
    FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
          (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
    ORDER BY a, b
"""


# --- X4 extension: mixture upsampling (epochs per source) -------------------

def x61_mixture_upsampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture upsampling: give token-poor sources extra epochs so
    the training mixture approaches token parity — ``repeats = min(4,
    ceil(max_source_tokens / source_tokens))`` — and MATERIALIZE the
    replicated corpus via ``explode(sequence(1, repeats))`` (each copy
    tagged with its epoch), reporting per-source rows and tokens before
    and after. This is the standard epoching step a pretraining pipeline
    runs after curation (cf. data-mixing practice in public LLM recipes:
    low-resource sources repeat; the cap bounds overfitting risk).

    Scale shape: token totals are one aggregate; the per-source repeat
    table is |sources|-sized and broadcast; replication is a map-side
    explode (q48's salting trick used for epochs), so nothing shuffles
    the corpus — the aggregate after replication shuffles |sources| rows.
    """
    from ..functions.text import token_count_expr

    docs = load_table(spark, sf_dir, "documents").select(
        "source", token_count_expr("text").alias("n_tok")
    )
    totals = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("tok")
    )
    t_max = totals.agg(F.max("tok").alias("tok_max"))
    plan = totals.crossJoin(F.broadcast(t_max)).select(
        "source", "n_docs", "tok",
        F.least(
            F.lit(4),
            F.coalesce(
                F.ceil(F.try_divide(F.col("tok_max"), F.col("tok")))
                .cast("int"),
                F.lit(1),  # all-empty source: no upsampling, 1 epoch
            ),
        ).alias("repeats"),
    )
    replicated = (
        docs.join(F.broadcast(plan.select("source", "repeats")), "source")
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("repeats"))))
    )
    after = replicated.groupBy("source").agg(
        F.count("*").alias("rows_after"), F.sum("n_tok").alias("tok_after")
    )
    return (
        plan.join(after, "source")
        .select("source", "n_docs", "repeats",
                F.col("tok").alias("tokens_before"),
                "rows_after", F.col("tok_after").alias("tokens_after"))
        .orderBy("source")
    )


QUERIES["x61_mixture_upsampling"] = x61_mixture_upsampling

ORACLE["x61_mixture_upsampling"] = r"""
    WITH d AS (
        SELECT source,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
        FROM documents
    ),
    totals AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS tok
        FROM d GROUP BY 1
    ),
    plan AS (
        SELECT source, n_docs, tok,
               CAST(LEAST(4, COALESCE(CEIL((SELECT MAX(tok) FROM totals)
                                        * 1.0 / NULLIF(tok, 0)), 1))
                    AS INTEGER) AS repeats
        FROM totals
    ),
    replicated AS (
        SELECT d.source, d.n_tok
        FROM d JOIN plan USING (source),
             UNNEST(range(1, plan.repeats + 1))
    ),
    after AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS rows_after,
               CAST(SUM(n_tok) AS BIGINT) AS tok_after
        FROM replicated GROUP BY 1
    )
    SELECT p.source, p.n_docs, p.repeats,
           p.tok AS tokens_before,
           a.rows_after, a.tok_after AS tokens_after
    FROM plan p JOIN after a USING (source)
    ORDER BY p.source
"""


# --- partitioning-observability extension: join-key skew diagnostics --------

def x62_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report: for each candidate shuffle key on events,
    the key-frequency distribution summary (row count, distinct keys,
    hottest-key frequency, skew ratio = max/avg). This is the
    observability step BEFORE choosing a mitigation — the q48 salted
    join and AQE skew splitting are the cures; this query is the
    diagnosis a pipeline runs on its hot keys every load.

    Scale shape: one groupBy per analyzed key (map-side combined), each
    reducing to a one-row summary; the union is |keys analyzed| rows.
    At 100 TB the same plan runs over a sampled scan — shape unchanged.
    """
    ev = load_table(spark, sf_dir, "events")

    def key_stats(col: str) -> DataFrame:
        freq = ev.groupBy(col).agg(F.count("*").alias("f"))
        return freq.agg(
            F.lit(col).alias("key_col"),
            F.sum("f").alias("n_rows"),
            F.count("*").alias("n_keys"),
            F.max("f").alias("max_freq"),
            F.round(
                F.max("f") / (F.sum("f") / F.count("*")), 4
            ).alias("skew_ratio"),
        )

    return (
        key_stats("user_id")
        .unionByName(key_stats("event_type"))
        .orderBy("key_col")
    )


QUERIES["x62_skew_diagnostics"] = x62_skew_diagnostics

ORACLE["x62_skew_diagnostics"] = """
    WITH u AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS f FROM events GROUP BY user_id
    ),
    e AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS f FROM events GROUP BY event_type
    )
    SELECT * FROM (
        SELECT 'user_id' AS key_col, CAST(SUM(f) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(f) AS BIGINT) AS max_freq,
               ROUND(MAX(f) / (SUM(f) * 1.0 / COUNT(*)), 4) AS skew_ratio
        FROM u
        UNION ALL
        SELECT 'event_type', CAST(SUM(f) AS BIGINT), CAST(COUNT(*) AS BIGINT),
               CAST(MAX(f) AS BIGINT),
               ROUND(MAX(f) / (SUM(f) * 1.0 / COUNT(*)), 4)
        FROM e
    ) ORDER BY key_col
"""


# --- events analytics extension: time-weighted average ----------------------

def x63_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP-style) of ``value`` per event type:
    each observation is weighted by how long it remained current (the
    microsecond gap to the next event of the same type), the standard
    aggregate for irregularly-sampled telemetry where a plain AVG
    over-weights bursts. Last observation per type carries zero duration
    (nothing is held after it) and drops out of both sums.

    Scale shape: one window (lead) partitioned by event_type ordered by
    time, then a plain aggregate — the sessionization shuffle shape
    (q19) with an interval weight instead of a gap flag. Durations are
    exact integer microseconds; the weighted sums are double but agree
    across engines at the 4dp rounding.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value", F.unix_micros("ts").alias("t_us")
    )
    w = W.partitionBy("event_type").orderBy("t_us", "value")
    timed = ev.withColumn(
        "dur_us", F.lead("t_us").over(w) - F.col("t_us")
    ).filter(F.col("dur_us").isNotNull())
    return (
        timed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_intervals"),
            F.round(
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 4
            ).alias("twap"),
            F.round(F.avg("value"), 4).alias("plain_avg"),
        )
        .orderBy("event_type")
    )


QUERIES["x63_time_weighted_avg"] = x63_time_weighted_avg

ORACLE["x63_time_weighted_avg"] = """
    WITH timed AS (
        SELECT event_type, value,
               LEAD(epoch_us(ts)) OVER (
                   PARTITION BY event_type ORDER BY epoch_us(ts), value
               ) - epoch_us(ts) AS dur_us
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           ROUND(SUM(value * dur_us) / SUM(dur_us), 4) AS twap,
           ROUND(AVG(value), 4) AS plain_avg
    FROM timed
    WHERE dur_us IS NOT NULL
    GROUP BY 1 ORDER BY 1
"""


# --- events analytics extension: conversion lag -----------------------------

def x64_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion lag, cohorted by signup day: one
    conditional aggregation collapses each user's history to (first
    signup, first purchase) — no join between event-type subsets, no
    window — then converted users reduce to per-day count and lag stats.
    The conditional-min shape (``min(CASE WHEN type=… THEN ts END)``) is
    the single-pass alternative to self-joining the events table once
    per funnel step (x51 measures step REACH; this measures step TIME).

    Determinism: lags are exact integer microseconds; the average is an
    exact integer sum over a count, identical across engines before the
    3dp rounding.

    Scale shape: one shuffle on user_id (high cardinality), then a
    |days|-row aggregate. At 100 TB this is the textbook two-level
    reduction — nothing else touches the raw event stream.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("t_us"))).alias("s_us"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("t_us"))).alias("p_us"),
    )
    conv = per_user.filter(
        F.col("s_us").isNotNull() & F.col("p_us").isNotNull()
        & (F.col("p_us") >= F.col("s_us"))
    )
    return (
        conv.groupBy(
            F.date_format(
                F.to_date(F.timestamp_micros(F.col("s_us"))), "yyyy-MM-dd"
            ).alias("signup_day")
        )
        .agg(
            F.count("*").alias("n_converted"),
            F.round(
                F.avg((F.col("p_us") - F.col("s_us")) / F.lit(1e6)), 3
            ).alias("avg_lag_sec"),
            F.round(
                F.min((F.col("p_us") - F.col("s_us")) / F.lit(1e6)), 3
            ).alias("min_lag_sec"),
            F.round(
                F.max((F.col("p_us") - F.col("s_us")) / F.lit(1e6)), 3
            ).alias("max_lag_sec"),
        )
        .orderBy("signup_day")
    )


QUERIES["x64_conversion_lag"] = x64_conversion_lag

ORACLE["x64_conversion_lag"] = """
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s_us,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
        FROM events GROUP BY 1
    ),
    conv AS (
        SELECT * FROM per_user
        WHERE s_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= s_us
    )
    SELECT strftime(CAST(make_timestamp(s_us) AS DATE), '%Y-%m-%d') AS signup_day,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(AVG((p_us - s_us) / 1e6), 3) AS avg_lag_sec,
           ROUND(MIN((p_us - s_us) / 1e6), 3) AS min_lag_sec,
           ROUND(MAX((p_us - s_us) / 1e6), 3) AS max_lag_sec
    FROM conv GROUP BY 1 ORDER BY 1
"""


# --- events analytics extension: Markov transition matrix -------------------

def x65_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every consecutive (event, next-event) pair in a
    user's timeline, the transition count and the row-normalized
    transition probability P(next | current). This is the
    behavioral-model twin of q19's sessionization — q19 cuts the
    timeline into sessions, this summarizes its dynamics (the input to
    churn models, anomaly detection on broken flows, and next-action
    prediction baselines). Reference analog: none — extension surface
    (the reference's BI queries are static aggregates).

    Determinism: sequence order is (ts, event_id) — the id tiebreak
    makes ``lead`` well-defined even if two events share a timestamp.
    Counts are exact integers; probabilities are integer ratios rounded
    to 6dp, identical across engines.

    Scale shape: ONE wide shuffle on user_id (high cardinality, evenly
    distributed) for the sequence window; ``lead`` needs no full
    materialization beyond each user's partition-local sort. The
    transition pairs then reduce to at most |types|² rows, and the
    row-normalizing window runs on that tiny aggregate — the same
    two-level reduction as x64. At 100 TB nothing after the first
    shuffle touches event-scale data.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    row_total = W.partitionBy("from_type")
    return (
        pairs.withColumn(
            "p_transition",
            F.round(
                F.col("n_transitions") / F.sum("n_transitions").over(row_total), 6
            ),
        )
        .orderBy("from_type", "to_type")
    )


QUERIES["x65_event_transitions"] = x65_event_transitions

ORACLE["x65_event_transitions"] = """
    WITH seq AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS to_type
        FROM events
    ),
    cnt AS (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           ROUND(n_transitions * 1.0 /
                 SUM(n_transitions) OVER (PARTITION BY from_type), 6) AS p_transition
    FROM cnt ORDER BY 1, 2
"""


# --- X1/X4 extension: weighted reservoir sampling ---------------------------

def x66_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis &
    Spirakis 2006, "Weighted random sampling with a reservoir"): each
    doc draws key ``u^(1/w)`` with weight w = n_chars, and the top-8
    keys per source are the sample — inclusion probability rises with
    document length, the token-budget-aware cousin of x20's uniform
    per-source cap (sampling proportional-to-size is how you downsample
    a corpus while preserving most of its TOKENS, not just its rows).

    Engine-independence: the uniform draw is a pure-arithmetic Knuth
    multiplicative hash of doc_id — ``((doc_id % 2^20) * 2654435761)
    % 2^32`` — evaluated identically by any engine with 64-bit integer
    math (the multiplication is bounded by 2^20·KNUTH ≈ 2.8e15, well
    inside int64), then mapped into (0,1). ``rand()`` would change the
    sample every run and break the driver's cross-engine gate; at 100 TB
    swap the arithmetic hash for ``xxhash64`` (same plan shape, loses
    only DuckDB-replayability). Keys are continuous doubles, so rank
    order is stable across engines' libm pow to ~1 ulp.

    Scale shape: one map-side key computation, one shuffle on source for
    the per-source top-k window — identical to x20. No join, no global
    sort; the |sources|×8 result is the only thing leaving the shuffle.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    m = ((F.col("doc_id") % F.lit(1048576)) * F.lit(2654435761)) % F.lit(4294967296)
    u = (m + F.lit(1)) / F.lit(4294967297.0)
    key = F.pow(u, F.lit(1.0) / F.greatest(F.col("n_chars"), F.lit(1)).cast("double"))
    w = W.partitionBy("source").orderBy(F.desc("sample_key"), "doc_id")
    return (
        docs.withColumn("sample_key", key)
        .withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("sample_rank") <= 8)
        .select(
            "source", "sample_rank", "doc_id",
            F.round("sample_key", 6).alias("sample_key"),
        )
        .orderBy("source", "sample_rank")
    )


QUERIES["x66_weighted_sample"] = x66_weighted_sample

ORACLE["x66_weighted_sample"] = """
    WITH keyed AS (
        SELECT source, doc_id,
               POWER((((doc_id % 1048576) * 2654435761) % 4294967296 + 1)
                         / 4294967297.0,
                     1.0 / GREATEST(n_chars, 1)) AS sample_key
        FROM documents
    ),
    ranked AS (
        SELECT source, doc_id, sample_key,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY sample_key DESC, doc_id) AS sample_rank
        FROM keyed
    )
    SELECT source, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id,
           ROUND(sample_key, 6) AS sample_key
    FROM ranked WHERE sample_rank <= 8 ORDER BY source, sample_rank
"""


# --- X2 extension: asymmetric containment (quote / near-superset) join ------

#: Above this corpus size the direct count-join's Σdf² collision volume
#: is assumed dangerous and x67's auto strategy switches to the
#: prefix-filtered plan. A production deployment would decide from
#: catalog statistics on shingle document frequency (the true cost is
#: Σdf², not doc count); the doc-count proxy keeps the decision
#: metadata-cheap — exactly the kind of size-based plan choice Spark
#: itself makes for broadcast-vs-shuffle joins.
CONTAINMENT_DIRECT_MAX_DOCS = 1_000_000

#: Memoized auto-strategy decision per (dataset path, mtime) — the
#: doc-count probe is a (metadata-cheap but not free) Spark job, and
#: the decision is deterministic per dataset VERSION, so repeated plan
#: builds shouldn't re-run it; the mtime in the key invalidates the
#: memo when the data at the path changes. A production engine reads
#: this from catalog stats.
_CONTAINMENT_STRATEGY: dict[tuple[str, float], str] = {}


def _containment_pairs(
    spark: SparkSession, sf_dir: str, strategy: str = "auto"
) -> DataFrame:
    """Asymmetric shingle-containment join: for same-lang pairs, the
    fraction of EACH document's distinct 3-gram shingles shared with the
    other — ``c_a_in_b = |A∩B| / |A|``. Jaccard (x10/x60) is symmetric
    and misses quote/near-superset relations: a short doc embedded
    verbatim in a long one has tiny Jaccard but containment ≈ 1. This is
    the detector curation pipelines run for quotation chains and
    partial-copy provenance (and the doc-level analog of x38's span
    dedup). Reference analog: none — extension surface.

    Two physical strategies for one logical result (both registered and
    driver-certified against the same exhaustive oracle; the r5 verdict
    flagged the direct plan weak-at-100TB and asked for the prefix
    filter — benchmarking showed each wins its own regime, so the
    operator picks like Catalyst picks join strategies):

    - ``direct`` — inverted-postings self-join on (lang, shingle) with
      the containment count produced IN the join's group-by (one
      shuffle, one aggregate; pairs materialize only where a shingle
      collides). Cost is Σ_g df(g)²: optimal while document frequencies
      are modest (sf0.1: max df = 25, Σdf² ≈ 2.8M — 1.0 s), quadratic
      in the hottest shingle's df — a stopword-grade shingle at corpus
      scale is fatal.
    - ``prefix`` — the ASYMMETRIC prefix filter (AllPairs/PPJoin
      family): max-containment ≥ t means ``shared ≥ ⌈t·min(na,nb)⌉``,
      and by the prefix-filtering lemma any such overlap must touch the
      SMALLER document's first ``n − ⌈t·n⌉ + 1`` shingles under a
      global rare-first order. The probe side posts only that prefix,
      the index side posts everything, and the join pairs probe docs
      with index docs of equal-or-larger size — per-shingle pair space
      drops from O(df²) to O(prefix_df·df), and a hot shingle sits at
      the END of every doc's rare-first ranking, so its prefix_df ≪ df.
      Candidates are exact-verified on the full shingle sets (x60's
      verification shape). Losslessness is certified empirically by the
      driver gate (x67b vs the exhaustive oracle) and pinned on
      constructed hot-shingle corpora in tests/test_curation_plans.py.
      More stages, so it loses at small scale (sf0.1 bench: ~3.6 s vs
      ~1.2 s, after the df≥2 posting prune) and wins unboundedly at
      skew.
    - ``auto`` — direct while the corpus is small
      (``CONTAINMENT_DIRECT_MAX_DOCS``), prefix beyond.

    Counts are over xxhash64'd distinct shingles (engine-side) vs
    string shingles (oracle): identical up to 64-bit intra-doc
    collisions (~1e-9).

    Scale shape (prefix path): the frequency table is |vocab|-sized and
    broadcast; the rare-first ranking window partitions by doc id (high
    cardinality); the candidate join shuffles prefix postings against
    full postings on (lang, shingle); verification touches candidate
    pairs, never the corpus square.
    """
    from ..cache import track_persist  # noqa: PLC0415

    from ..operators.dedup import document_grams

    t = 0.2
    docs = load_table(spark, sf_dir, "documents")
    if strategy == "auto":
        # memo key includes the dataset's mtime: a corpus regenerated
        # or grown AT THE SAME PATH must re-decide (a path-only memo
        # would keep the quadratic direct plan after the corpus grows
        # past the threshold — the exact case the switch exists for).
        # A production engine reads catalog stats, whose snapshot id
        # plays this mtime role.
        import os

        try:
            mt = os.path.getmtime(f"{sf_dir}/documents.parquet")
        except OSError:
            mt = 0.0
        memo_key = (sf_dir, mt)
        if memo_key not in _CONTAINMENT_STRATEGY:
            _CONTAINMENT_STRATEGY[memo_key] = (
                "direct"
                if docs.count() <= CONTAINMENT_DIRECT_MAX_DOCS
                else "prefix"
            )
        strategy = _CONTAINMENT_STRATEGY[memo_key]
    if strategy == "direct":
        grams = document_grams(docs, "text", "doc_id", shingle_n=3,
                               keep_cols=("lang",))
        postings = grams.select(
            "id", "lang", F.size("grams").alias("n"),
            F.explode("grams").alias("shingle"),
        )
        a, b = postings.alias("a"), postings.alias("b")
        shared = (
            a.join(b, (F.col("a.lang") == F.col("b.lang"))
                   & (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.id") < F.col("b.id")))
            .groupBy(
                F.col("a.id").alias("a"), F.col("b.id").alias("b"),
                F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
            )
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        c_ab = F.col("shared") / F.col("na")
        c_ba = F.col("shared") / F.col("nb")
        return (
            shared.filter(F.greatest(c_ab, c_ba) >= t)
            .select(
                "a", "b", "shared",
                F.round(c_ab, 6).alias("c_a_in_b"),
                F.round(c_ba, 6).alias("c_b_in_a"),
            )
            .orderBy("a", "b")
        )
    if strategy != "prefix":
        raise ValueError(f"unknown strategy {strategy!r}")
    grams = document_grams(docs, "text", "doc_id", shingle_n=3,
                           keep_cols=("lang",)) \
        .transform(track_persist)
    # probe-side prefix: first n − ⌈t·n⌉ + 1 shingles, rarest first —
    # the SAME shared machinery as x60 (operators/dedup.
    # prefix_filter_postings), so the certified and product prefix
    # paths cannot drift; the rank covers ALL of the doc's shingles
    # (the bound is defined on the full set) and the lossless df≥2
    # prune happens AFTER ranking, on both sides.
    from ..operators.dedup import prefix_filter_postings

    prefix, idx = prefix_filter_postings(
        grams,
        lambda n: n - F.ceil(F.lit(t) * n) + 1,
        block_col="lang",
    )
    p, f = prefix.alias("p"), idx.alias("f")
    # probe must be the smaller side (the lemma's overlap bound is
    # ⌈t·n_probe⌉ with n_probe = min); equal sizes meet in both
    # directions and dedup via the canonical (least, greatest) key
    candidates = (
        p.join(f, (F.col("p.lang") == F.col("f.lang"))
               & (F.col("p.g") == F.col("f.g"))
               & (F.col("p.id") != F.col("f.id"))
               & (F.col("p.n") <= F.col("f.n")))
        .select(
            F.least(F.col("p.id"), F.col("f.id")).alias("ia"),
            F.greatest(F.col("p.id"), F.col("f.id")).alias("ib"),
        )
        .distinct()
    )
    ga = grams.select(F.col("id").alias("ia"), F.col("grams").alias("grams_a"))
    gb = grams.select(F.col("id").alias("ib"), F.col("grams").alias("grams_b"))
    shared = F.size(F.array_intersect("grams_a", "grams_b"))
    c_ab = F.col("shared") / F.col("na")
    c_ba = F.col("shared") / F.col("nb")
    return (
        candidates.join(ga, "ia").join(gb, "ib")
        .select(
            F.col("ia").alias("a"), F.col("ib").alias("b"),
            shared.cast("long").alias("shared"),
            F.size("grams_a").alias("na"), F.size("grams_b").alias("nb"),
        )
        .filter(F.greatest(c_ab, c_ba) >= t)
        .select(
            "a", "b", "shared",
            F.round(c_ab, 6).alias("c_a_in_b"),
            F.round(c_ba, 6).alias("c_b_in_a"),
        )
        .orderBy("a", "b")
    )


def x67_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment join, auto strategy (direct at test scales) — see
    ``_containment_pairs``."""
    return _containment_pairs(spark, sf_dir, "auto")


def x67b_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment join with the prefix-filtered plan FORCED — the
    100 TB path. Registered separately so the driver gate certifies the
    prefix filter's losslessness against the same exhaustive oracle
    (a missed pair would be a row-count mismatch), and benched so its
    cost is accountable. See ``_containment_pairs``."""
    return _containment_pairs(spark, sf_dir, "prefix")


QUERIES["x67_containment_pairs"] = x67_containment_pairs
QUERIES["x67b_containment_prefix"] = x67b_containment_prefix

ORACLE["x67_containment_pairs"] = r"""
    WITH d AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
                   i -> string_split_regex(lower(trim(text)), '\s+')[i] || ' ' ||
                        string_split_regex(lower(trim(text)), '\s+')[i+1] || ' ' ||
                        string_split_regex(lower(trim(text)), '\s+')[i+2]
               )) AS grams
        FROM documents
        WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 3
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS shared,
           ROUND(len(list_intersect(a.grams, b.grams)) * 1.0 / len(a.grams), 6)
               AS c_a_in_b,
           ROUND(len(list_intersect(a.grams, b.grams)) * 1.0 / len(b.grams), 6)
               AS c_b_in_a
    FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE GREATEST(len(list_intersect(a.grams, b.grams)) * 1.0 / len(a.grams),
                   len(list_intersect(a.grams, b.grams)) * 1.0 / len(b.grams))
          >= 0.2
    ORDER BY a, b
"""

# same exhaustive oracle: certifying the forced-prefix plan against it
# is the empirical losslessness proof for the prefix filter
ORACLE["x67b_containment_prefix"] = ORACLE["x67_containment_pairs"]


# --- events analytics extension: last-touch attribution ---------------------

def x68_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to
    the user's most recent PRECEDING non-purchase event, then purchases
    roll up per touch type with timing stats. The engine surface is the
    filtered-history window — ``last(CASE …, ignorenulls) OVER (ROWS
    UNBOUNDED PRECEDING → 1 PRECEDING)`` — which scans each user's
    timeline ONCE; the join formulation (purchases × prior events,
    max-per-purchase) re-touches the event stream per purchase and is
    exactly what this shape avoids. Completes the funnel family: x51
    measures reach, x64 signup→purchase time, this assigns credit.

    Determinism: timeline order is (ts, event_id); gaps are exact
    integer microseconds, averaged then rounded to 3dp.

    Scale shape: one shuffle on user_id for the window, then a
    |touch types|-row aggregate — nothing after the first shuffle is
    event-scale. Same two-level reduction as x64/x65.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    hist = W.partitionBy("user_id").orderBy("t_us", "event_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    non_purchase = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    non_purchase_t = F.when(F.col("event_type") != "purchase", F.col("t_us"))
    touched = ev.withColumn(
        "touch_type", F.last(non_purchase, ignorenulls=True).over(hist)
    ).withColumn(
        "touch_t_us", F.last(non_purchase_t, ignorenulls=True).over(hist)
    )
    purchases = touched.filter(
        (F.col("event_type") == "purchase") & F.col("touch_type").isNotNull()
    )
    return (
        purchases.groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(
                F.avg((F.col("t_us") - F.col("touch_t_us")) / F.lit(1e6)), 3
            ).alias("avg_gap_sec"),
            F.round(
                F.max((F.col("t_us") - F.col("touch_t_us")) / F.lit(1e6)), 3
            ).alias("max_gap_sec"),
        )
        .orderBy("touch_type")
    )


QUERIES["x68_last_touch_attribution"] = x68_last_touch_attribution

ORACLE["x68_last_touch_attribution"] = """
    WITH touched AS (
        SELECT event_type,
               epoch_us(ts) AS t_us,
               LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                          IGNORE NULLS)
                   OVER w AS touch_type,
               LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END
                          IGNORE NULLS)
                   OVER w AS touch_t_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(AVG((t_us - touch_t_us) / 1e6), 3) AS avg_gap_sec,
           ROUND(MAX((t_us - touch_t_us) / 1e6), 3) AS max_gap_sec
    FROM touched
    WHERE event_type = 'purchase' AND touch_type IS NOT NULL
    GROUP BY 1 ORDER BY 1
"""


# --- events analytics extension: RFM segmentation ---------------------------

def x69_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic lifecycle-marketing rollup: per-user purchase stats, each
    dimension scored 1-4 against corpus quartile bounds, users counted
    per (r, f, m) cell. Scoring uses BROADCAST quantile bounds (the x56
    range-planner technique) rather than three NTILE windows: ntile
    globally sorts |users| rows through one partition, while the bounds
    are one tiny aggregate cross-joined back map-side — the shape that
    survives a 100× user count.

    Determinism: recency is exact integer days (floor of a microsecond
    difference), frequency exact counts, monetary 2dp-rounded sums.
    Quartile bounds interpolate at g ∈ {0, .25, .5, .75} — exact binary
    fractions over identical 2dp-grid inputs, so both engines place
    every user on the same side of every bound (a bound can only equal
    a grid point when g = 0, where interpolation is exact in both).

    Scale shape: one shuffle on user_id (purchase filter pushed to the
    scan), one single-row bounds aggregate broadcast back, map-side CASE
    scoring, and a ≤64-cell final aggregate. No window over user-scale
    data, no join bigger than a broadcast.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("value"), 2).alias("monetary"),
    )
    corpus = per_user.agg(F.max("last_us").alias("corpus_max_us"))
    per_user = per_user.crossJoin(F.broadcast(corpus)).withColumn(
        "recency_days",
        F.floor((F.col("corpus_max_us") - F.col("last_us")) / F.lit(86400000000)),
    )
    bounds = per_user.agg(
        *[
            F.expr(f"percentile({c}, {q})").alias(f"{c[0]}q{int(q * 100)}")
            for c in ("recency_days", "frequency", "monetary")
            for q in (0.25, 0.5, 0.75)
        ]
    )

    def score(col: str, prefix: str, invert: bool) -> F.Column:
        s = (
            F.lit(1)
            + (F.col(col) > F.col(f"{prefix}q25")).cast("int")
            + (F.col(col) > F.col(f"{prefix}q50")).cast("int")
            + (F.col(col) > F.col(f"{prefix}q75")).cast("int")
        )
        return (F.lit(5) - s) if invert else s

    scored = per_user.crossJoin(F.broadcast(bounds)).select(
        score("recency_days", "r", invert=True).alias("r_score"),
        score("frequency", "f", invert=False).alias("f_score"),
        score("monetary", "m", invert=False).alias("m_score"),
        "monetary",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("monetary"), 3).alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


QUERIES["x69_rfm_segmentation"] = x69_rfm_segmentation

ORACLE["x69_rfm_segmentation"] = """
    WITH per_user AS (
        SELECT user_id,
               MAX(epoch_us(ts)) AS last_us,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               ROUND(SUM(value), 2) AS monetary
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    rec AS (
        SELECT *,
               CAST(FLOOR(((SELECT MAX(last_us) FROM per_user) - last_us)
                          / 86400000000) AS BIGINT) AS recency_days
        FROM per_user
    ),
    bounds AS (
        SELECT quantile_cont(recency_days, 0.25) AS rq25,
               quantile_cont(recency_days, 0.50) AS rq50,
               quantile_cont(recency_days, 0.75) AS rq75,
               quantile_cont(frequency, 0.25) AS fq25,
               quantile_cont(frequency, 0.50) AS fq50,
               quantile_cont(frequency, 0.75) AS fq75,
               quantile_cont(monetary, 0.25) AS mq25,
               quantile_cont(monetary, 0.50) AS mq50,
               quantile_cont(monetary, 0.75) AS mq75
        FROM rec
    ),
    scored AS (
        SELECT CAST(5 - (1 + (recency_days > rq25)::INT + (recency_days > rq50)::INT
                           + (recency_days > rq75)::INT) AS INT) AS r_score,
               CAST(1 + (frequency > fq25)::INT + (frequency > fq50)::INT
                      + (frequency > fq75)::INT AS INT) AS f_score,
               CAST(1 + (monetary > mq25)::INT + (monetary > mq50)::INT
                      + (monetary > mq75)::INT AS INT) AS m_score,
               monetary
        FROM rec, bounds
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(monetary), 3) AS avg_monetary
    FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


# --- X4 extension: array higher-order-function suite ------------------------

def x70_array_lambda_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function surface (§2.5's lambda family in one
    oracle-checked query): per document, ``filter`` (long-token count),
    ``aggregate`` (total token chars folded from 0), ``transform`` +
    ``array_max`` (longest token), and ``array_distinct`` (case-folded
    unique-token ratio). All four lambdas run inside whole-stage codegen
    — the JVM expression path a 100 TB text pipeline needs where a
    per-row Python tokenizer would be the 10-100× slow path. DuckDB's
    ``list_*`` family replays the identical semantics (the one edge:
    ``aggregate`` folds empty arrays to its 0 seed while ``list_sum``
    yields NULL — COALESCEd in the oracle).

    Scale shape: pure map-side expressions over one scan; the only
    ordering is the output's doc_id sort. Nothing shuffles but the
    result.
    """
    from ..functions.text import tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"))
    return (
        docs.select(
            "doc_id",
            F.size(F.filter(toks, lambda t: F.length(t) > 6)).alias(
                "n_long_tokens"
            ),
            F.aggregate(
                toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
            ).alias("total_tok_chars"),
            F.array_max(F.transform(toks, F.length)).alias("max_tok_len"),
            F.round(
                F.size(F.array_distinct(F.transform(toks, F.lower)))
                / F.greatest(F.size(toks), F.lit(1)),
                6,
            ).alias("uniq_ratio"),
        )
        .orderBy("doc_id")
    )


QUERIES["x70_array_lambda_suite"] = x70_array_lambda_suite

ORACLE["x70_array_lambda_suite"] = r"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN []
                    ELSE string_split_regex(trim(text), '\s+') END AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(toks, t -> length(t) > 6)) AS INTEGER)
               AS n_long_tokens,
           COALESCE(CAST(list_sum(list_transform(toks, t -> length(t)))
                         AS BIGINT), 0) AS total_tok_chars,
           CAST(list_max(list_transform(toks, t -> length(t))) AS INTEGER)
               AS max_tok_len,
           ROUND(len(list_distinct(list_transform(toks, t -> lower(t)))) * 1.0 /
                 GREATEST(len(toks), 1), 6) AS uniq_ratio
    FROM t ORDER BY doc_id
"""


# --- events analytics extension: sequence surprisal scoring -----------------

def x71_sequence_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral anomaly score: average surprisal −ln P(next |
    current) of each user's transitions under the corpus-wide Markov
    matrix (x65). This is the broadcast-model-scoring composition every
    curation pipeline runs — fit a tiny model ON the corpus (here the
    |types|² matrix), broadcast it, score the corpus against it
    map-side (same shape as x39's unigram-LM doc scoring, one level up
    the sequence hierarchy). High scores = users whose flows the model
    finds improbable — bot/broken-client candidates.

    Determinism: probabilities are exact integer ratios; ln is libm
    1-ulp on both engines and the per-user average is rounded to 4dp,
    far above summation-order noise (~1e-15 relative).

    Scale shape: the transition pairs are computed ONCE (persisted) and
    feed both the matrix aggregate and the scoring join; the matrix is
    a broadcast (≤|types|² rows), so scoring is map-side — the second
    pass over event-scale data shuffles only on user_id for the final
    per-user reduce.
    """
    from ..cache import track_persist  # noqa: PLC0415

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .select("user_id", F.col("event_type").alias("from_type"), "to_type")
        .transform(track_persist)
    )
    cnt = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_total = W.partitionBy("from_type")
    matrix = cnt.withColumn(
        "p", F.col("n") / F.sum("n").over(row_total)
    ).select("from_type", "to_type", "p")
    return (
        pairs.join(F.broadcast(matrix), ["from_type", "to_type"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.round(F.avg(-F.log("p")), 4).alias("avg_surprisal"),
        )
        .orderBy("user_id")
    )


QUERIES["x71_sequence_surprisal"] = x71_sequence_surprisal

ORACLE["x71_sequence_surprisal"] = """
    WITH seq AS (
        SELECT user_id, event_type AS from_type,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS to_type
        FROM events
    ),
    pairs AS (
        SELECT user_id, from_type, to_type FROM seq WHERE to_type IS NOT NULL
    ),
    cnt AS (
        SELECT from_type, to_type, COUNT(*) AS n FROM pairs GROUP BY 1, 2
    ),
    matrix AS (
        SELECT from_type, to_type,
               n * 1.0 / SUM(n) OVER (PARTITION BY from_type) AS p
        FROM cnt
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           ROUND(AVG(-ln(p)), 4) AS avg_surprisal
    FROM pairs JOIN matrix USING (from_type, to_type)
    GROUP BY 1 ORDER BY 1
"""


# --- events analytics extension: top onboarding paths -----------------------

def x72_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top onboarding paths: each user's FIRST THREE events joined into a
    path string (``click>signup>purchase``), ranked by user count — the
    product-analytics "common flows" report, and the categorical
    companion to x65's pairwise transition matrix (3-step paths catch
    order effects pairs can't). Rank-3 prefixes keep the path space
    dense (|types|³ ≤ 125 cells) where full paths are all-unique noise.

    Determinism: the per-user prefix is row_number ≤ 3 over (ts,
    event_id); the path string is assembled from an array_sort over the
    same key, so assembly order is engine-independent; ties in the
    top-20 cut break on the path string itself.

    Scale shape: one user_id shuffle for the prefix window (the q19
    shape), a per-user reduce to one short string, a ≤125-cell count,
    and TakeOrdered for the top-20 — no global sort of user-scale data.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("t_us")
    )
    w = W.partitionBy("user_id").orderBy("t_us", "event_id")
    first3 = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    paths = first3.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("t_us", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path3")
    )
    return (
        paths.groupBy("path3")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path3")
        .limit(20)
    )


QUERIES["x72_top_event_paths"] = x72_top_event_paths

ORACLE["x72_top_event_paths"] = """
    WITH ranked AS (
        SELECT user_id, event_type, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path3
        FROM ranked WHERE rn <= 3 GROUP BY 1
    )
    SELECT path3, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY 1
    ORDER BY n_users DESC, path3 LIMIT 20
"""


# --- events analytics extension: DAU / WAU / stickiness ---------------------

def x73_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU, trailing-7-day WAU, and stickiness (DAU/WAU) per day — the
    engagement KPI triple. The WAU trick is the scale-defining choice:
    COUNT(DISTINCT) over a sliding 7-day window can't partial-aggregate,
    so each (user, day) activity row is EXPLODED to the 7 window days it
    serves (map-side ×7 on the already-deduped user-day frame, NOT raw
    events) and each window day counts distinct users independently —
    the standard shuffle-friendly rewrite of windowed distinct counts.

    Determinism: exact integer distinct counts; stickiness is an integer
    ratio rounded to 4dp.

    Scale shape: events reduce to distinct (user, day) first (one
    shuffle); the ×7 fan-out happens on that much smaller frame; the
    final per-day distinct is a second bounded shuffle. Days with no
    same-day activity drop via the inner join — both engines agree.
    """
    ud = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    win = ud.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("wday"),
        "user_id",
    )
    wau = win.groupBy("wday").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, dau.day == wau.wday)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )
        .orderBy("day")
    )


QUERIES["x73_dau_wau_stickiness"] = x73_dau_wau_stickiness

ORACLE["x73_dau_wau_stickiness"] = """
    WITH ud AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    dau AS (
        SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        FROM ud GROUP BY 1
    ),
    win AS (
        SELECT UNNEST(generate_series(day, day + INTERVAL 6 DAY,
                                      INTERVAL 1 DAY))::DATE AS wday,
               user_id
        FROM ud
    ),
    wau AS (
        SELECT wday, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        FROM win GROUP BY 1
    )
    SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
           ROUND(dau.dau * 1.0 / wau.wau, 4) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.wday
    ORDER BY day
"""


# --- X4 extension: per-source token entropy ---------------------------------

def x74_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Shannon entropy — the information-density
    companion to x48's cross-source KL drift (KL measures how a source
    differs from the corpus; entropy measures how internally diverse it
    is). Low-entropy sources are boilerplate/template farms, prime
    downweighting candidates in a training mix. H = −Σ p ln p over each
    source's token distribution, with the token count and vocab size
    alongside.

    Determinism: p are exact integer ratios per (source, term); the
    entropy sum's float ordering differs across engines by ~1e-15
    relative — rounded to 4dp.

    Scale shape: explode → one (source, term) count aggregate (map-side
    combined) → one |sources|-row reduce. The per-term p needs the
    per-source total, which rides back as a BROADCAST join (the x39
    pattern), never a window over the term table.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    from ..functions.text import tokens_expr

    terms = docs.select(
        "source", F.explode(tokens_expr(F.lower(F.col("text")))).alias("term")
    )
    counts = terms.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("source").agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab")
    )
    p = F.col("c") / F.col("total")
    return (
        counts.join(F.broadcast(totals), "source")
        .groupBy("source")
        .agg(
            F.max("total").alias("n_tokens"),
            F.max("vocab").alias("n_vocab"),
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy_nats"),
        )
        .orderBy("source")
    )


QUERIES["x74_token_entropy"] = x74_token_entropy

ORACLE["x74_token_entropy"] = r"""
    WITH terms AS (
        SELECT source,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents WHERE trim(text) <> ''
    ),
    counts AS (
        SELECT source, term, COUNT(*) AS c FROM terms GROUP BY 1, 2
    ),
    totals AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS vocab
        FROM counts GROUP BY 1
    )
    SELECT counts.source,
           MAX(total) AS n_tokens,
           MAX(vocab) AS n_vocab,
           ROUND(-SUM((c * 1.0 / total) * ln(c * 1.0 / total)), 4)
               AS entropy_nats
    FROM counts JOIN totals ON counts.source = totals.source
    GROUP BY 1 ORDER BY 1
"""


# --- X4 extension: PMI collocations -----------------------------------------

def x75_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information: adjacent token
    bigrams scoring ln(N·c(ab) / (c(a)·c(b))) — the classic
    collocation-mining statistic (Church & Hanks 1990), used in
    curation to find multiword boilerplate and build phrase vocabularies
    before tokenizer training. Bigrams under 5 occurrences are pruned
    (PMI's low-frequency pathology), then the top 20 by (PMI, bigram)
    are kept.

    Determinism: counts are exact; PMI is a ratio of integers under ln,
    rounded to 4dp; the top-20 cut tie-breaks on the bigram string.

    Scale shape: shingle the token array map-side (x10's machinery, kept
    as strings for the report), one bigram count aggregate, unigram
    counts joined back as BROADCASTS (post-prune vocab is small), top-k
    via TakeOrdered. No window, no self-join.
    """
    from ..functions.text import tokens_expr

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    toks = docs.select(tokens_expr(F.lower(F.col("text"))).alias("toks"))
    uni = (
        toks.select(F.explode("toks").alias("t"))
        .groupBy("t").agg(F.count(F.lit(1)).alias("cu"))
    )
    n_total = uni.agg(F.sum("cu").alias("n"))
    bigrams = (
        toks.select(
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, F.greatest(F.size("toks") - 1, F.lit(0))),
                    F.slice("toks", 2, F.greatest(F.size("toks") - 1, F.lit(0))),
                    lambda x, y: F.struct(x.alias("t1"), y.alias("t2")),
                )
            ).alias("bg")
        )
        .select(F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2"))
        .groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("cb"))
        .filter(F.col("cb") >= 5)
    )
    u1 = uni.select(F.col("t").alias("t1"), F.col("cu").alias("c1"))
    u2 = uni.select(F.col("t").alias("t2"), F.col("cu").alias("c2"))
    pmi = F.log(F.col("n") * F.col("cb") / (F.col("c1") * F.col("c2")))
    return (
        bigrams.join(F.broadcast(u1), "t1")
        .join(F.broadcast(u2), "t2")
        .crossJoin(F.broadcast(n_total))
        .select(
            F.concat_ws(" ", "t1", "t2").alias("bigram"),
            F.col("cb").alias("n_occurrences"),
            F.round(pmi, 4).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(20)
    )


QUERIES["x75_pmi_collocations"] = x75_pmi_collocations

ORACLE["x75_pmi_collocations"] = r"""
    WITH toks AS (
        SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE trim(text) <> ''
    ),
    uni AS (
        SELECT t, COUNT(*) AS cu
        FROM (SELECT unnest(toks) AS t FROM toks) GROUP BY 1
    ),
    n_total AS (SELECT SUM(cu) AS n FROM uni),
    bigrams AS (
        SELECT t1, t2, COUNT(*) AS cb FROM (
            SELECT toks[i] AS t1, toks[i + 1] AS t2
            FROM toks, UNNEST(range(1, len(toks))) AS r(i)
        ) GROUP BY 1, 2 HAVING COUNT(*) >= 5
    )
    SELECT t1 || ' ' || t2 AS bigram,
           CAST(cb AS BIGINT) AS n_occurrences,
           ROUND(ln(n * cb / (c1 * c2)), 4) AS pmi
    FROM bigrams
    JOIN (SELECT t AS t1, cu AS c1 FROM uni) USING (t1)
    JOIN (SELECT t AS t2, cu AS c2 FROM uni) USING (t2)
    CROSS JOIN n_total
    ORDER BY pmi DESC, bigram LIMIT 20
"""


# --- events analytics extension: chi-square independence --------------------

def x76_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence screen: is event-type mix independent of
    weekday? The contingency table (event_type × day-of-week), expected
    counts under independence (row·col/total), and per-cell Pearson
    residuals — the statistical-QA check a pipeline runs to catch
    schedule-coupled behavior drift (e.g. batch jobs masquerading as
    users on Sundays). Completes the profiling family: x48 compares
    distributions across sources, x74 within one, this tests two
    factors' joint distribution.

    Determinism: observed counts are exact; marginals are exact integer
    sums broadcast back; expected and residuals are integer-ratio
    arithmetic rounded to 4dp.

    Scale shape: ONE pass builds the ≤|types|×7 contingency aggregate;
    marginals derive from that tiny frame and ride back as broadcasts.
    Nothing after the first aggregate touches event-scale data.
    """
    from ..cache import track_persist  # noqa: PLC0415

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.dayofweek("ts").alias("dow")
    )
    # persisted: the ≤|types|×7 contingency frame has FOUR consumers
    # (cells + both marginals + total); without the persist each one
    # re-aggregates the raw event scan — 4 passes over 100 TB for a
    # 35-row table.
    obs = (
        ev.groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("observed"))
        .transform(track_persist)
    )
    row_m = obs.groupBy("event_type").agg(F.sum("observed").alias("row_n"))
    col_m = obs.groupBy("dow").agg(F.sum("observed").alias("col_n"))
    total = obs.agg(F.sum("observed").alias("n"))
    expected = F.col("row_n") * F.col("col_n") / F.col("n")
    return (
        obs.join(F.broadcast(row_m), "event_type")
        .join(F.broadcast(col_m), "dow")
        .crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "dow",
            "observed",
            F.round(expected, 4).alias("expected"),
            F.round(
                (F.col("observed") - expected) / F.sqrt(expected), 4
            ).alias("pearson_residual"),
        )
        .orderBy("event_type", "dow")
    )


QUERIES["x76_chisq_independence"] = x76_chisq_independence

ORACLE["x76_chisq_independence"] = """
    WITH obs AS (
        SELECT event_type, dayofweek(ts) + 1 AS dow,
               CAST(COUNT(*) AS BIGINT) AS observed
        FROM events GROUP BY 1, 2
    ),
    row_m AS (
        SELECT event_type, CAST(SUM(observed) AS BIGINT) AS row_n
        FROM obs GROUP BY 1
    ),
    col_m AS (
        SELECT dow, CAST(SUM(observed) AS BIGINT) AS col_n FROM obs GROUP BY 1
    ),
    total AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM obs)
    SELECT event_type, obs.dow, observed,
           ROUND(row_n * col_n * 1.0 / n, 4) AS expected,
           ROUND((observed - row_n * col_n * 1.0 / n)
                 / sqrt(row_n * col_n * 1.0 / n), 4) AS pearson_residual
    FROM obs
    JOIN row_m USING (event_type)
    JOIN col_m ON obs.dow = col_m.dow
    CROSS JOIN total
    ORDER BY event_type, obs.dow
"""


# --- events analytics extension: rate-burst detection -----------------------

def x77_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-burst detection: bucket each event type's stream into
    10-minute windows, then flag buckets whose event COUNT exceeds the
    type's mean + 3σ bucket rate — the RATE-level companion to x40
    (which flags anomalous VALUES): incident spikes, bot storms,
    retry floods. Per type: bucket count, burst-bucket count, and the
    peak bucket rate.

    Determinism: bucket counts are exact integers; μ and σ are ratios
    of exact integer sums (population σ, matching DuckDB ``stddev_pop``
    semantics explicitly); the burst comparison is integer-vs-double —
    a flip needs the threshold within 1 ulp of an integer count.

    Scale shape: one event-scale aggregate to (type, bucket) counts
    (map-side combined — the bucket expression is a pure timestamp
    truncation); per-type stats reduce the bucket frame and ride back
    as a BROADCAST; the burst flags and rollup stay on the tiny bucket
    table. Same one-pass + broadcast-stats shape as x40/x76.
    """
    from ..cache import track_persist  # noqa: PLC0415

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.floor(F.unix_micros("ts") / F.lit(600_000_000))).alias("bucket"),
    )
    buckets = (
        ev.groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(track_persist)
    )
    stats = buckets.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_pop("n").alias("sigma")
    )
    flagged = buckets.join(F.broadcast(stats), "event_type").withColumn(
        "is_burst",
        (F.col("n") > F.col("mu") + 3 * F.col("sigma")).cast("int"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("is_burst").alias("n_burst_buckets"),
            F.max("n").alias("peak_rate"),
            F.round(F.max("mu"), 4).alias("mean_rate"),
        )
        .orderBy("event_type")
    )


QUERIES["x77_burst_detection"] = x77_burst_detection

ORACLE["x77_burst_detection"] = """
    WITH buckets AS (
        SELECT event_type, FLOOR(epoch_us(ts) / 600000000) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, AVG(n) AS mu, stddev_pop(n) AS sigma
        FROM buckets GROUP BY 1
    )
    SELECT buckets.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN n > mu + 3 * sigma THEN 1 ELSE 0 END) AS BIGINT)
               AS n_burst_buckets,
           MAX(n) AS peak_rate,
           ROUND(MAX(mu), 4) AS mean_rate
    FROM buckets JOIN stats ON buckets.event_type = stats.event_type
    GROUP BY 1 ORDER BY 1
"""


# --- X1 extension: content-defined-chunking span dedup (r7) -----------------

#: Expected CDC chunk length in tokens: a token opens a new span iff
#: md5(token) starts with '0' (p = 1/16). md5 (not xxhash64) because the
#: boundary rule must be BIT-IDENTICAL in Spark and DuckDB for the oracle
#: to reproduce the chunking.
CDC_BOUNDARY_PREFIX = "0"
CDC_MIN_SPAN_TOKENS = 5


def cdc_spans(docs: DataFrame) -> DataFrame:
    """Content-defined chunking of documents into token spans:
    ``(doc_id, source, span_id, span, n_toks)``.

    x38's fixed 20-token grid misses any duplicate not aligned to chunk
    boundaries (a copy shifted by one token shares ZERO grid spans with
    its original — the r6 verdict's weak spot). CDC fixes alignment by
    construction: span boundaries are a function of token CONTENT
    (md5(token) startswith '0', p=1/16, mean span 16 tokens), so a
    copied passage re-chunks into the identical spans at ANY offset in
    the destination document. This is the chunking used by dedup/CAS
    storage systems (LBFS/rsync lineage) applied at token granularity.

    Miss bound (documented, test-pinned): a shared run of L tokens goes
    undetected only if it contains no COMPLETE span of >=
    CDC_MIN_SPAN_TOKENS tokens — needs >= 2 boundaries, so
    P(miss) <= (1 + L/16) * (15/16)^L; at L = 64 that is ~1.6%, at
    L = 128 ~5e-4. The fixed-grid detector's miss probability for
    offset-shifted copies is ~1 regardless of L.

    Scale shape: ONE shuffle on doc_id (window prefix-sum of boundary
    flags); the per-(doc, span) regroup reuses the doc_id partitioning
    (subset-of-keys clustering — no second exchange; asserted in
    tests), and span text reassembles from sorted (pos, token) structs
    JVM-side. Downstream consumers hash the span to fixed width before
    any cross-doc shuffle.
    """
    toks = docs.filter(F.trim("text") != "").select(
        "doc_id", "source", F.posexplode(tokens_expr(F.col("text")))
        .alias("pos", "tok"),
    )
    boundary = F.md5("tok").startswith(CDC_BOUNDARY_PREFIX).cast("int")
    w = (W.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    with_span = toks.withColumn("span_id", F.sum(boundary).over(w))
    return (
        with_span.groupBy("doc_id", "source", "span_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x.tok,
                ),
                " ",
            ).alias("span"),
            F.count("*").alias("n_toks"),
        )
    )


def x104_cdc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-robust span-level exact-substring dedup over CDC chunks
    (see ``cdc_spans``): rank identical spans by first occurrence and
    report duplicated-span mass per source — x38's aggregate contract,
    alignment-free. Spans shorter than CDC_MIN_SPAN_TOKENS are excluded
    ENTIRELY — from both the ranking and the n_spans/dup_ratio
    denominators (a single common word between two boundaries is not
    evidence of copying, and counting unrankable spans in the mass
    would deflate every ratio); the oracle applies the same n_toks
    floor before its rank.

    The cross-doc shuffle carries ``xxhash64(span)`` (fixed 8 bytes),
    never the span string; the oracle ranks by the string itself,
    pinning hash-vs-string equivalence exactly as x38 does.
    """
    spans = cdc_spans(
        load_table(spark, sf_dir, "documents")
    ).filter(F.col("n_toks") >= CDC_MIN_SPAN_TOKENS)
    w = W.partitionBy(F.xxhash64("span")).orderBy("doc_id", "span_id")
    ranked = spans.withColumn("__rn", F.row_number().over(w))
    dup = F.sum((F.col("__rn") > 1).cast("bigint"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_spans"),
            dup.alias("n_dup_spans"),
            F.round(dup / F.count("*"), 6).alias("dup_ratio"),
        )
        .orderBy("source")
    )


QUERIES["x104_cdc_span_dedup"] = x104_cdc_span_dedup

ORACLE["x104_cdc_span_dedup"] = r"""
    WITH toks AS (
        SELECT doc_id, source, t.tok, t.pos
        FROM documents,
             LATERAL (
                 SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok,
                        generate_subscripts(
                            string_split_regex(trim(text), '\s+'), 1) AS pos
             ) t
        WHERE trim(text) <> ''
    ),
    spanned AS (
        SELECT doc_id, source, tok, pos,
               SUM(CASE WHEN md5(tok) LIKE '0%' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS span_id
        FROM toks
    ),
    spans AS (
        SELECT doc_id, source, span_id,
               string_agg(tok, ' ' ORDER BY pos) AS span,
               COUNT(*) AS n_toks
        FROM spanned GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT source,
               ROW_NUMBER() OVER (
                   PARTITION BY span ORDER BY doc_id, span_id
               ) AS rn
        FROM spans WHERE n_toks >= 5
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           ROUND(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) / COUNT(*), 6)
               AS dup_ratio
    FROM ranked GROUP BY source ORDER BY source
"""


# --- r8: driver faces for the r7 sampling operators (operators/sampling.py) -

#: md5-band width for the x106 shard check — THE operator's own width
#: function, so the oracle can never desync from the sharding it
#: certifies (band arithmetic stays in exact long range: the md5
#: hash spans [0, 2^60), content_hash64 = 15 hex chars).
_X106_SHARDS = 8
_X106_WIDTH = md5_band_width(_X106_SHARDS)


def x106_epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver face of ``epoch_shuffle`` (r7 verdict missing #1): the
    deterministic training-order shuffle's SHARD MAPPING, certified
    value-exact against DuckDB (the operator orders and shards by an md5
    hash, which the oracle replays). ``epoch_shard`` is the operator's
    persistent contract (the ``partitionBy`` write key), a pure function
    of (key, seed, n_shards); per-shard count/min/max/sum pin the full
    assignment without hashing row order (the driver compare sorts rows
    anyway — order reproducibility is pinned by
    tests/test_scd_and_ann.py's permutation-invariance tests).

    Scale shape: the shuffle is one hash projection + one clustered
    sort; the face adds a map-side-combined 8-row aggregate.
    """
    from ..operators.sampling import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = epoch_shuffle(docs, "doc_id", seed=7, n_shards=_X106_SHARDS)
    return (
        out.groupBy("epoch_shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum("doc_id").alias("sum_doc"),
        )
        .orderBy("epoch_shard")
    )


QUERIES["x106_epoch_shuffle_shards"] = x106_epoch_shuffle_shards

ORACLE["x106_epoch_shuffle_shards"] = f"""
    WITH h AS (
        -- concat_ws mirrors Spark's NULL-skip on doc_id (r9 ADVICE's
        -- x110 finding, applied to the same pattern here)
        SELECT doc_id,
               ('0x' || substring(
                   md5(concat_ws(':', CAST(doc_id AS VARCHAR), '7')),
                   1, 15))::BIGINT AS eh
        FROM documents
    )
    SELECT CAST(eh // {_X106_WIDTH} AS INTEGER) AS epoch_shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc
    FROM h
    GROUP BY 1
    ORDER BY 1
"""


def x107_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver face of ``temperature_mixture_sample`` (r7 verdict missing
    #1): the p^(1/T) multilingual-rebalancing sample at T=2 over the
    SKEWED ``lang`` column (en holds ~44% of docs; ``source`` is uniform
    by construction, which would make the temperature a no-op), returning
    the kept rows THEMSELVES — the oracle replays the whole path
    arithmetically: per-lang shares, the min(1, 0.5·share^(-0.5)) keep
    fraction, the md5 content hash, and the truncate-to-long threshold.
    A pow() divergence between engines could only flip a row whose
    60-bit hash lands within ~1 ulp of the threshold (~2e-16/row — the
    x66 precedent for accepting libm-pow across engines).

    Scale shape unchanged from the operator: one |langs|-row broadcast
    aggregate + a map-side hash filter; no sort, no rank.
    """
    from ..operators.sampling import temperature_mixture_sample

    docs = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    kept = temperature_mixture_sample(
        docs, "lang", "doc_id", temperature=2.0, base_fraction=0.5
    )
    return kept.select("lang", "doc_id").orderBy("lang", "doc_id")


QUERIES["x107_temperature_mixture"] = x107_temperature_mixture

ORACLE["x107_temperature_mixture"] = """
    WITH shares AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS t FROM shares),
    plan AS (
        -- pre-staged pow-ulp fallback (see sampling.py): if this face
        -- ever goes red on a hash-at-threshold row, flip BOTH sides to
        -- the correctly-rounded sqrt form — here: 0.5 / SQRT(n / t)
        SELECT lang,
               LEAST(1.0, 0.5 * POWER(n / t, -0.5)) AS keep
        FROM shares, tot
    ),
    h AS (
        SELECT lang, doc_id,
               ('0x' || substring(md5(COALESCE(CAST(doc_id AS VARCHAR), '')),
                                  1, 15))::BIGINT AS eh
        FROM documents
    )
    SELECT h.lang, h.doc_id
    FROM h JOIN plan ON h.lang IS NOT DISTINCT FROM plan.lang
    WHERE eh <= CAST(TRUNC(keep * 1152921504606846976.0) AS BIGINT)
    ORDER BY h.lang, h.doc_id
"""
# ^ the join mirrors the operator's eqNullSafe (IS NOT DISTINCT FROM):
#   a USING join would null-reject a NULL-lang stratum that the
#   operator deliberately samples (r8 review; no NULL langs exist in
#   the current fixtures, but the oracle must mirror the operator's
#   semantics, not the fixture's accidents)


def x108_stratified_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver face of ``stratified_threshold_sample`` (r7 verdict
    missing #1) — the x102-style capped certification, because the
    threshold comes from ``percentile_approx``, whose merged-sketch
    value passes through doubles (the 60-bit hashes exceed 2^53) and is
    NOT bit-replayable by the oracle; the driver's weaker-rows-only
    alternative would certify nothing, so instead the face verifies the
    operator's two CONTRACTS in-engine and pins them with
    oracle-checkable values:

    - ``n_rows`` per stratum — REAL value check (stratum discovery and
      null handling);
    - ``size_ok`` — TRUE iff the 10% sample's per-stratum share is
      within ±0.05 of the target (quantile-sketch + small-stratum
      granularity bound: strata here are 64–218 rows, so the kept
      share quantizes in steps of ~1/64);
    - ``nested_ok`` — TRUE iff the 10% sample is a SUBSET of the 25%
      sample on the same data — the property (thresholds monotone in
      the fraction, row hashes fixed) that lets a pipeline carve
      nested eval sets.
    """
    from ..operators.sampling import stratified_threshold_sample

    docs = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    k10 = stratified_threshold_sample(docs, "lang", "doc_id", 0.10)
    k25 = stratified_threshold_sample(docs, "lang", "doc_id", 0.25)
    tot = docs.groupBy("lang").agg(F.count("*").alias("n_rows"))
    n10 = k10.groupBy("lang").agg(F.count("*").alias("__n10"))
    viol = (
        k10.join(k25, ["lang", "doc_id"], "left_anti")
        .groupBy("lang").agg(F.count("*").alias("__nv"))
    )
    return (
        tot.join(n10, "lang", "left")
        .join(viol, "lang", "left")
        .select(
            "lang",
            "n_rows",
            (F.abs(F.coalesce("__n10", F.lit(0)) / F.col("n_rows") - 0.10)
             <= 0.05).alias("size_ok"),
            (F.coalesce("__nv", F.lit(0)) == 0).alias("nested_ok"),
        )
        .orderBy("lang")
    )


QUERIES["x108_stratified_threshold"] = x108_stratified_threshold

ORACLE["x108_stratified_threshold"] = """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS size_ok,
           TRUE AS nested_ok
    FROM documents
    GROUP BY 1
    ORDER BY 1
"""


# --- r11: multi-epoch determinism face for epoch_shuffle ---------------------

#: the two epoch seeds the x113 face pins jointly. Any two distinct
#: seeds work — 7 keeps the x106 face's epoch in the matrix so the
#: two certifications overlap on one marginal.
_X113_SEED_A = 7
_X113_SEED_B = 8


def x113_multi_epoch_shard_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-epoch TRAINING-ORDER REPLAY guarantee of
    ``epoch_shuffle`` (r10 verdict item 7 — the last sampling property
    that was pytest-only; tests/test_corpus_pipeline.py pins it
    locally): each epoch seed induces a complete, deterministic
    assignment of the corpus, and different seeds induce DIFFERENT
    ones. The face pins the JOINT shard contingency matrix of two
    epochs — per (shard@seed7, shard@seed8) cell, the doc count and
    doc-id sum — which certifies strictly more than two x106-style
    marginals: the matrix's row/column sums ARE each epoch's complete
    shard assignment (completeness: every doc lands in exactly one
    cell), and its off-diagonal mass is the epochs actually permuting
    docs differently (a seed that failed to change the assignment
    would concentrate the matrix on the diagonal). Every cell is a
    pure function of (doc_id, seed, n_shards) via the operator's OWN
    ``md5_epoch_hash``/``md5_shard_expr``/``md5_band_width``
    expressions (not copies that can desync), so DuckDB replays the
    exact matrix.

    Scale shape: ONE map-side projection computes both epochs' hashes
    — no second scan, no self-join on doc_id — and the only shuffle is
    the ≤64-row map-side-combined aggregate. This is also the
    operator's cheapest-possible multi-epoch audit at 100 TB: auditing
    E epochs is one pass with E hash columns, not E shuffled sorts.
    """
    from ..operators.sampling import md5_epoch_hash, md5_shard_expr

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    both = docs.select(
        "doc_id",
        md5_epoch_hash(F.col("doc_id"), _X113_SEED_A).alias("__ha"),
        md5_epoch_hash(F.col("doc_id"), _X113_SEED_B).alias("__hb"),
    ).select(
        "doc_id",
        md5_shard_expr("__ha", _X106_SHARDS).alias("shard_a"),
        md5_shard_expr("__hb", _X106_SHARDS).alias("shard_b"),
    )
    return (
        both.groupBy("shard_a", "shard_b")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("sum_doc"),
        )
        .orderBy("shard_a", "shard_b")
    )


QUERIES["x113_multi_epoch_shard_matrix"] = x113_multi_epoch_shard_matrix

ORACLE["x113_multi_epoch_shard_matrix"] = f"""
    WITH h AS (
        -- concat_ws mirrors Spark's NULL-skip on doc_id (the x106
        -- convention; the generator guarantees non-NULL doc_id)
        SELECT doc_id,
               ('0x' || substring(
                   md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                                 '{_X113_SEED_A}')), 1, 15))::BIGINT AS ha,
               ('0x' || substring(
                   md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                                 '{_X113_SEED_B}')), 1, 15))::BIGINT AS hb
        FROM documents
    )
    SELECT CAST(ha // {md5_band_width(_X106_SHARDS)} AS INTEGER) AS shard_a,
           CAST(hb // {md5_band_width(_X106_SHARDS)} AS INTEGER) AS shard_b,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc
    FROM h
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


# --- r11: group-cohesive holdout split --------------------------------------

#: the x114 split spec — fractions are the conventional train/val/test
#: carve; the seed is pinned to one where all THREE bands are populated
#: over the generator's 20 sources (src0..src19 at every test SF:
#: 15 train / 3 val / 2 test), so the face is non-vacuous — a seed like
#: 11 happens to land all 20 group hashes under the 0.8 bound (p ≈ 1%,
#: verified real, not a hash bug) and would certify only one band.
_X114_FRACTIONS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
_X114_SEED = 1


def x114_group_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver face of ``holdout_split`` (operators/sampling.py) — the
    group-cohesive train/val/test carve that guards eval sets against
    train/test leakage: the split label is a pure md5-band function of
    the GROUP value (here ``source``), so every row of a group lands on
    one side of the boundary, deterministically across runs, engines,
    and partition layouts (``randomSplit`` is none of those). The face
    returns the per-(source, split) census — doc count and doc-id sum —
    which certifies BOTH properties at once: the row count equals the
    number of distinct sources iff cohesion holds (a leaking group
    would mint a second row for its source and break the count/value
    match), and the cells pin the exact band assignment, including the
    exact integer thresholds from ``holdout_thresholds`` (computed once
    in rational arithmetic and embedded in BOTH engines' plans, so no
    engine-local float rounding can flip a boundary group).

    Scale shape: the operator is ZERO-shuffle (one map-side hash +
    CASE projection); the face adds one |sources|-row
    map-side-combined aggregate. At 100 TB the split of an entire
    corpus is a single pass, and a frozen eval set stays frozen across
    corpus refreshes because a new row joins its group's existing band.
    """
    from ..operators.sampling import holdout_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = holdout_split(docs, "source", _X114_FRACTIONS, seed=_X114_SEED)
    return (
        out.groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("sum_doc"),
        )
        .orderBy("source", "split")
    )


QUERIES["x114_group_holdout_split"] = x114_group_holdout_split

# the exact integer band bounds the operator derives from the fractions
_X114_BOUNDS = holdout_thresholds(_X114_FRACTIONS)

ORACLE["x114_group_holdout_split"] = f"""
    WITH h AS (
        -- concat_ws mirrors Spark's NULL-skip on the group column
        -- (the x106 convention); thresholds are holdout_thresholds'
        -- exact integers, identical literals in both engines
        SELECT source, doc_id,
               ('0x' || substring(
                   md5(concat_ws(':', source, '{_X114_SEED}')),
                   1, 15))::BIGINT AS gh
        FROM documents
    )
    SELECT source,
           CASE WHEN gh < {_X114_BOUNDS[0]} THEN 'train'
                WHEN gh < {_X114_BOUNDS[1]} THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc
    FROM h
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


# --- r9: driver face for the r8 exact global sequence packer ----------------

#: pack budget for the x110 face — small enough that sf0.01's corpus
#: cuts dozens of packs (straddles at every boundary), large enough
#: that most packs hold several whole documents, exercising both
#: branches of the segment arithmetic.
_X110_BUDGET = 2048


def x110_pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver face of ``pack_concat_chunks`` (r8 verdict missing #1):
    the FULL exact concat-then-chunk packing assignment — every
    (doc_id, pack_id, seg_start, seg_len, pack_offset) segment row —
    certified value-exact against DuckDB. The operator was designed
    md5-replayable for exactly this: document order is
    ``content_hash64(doc_id:seed)`` (the x106 precedent — a hash any
    engine can compute, same plan shape as an xxhash64 production
    seed), and everything downstream of the hash is pure long
    arithmetic, so the oracle replays the whole pipeline with one
    window cumsum + ``generate_series`` and must agree on every cell.

    Scale shape (what the certification pins): the global prefix sum is
    the operator's two-phase distributed scan — range-cluster on the
    hash, a |partitions|-row offsets window, then a PARTITIONED running
    sum — never a single-partition ``Window.orderBy`` funnel
    (tests/test_packing.py pins the plan shape; this face pins the
    values). The oracle's single-partition window is the sf0.01 luxury
    the distributed plan exists to avoid.

    Token counts are the whitespace ``token_count_expr`` over lowered
    text (the x31/x34 convention, identical split in both engines);
    zero-token documents are pre-filtered per the operator's contract,
    so ``validate=False`` skips the redundant eager check.
    """
    from ..functions.text import token_count_expr
    from ..operators.packing import pack_concat_chunks

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        token_count_expr(F.lower(F.col("text"))).alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    seg = pack_concat_chunks(toks, "doc_id", "n_tokens",
                             budget=_X110_BUDGET, seed=7, validate=False)
    return seg.orderBy("pack_id", "pack_offset")


QUERIES["x110_pack_concat_chunks"] = x110_pack_concat_chunks

ORACLE["x110_pack_concat_chunks"] = f"""
    WITH toks AS (
        SELECT doc_id,
               len(string_split_regex(trim(lower(text)), '\\s+')) AS n
        FROM documents WHERE trim(text) <> ''
    ),
    h AS (
        -- concat_ws mirrors Spark's NULL-skip (a NULL doc_id hashes
        -- '7' in both engines, not NULL — r9 ADVICE), unlike ||
        SELECT doc_id, CAST(n AS BIGINT) AS n,
               ('0x' || substring(
                   md5(concat_ws(':', CAST(doc_id AS VARCHAR), '7')),
                   1, 15))::BIGINT AS ph
        FROM toks WHERE n > 0
    ),
    s AS (
        -- exclusive global prefix sum in hash order: the value the
        -- operator computes with its two-phase distributed scan
        -- (SUM OVER returns HUGEINT in DuckDB — pin back to BIGINT)
        SELECT doc_id, n,
               CAST(COALESCE(SUM(n) OVER (ORDER BY ph, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS gstart
        FROM h
    ),
    fan AS (
        SELECT doc_id, n, gstart,
               unnest(generate_series(gstart // {_X110_BUDGET},
                                      (gstart + n - 1) // {_X110_BUDGET}))
                   AS pack_id
        FROM s
    )
    SELECT doc_id,
           CAST(pack_id AS BIGINT) AS pack_id,
           CAST(GREATEST(0, pack_id * {_X110_BUDGET} - gstart) AS BIGINT)
               AS seg_start,
           CAST(LEAST(n, (pack_id + 1) * {_X110_BUDGET} - gstart)
                - GREATEST(0, pack_id * {_X110_BUDGET} - gstart) AS BIGINT)
               AS seg_len,
           CAST(gstart + GREATEST(0, pack_id * {_X110_BUDGET} - gstart)
                - pack_id * {_X110_BUDGET} AS BIGINT) AS pack_offset
    FROM fan
    ORDER BY pack_id, pack_offset
"""


# --- X6 extension: KMV bottom-k distinct sketch (r13) ------------------------

_X122_K = 256
#: Prefilter: only hashes below 2^60/4 can reach the sketch — an
#: integer compare pushed to the scan, so the distinct-aggregate
#: shuffle carries ~1/4 of the key space instead of all of it. The
#: filter is self-certifying (profiling.kmv_sketch_table): a sketch
#: that still has k rows is EXACTLY the unfiltered sketch. Probed at
#: round start: survivors 386 / 3 739 / 37 120 at sf0.001/0.01/0.1 —
#: ≥ k everywhere, and the prefiltered estimates equal the
#: unfiltered ones at every sf (651/624/660 bp error).
_X122_PREFILTER_DENOM = 4
#: 3σ of the KMV estimator's relative error at k=256 (σ = 1/√(k−2) =
#: 1/√254 ⇒ 3σ ≈ 1882 bp) — the envelope the law column checks
#: (ADVICE r13: the prior 1875 was tighter than the documented bound;
#: measured error is ~651 bp, far inside either).
_X122_ENVELOPE_BP = 1882


def x122_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch, fully
    certified — the fourth mergeable sketch next to HLL (x12/x57), KLL
    (x12), and count-min (x120), and the VALUE-certifiable distinct
    counter: where HLL's binary sketch can only be certified as an
    error envelope, the KMV sketch is md5-derived rows
    (profiling.kmv_hash — the x106/x120 technique), so DuckDB replays
    bottom-k membership, the kth minimum, and the estimate
    ``floor((k−1)·2^60 / kth_min)`` exactly.

    One row over ``lineitem.l_orderkey`` (≈1.5k/15k/147k distinct at
    the three test sfs): ``n_sketch`` (= k — the prefilter left enough
    survivors), ``kth_min``, ``kmv_est``, exact ``n_exact``
    (certification harness, like x120's exact counts), integer
    ``rel_err_bp`` with its ``within_envelope`` law, and
    ``merge_consistent`` — the sketch of the whole corpus must equal
    bottom-k of the UNION of per-half sketches (keys split by parity:
    the x54/x57 merge algebra, here value-exact rather than
    envelope-checked; a half whose survivor set is smaller than k
    keeps everything, so the law holds at every scale).

    Scale shape: ONE corpus scan (r14) — the distinct-key table that
    the exact certification count needs anyway is persisted, and the
    survivor table (prefiltered hashes + parity) is a hash-projection
    of it, so all three sketches (full / even / odd) and the merge
    check derive from the same pass; map-side partial aggregation
    dedupes before the shuffle, TakeOrdered caps everything after at
    k rows. The 100 TB product path (sketch alone, no certification)
    remains the operator's prefilter-pushed scan form
    (profiling.kmv_sketch_table).
    """
    from ..cache import track_persist  # noqa: PLC0415
    from ..operators.profiling import (  # noqa: PLC0415
        _KMV_DOMAIN,
        kmv_hash,
    )

    k = _X122_K
    thr = _KMV_DOMAIN // _X122_PREFILTER_DENOM
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"))
    # r14 (the x129 one-scan move): the exact certification count
    # already pays a full distinct shuffle of the key space, so derive
    # the survivor table FROM the distinct-key table instead of a
    # second corpus scan — md5 is paid once per DISTINCT key instead
    # of once per row, and lineitem is scanned once instead of twice
    # (h = md5(key) is collision-free here only PROBABILISTICALLY
    # (ADVICE r14): two distinct keys colliding in the 2^60 domain
    # would put a duplicate h into this bottom-k where the oracle's
    # SELECT DISTINCT keeps one — at n distinct keys the birthday
    # bound is ~n²/2^61, ≈1e-8 at the bench sfs, so the certification
    # holds in practice; at 1e9+ distinct keys a collision becomes
    # likely and a deployment must keep a .distinct() on h after the
    # projection. Re-certified vs the unchanged oracle at all three
    # sfs.)
    dk = li.distinct().transform(track_persist)
    exact = dk.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    surv = (
        dk.select(kmv_hash(F.col("key")).alias("h"),
                  (F.col("key") % 2).cast("int").alias("par"))
        .filter(F.col("h") < F.lit(thr))
    )
    sketch = surv.select("h").orderBy("h").limit(k)
    even = surv.filter(F.col("par") == 0).select("h").orderBy("h").limit(k)
    odd = surv.filter(F.col("par") == 1).select("h").orderBy("h").limit(k)
    merged = even.unionAll(odd).distinct().orderBy("h").limit(k)
    # ONE law aggregate over the tagged union of the two ≤k-row sets
    # (r13 measured: the first cut ran estimate / set-consistency /
    # merged-count as THREE separate aggregates, each its own job +
    # broadcast — pure serialized latency). Set equality still reads
    # off distinct-union cardinality: |sketch ∪ merged| == |sketch| ==
    # |merged| ⇒ equal sets (both are bottom-k of supersets of each
    # other's inputs). kth_min/n_sketch reproduce kmv_estimate's
    # contract on the sketch-tagged rows.
    law = (
        sketch.select("h", F.lit("s").alias("t"))
        .unionAll(merged.select("h", F.lit("m").alias("t")))
        .agg(
            F.sum(F.when(F.col("t") == "s", 1).otherwise(0))
            .cast("long").alias("n_sketch"),
            F.max(F.when(F.col("t") == "s", F.col("h"))).alias("kth_min"),
            F.countDistinct("h").cast("long").alias("n_union"),
            F.sum(F.when(F.col("t") == "m", 1).otherwise(0))
            .cast("long").alias("n_merged"),
        )
        .withColumn(
            "kmv_est",
            F.when(F.col("n_sketch") < k, F.col("n_sketch"))
            .otherwise(F.floor(
                F.lit(float(k - 1)) * F.lit(float(_KMV_DOMAIN))
                / F.col("kth_min").cast("double"))).cast("long"),
        )
    )
    return (
        law.crossJoin(F.broadcast(exact))
        .select(
            F.lit(k).cast("long").alias("k"),
            F.col("n_sketch").cast("long").alias("n_sketch"),
            F.col("kth_min").cast("long").alias("kth_min"),
            F.col("kmv_est").cast("long").alias("kmv_est"),
            "n_exact",
            F.expr("CAST((ABS(kmv_est - n_exact) * 10000) DIV n_exact "
                   "AS BIGINT)").alias("rel_err_bp"),
            (F.expr("(ABS(kmv_est - n_exact) * 10000) DIV n_exact")
             <= _X122_ENVELOPE_BP).alias("within_envelope"),
            ((F.col("n_union") == F.col("n_sketch"))
             & (F.col("n_merged") == F.col("n_sketch")))
            .alias("merge_consistent"),
        )
    )


QUERIES["x122_kmv_distinct"] = x122_kmv_distinct

ORACLE["x122_kmv_distinct"] = f"""
    WITH src AS (SELECT l_orderkey AS key FROM lineitem),
    surv AS (
        SELECT DISTINCT
               ('0x' || substring(md5(COALESCE(CAST(key AS VARCHAR), '')), 1, 15))::BIGINT
                   AS h,
               CAST(key % 2 AS INTEGER) AS par
        FROM src
        WHERE ('0x' || substring(md5(COALESCE(CAST(key AS VARCHAR), '')), 1, 15))::BIGINT
              < {16 ** 15 // _X122_PREFILTER_DENOM}
    ),
    sketch AS (SELECT DISTINCT h FROM surv ORDER BY h LIMIT {_X122_K}),
    even AS (SELECT h FROM surv WHERE par = 0 ORDER BY h LIMIT {_X122_K}),
    odd AS (SELECT h FROM surv WHERE par = 1 ORDER BY h LIMIT {_X122_K}),
    merged AS (
        SELECT DISTINCT h FROM (
            SELECT h FROM even UNION ALL SELECT h FROM odd)
        ORDER BY h LIMIT {_X122_K}
    ),
    est AS (
        SELECT COUNT(*) AS n_sketch, MAX(h) AS kth_min,
               CASE WHEN COUNT(*) < {_X122_K} THEN COUNT(*)
                    ELSE CAST(FLOOR({float(_X122_K - 1)} * {float(16 ** 15)}
                              / MAX(h)) AS BIGINT)
               END AS kmv_est
        FROM sketch
    ),
    exact AS (SELECT CAST(COUNT(DISTINCT key) AS BIGINT) AS n_exact FROM src),
    cons AS (
        SELECT COUNT(*) AS n_union FROM (
            SELECT DISTINCT h FROM (
                SELECT h FROM sketch UNION ALL SELECT h FROM merged))
    ),
    nm AS (SELECT COUNT(*) AS n_merged FROM merged)
    SELECT CAST({_X122_K} AS BIGINT) AS k,
           CAST(est.n_sketch AS BIGINT) AS n_sketch,
           CAST(est.kth_min AS BIGINT) AS kth_min,
           CAST(est.kmv_est AS BIGINT) AS kmv_est,
           exact.n_exact,
           (ABS(est.kmv_est - exact.n_exact) * 10000) // exact.n_exact
               AS rel_err_bp,
           (ABS(est.kmv_est - exact.n_exact) * 10000) // exact.n_exact
               <= {_X122_ENVELOPE_BP} AS within_envelope,
           cons.n_union = est.n_sketch AND nm.n_merged = est.n_sketch
               AS merge_consistent
    FROM est, exact, cons, nm
"""


# --- sampling extension: hash-sample quantile estimation (r13) ---------------

_X123_K = 512
_X123_PREFILTER_DENOM = 4
#: Quantiles probed, in basis points of the CDF.
_X123_QS = (2500, 5000, 7500, 9000, 9900)
#: Per-quantile envelope: 3σ of the empirical CDF at q for an m-row
#: uniform sample, σ = √(q(1−q)/m), in basis points — the binomial
#: (pointwise DKW) bound the law column checks. Every operand is
#: CAST to DOUBLE explicitly: a bare ``10000.0`` literal parses as
#: DECIMAL in Spark SQL (decimal division then ROUNDS — measured
#: off-by-one vs DuckDB's double math at q=2500/7500/9900) but as
#: DOUBLE in DuckDB; the casts pin both engines to the same IEEE ops.
_X123_ENV_SQL = (
    "CAST(FLOOR(CAST(30000 AS DOUBLE) * SQRT("
    "(CAST(q_bp AS DOUBLE) / CAST(10000 AS DOUBLE)) * "
    "(CAST(1 AS DOUBLE) - CAST(q_bp AS DOUBLE) / CAST(10000 AS DOUBLE)) "
    "/ CAST(m AS DOUBLE))) AS BIGINT)")


def x123_sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a DETERMINISTIC uniform sample — the
    100 TB profiling path, value-certified: x12 could only
    envelope-check ``percentile_approx`` (KLL's binary sketch isn't
    SQL-replayable) and q69's exact percentile sorts full groups; here
    the sample itself is reproducible (sampling.hash_bottomk_sample —
    the k=512 rows with the smallest md5-derived hash of the unique
    row key, prefilter denom 4 pushed into the scan), so BOTH engines
    draw the identical sample and the estimates value-hash exactly.

    One row per probed quantile of ``lineitem.l_extendedprice``
    (25/50/75/90/99%): the sampled estimate (``est`` = the
    ceil(q·m)-th order statistic of the sample), the estimate's TRUE
    CDF position in the full corpus (``cdf_bp`` — the certification
    harness: count(v ≤ est)·10⁴ DIV n), the gap to the target, and a
    per-quantile 3σ binomial envelope law (σ = √(q(1−q)/m); a sampled
    quantile whose true rank drifts past it means the sampler is
    biased — the law the gate replays).

    Scale shape: the sample build is one prefilter-pushed scan capped
    by TakeOrdered at k rows; the CDF certification is ONE more corpus
    scan computing all five conditional counts in a single partial
    aggregate (the ≤k-row sorted sample array rides a one-row
    broadcast — the keys=[] statistic-attachment pattern). At 100 TB
    the product path keeps the k-row sample alone; every quantile of
    any column of the sampled rows is then a driver-side lookup.
    """
    from ..operators.sampling import hash_bottomk_sample  # noqa: PLC0415
    from ..session import scale_out  # noqa: PLC0415

    k = _X123_K
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_extendedprice").alias("v"))
    # r14: the single-row-group test parquet arrives as ONE partition,
    # serializing the per-row md5 draw on one core — widen the sample's
    # input first (scale_out no-ops at real scale where scans are
    # already split; the CDF probe below keeps the plain scan — its
    # partial aggregate does no per-row hashing)
    samp = hash_bottomk_sample(
        scale_out(li), ["l_orderkey", "l_linenumber"], k,
        prefilter_denom=_X123_PREFILTER_DENOM)
    srow = samp.agg(
        F.sort_array(F.collect_list("v")).alias("arr"),
        F.count(F.lit(1)).alias("m"),
    )
    ests = {
        q: F.element_at(
            F.col("arr"),
            F.expr(f"CAST(({q} * m + 9999) DIV 10000 AS INT)"))
        for q in _X123_QS
    }
    stats = (
        li.crossJoin(F.broadcast(srow))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("m").alias("m"),
            *[F.sum(F.when(F.col("v") <= est, 1).otherwise(0))
              .alias(f"c{q}") for q, est in ests.items()],
            *[F.first(est).alias(f"e{q}") for q, est in ests.items()],
        )
    )
    per_q = F.array(*[
        F.struct(
            F.lit(q).cast("long").alias("q_bp"),
            F.col(f"e{q}").alias("est"),
            F.expr(f"CAST(c{q} * 10000 DIV n AS BIGINT)").alias("cdf_bp"),
        )
        for q in _X123_QS
    ])
    return (
        stats.select(F.explode(per_q).alias("r"), "n", "m")
        .select(
            F.col("r.q_bp").alias("q_bp"), F.col("r.est").alias("est"),
            F.col("r.cdf_bp").alias("cdf_bp"),
            F.col("n").cast("long").alias("n"),
            F.col("m").cast("long").alias("m"),
        )
        .withColumn("gap_bp", F.abs(F.col("cdf_bp") - F.col("q_bp")))
        .withColumn("env_bp", F.expr(_X123_ENV_SQL))
        .withColumn("within_envelope", F.col("gap_bp") <= F.col("env_bp"))
        .orderBy("q_bp")
    )


QUERIES["x123_sampled_quantiles"] = x123_sampled_quantiles

ORACLE["x123_sampled_quantiles"] = f"""
    WITH src AS (
        SELECT l_orderkey, l_linenumber, l_extendedprice AS v FROM lineitem
    ),
    hs AS (
        SELECT ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                    CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT AS h,
               v
        FROM src
        WHERE ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                    CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
              < {16 ** 15 // _X123_PREFILTER_DENOM}
    ),
    samp AS (SELECT v FROM hs ORDER BY h LIMIT {_X123_K}),
    srow AS (
        SELECT list_sort(list(v)) AS arr, COUNT(*) AS m FROM samp
    ),
    qs AS (SELECT unnest({list(_X123_QS)}) AS q_bp),
    est AS (
        SELECT qs.q_bp,
               srow.arr[CAST((qs.q_bp * srow.m + 9999) // 10000 AS INTEGER)]
                   AS est,
               srow.m
        FROM qs CROSS JOIN srow
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM src),
    cdf AS (
        SELECT e.q_bp, e.est, e.m, tot.n,
               (SELECT COUNT(*) FROM src WHERE src.v <= e.est) * 10000
                   // tot.n AS cdf_bp
        FROM est e CROSS JOIN tot
    )
    SELECT CAST(q_bp AS BIGINT) AS q_bp, est,
           CAST(cdf_bp AS BIGINT) AS cdf_bp, n, CAST(m AS BIGINT) AS m,
           CAST(ABS(cdf_bp - q_bp) AS BIGINT) AS gap_bp,
           {_X123_ENV_SQL} AS env_bp,
           ABS(cdf_bp - q_bp) <= {_X123_ENV_SQL} AS within_envelope
    FROM cdf
    ORDER BY q_bp
"""


# --- X6 x X7 bridge: the streaming faces' staged backlog ---------------------

@contextmanager
def _stream_backlog(df: DataFrame):
    """Stage ``df`` as a 2-file parquet backlog and yield
    ``(open_stream, root)``: ``open_stream()`` reads the backlog as a
    stream of one file per micro-batch (``maxFilesPerTrigger=1``, the
    schema taken from ``df.schema``) — call it again to restart over
    the same files — and ``root`` is a scratch dir for a fold's
    checkpoint and state. Everything is removed on exit.

    Why 2 files: the MINIMAL multi-batch backlog. The faces'
    ``multi_batch`` law needs ≥ 2 micro-batches, and the merge laws
    make the folded sketch identical for ANY split, so more batches
    change nothing the oracle sees. Each batch costs ~0.8 s of FIXED
    streaming-engine overhead (r14 profile: fold work is ~0.1 s of it)
    plus, in durable mode, one state publish — so extra batches were
    pure builder latency. x127's crash-replay exercise drops the NEWEST
    commit, which is split-count-independent. Multi-way-split folds
    stay pinned in tests/test_streaming.py."""
    root = tempfile.mkdtemp(prefix="stream_backlog_")
    src = os.path.join(root, "src")
    try:
        df.repartition(2).write.mode("overwrite").parquet(src)
        yield (lambda: df.sparkSession.readStream.schema(df.schema)
               .option("maxFilesPerTrigger", 1).parquet(src)), root
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- X6 x X7 bridge: streaming KMV sketch maintenance (r13) ------------------

_X124_K = 256
#: denom=2 (not x122's 4): events has ~1k distinct ids at sf0.001 and
#: the prefilter must leave >= k survivors — probed at round start:
#: 495 / 4 982 / 49 981 survivors at sf0.001/0.01/0.1.
_X124_PREFILTER_DENOM = 2


def x124_stream_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the KMV distinct sketch through the
    REAL streaming engine — the X7 face of x122: the events backlog is
    written as two parquet files and consumed one file per
    micro-batch (``maxFilesPerTrigger=1``), ``foreachBatch`` computes
    each batch's bottom-k distributed and folds it into the running
    sketch (streaming/sketches.stream_kmv_sketch). The DuckDB oracle
    computes the ONE-SHOT batch sketch of the same keys; the stream
    must reproduce it value-for-value — the merge law (bottom-k of a
    union == bottom-k of concatenated member bottom-ks) makes the
    result independent of how the backlog splits, so the equality is
    designed, not lucky (the x111 replay-exactness discipline). The
    ``multi_batch`` law column pins that >= 2 micro-batches actually
    merged — a single-batch run would certify nothing.

    Output mirrors x122 minus the parity-split check (the micro-batch
    split IS the merge exercise here): estimate row + exact
    certification count + integer error with the 3σ envelope.

    Scale shape: per micro-batch one scan capped at k rows after the
    prefilter-pushed TakeOrdered; driver state O(k); the exact count
    is certification-only, as in x120/x122.
    """
    from ..operators.profiling import kmv_estimate  # noqa: PLC0415
    from ..streaming.sketches import stream_kmv_sketch  # noqa: PLC0415

    k = _X124_K
    ev = load_table(spark, sf_dir, "events").select("event_id")
    with _stream_backlog(ev) as (open_stream, _):
        hs, n_batches, _ = stream_kmv_sketch(
            open_stream(), "event_id", k,
            prefilter_denom=_X124_PREFILTER_DENOM)
    sketch = spark.createDataFrame([(h,) for h in hs], "h long")
    est = kmv_estimate(sketch, k)
    exact = ev.agg(F.countDistinct("event_id").cast("long").alias("n_exact"))
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            F.lit(k).cast("long").alias("k"),
            F.col("n_sketch").cast("long").alias("n_sketch"),
            F.col("kth_min").cast("long").alias("kth_min"),
            F.col("kmv_est").cast("long").alias("kmv_est"),
            "n_exact",
            F.expr("CAST((ABS(kmv_est - n_exact) * 10000) DIV n_exact "
                   "AS BIGINT)").alias("rel_err_bp"),
            (F.expr("(ABS(kmv_est - n_exact) * 10000) DIV n_exact")
             <= _X122_ENVELOPE_BP).alias("within_envelope"),
            F.lit(n_batches >= 2).alias("multi_batch"),
        )
    )


QUERIES["x124_stream_kmv_merge"] = x124_stream_kmv_merge

ORACLE["x124_stream_kmv_merge"] = f"""
    WITH src AS (SELECT DISTINCT event_id AS key FROM events),
    hs AS (
        SELECT DISTINCT
               ('0x' || substring(md5(COALESCE(CAST(key AS VARCHAR), '')), 1, 15))::BIGINT
                   AS h
        FROM src
        WHERE ('0x' || substring(md5(COALESCE(CAST(key AS VARCHAR), '')), 1, 15))::BIGINT
              < {16 ** 15 // _X124_PREFILTER_DENOM}
    ),
    sk AS (SELECT h FROM hs ORDER BY h LIMIT {_X124_K}),
    est AS (
        SELECT COUNT(*) AS n_sketch, MAX(h) AS kth_min,
               CASE WHEN COUNT(*) < {_X124_K} THEN COUNT(*)
                    ELSE CAST(FLOOR({float(_X124_K - 1)} * {float(16 ** 15)}
                              / MAX(h)) AS BIGINT)
               END AS kmv_est
        FROM sk
    ),
    exact AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM src)
    SELECT CAST({_X124_K} AS BIGINT) AS k,
           CAST(est.n_sketch AS BIGINT) AS n_sketch,
           CAST(est.kth_min AS BIGINT) AS kth_min,
           CAST(est.kmv_est AS BIGINT) AS kmv_est,
           exact.n_exact,
           (ABS(est.kmv_est - exact.n_exact) * 10000) // exact.n_exact
               AS rel_err_bp,
           (ABS(est.kmv_est - exact.n_exact) * 10000) // exact.n_exact
               <= {_X122_ENVELOPE_BP} AS within_envelope,
           TRUE AS multi_batch
    FROM est CROSS JOIN exact
"""


# --- sampling extension: weighted systematic selection (r13) -----------------

_X125_PICKS = 64


def x125_weighted_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted corpus selection, exactly and reproducibly — the
    "sample by tokens, not documents" step of corpus mixing: 64
    systematic picks over the cumulative token axis in md5 order
    (operators/sampling.weighted_systematic_sample), each document
    winning one multiplicity per target inside its token interval.
    Integer arithmetic end-to-end, so DuckDB replays the selected set
    and every multiplicity token-for-token.

    Law columns on every row: ``picks_assigned`` (Σ multiplicity —
    must equal 64 EXACTLY: systematic sampling neither overspends nor
    drops picks) and ``within_one`` (every multiplicity is w DIV step
    or w DIV step + 1 — exact ±1 proportionality; a sampler drifting
    further is biased).

    Scale shape: one corpus scan + the x110-style two-phase banded
    prefix (8 contiguous md5 bands: bounded offsets window,
    partition-bounded in-band cumulative); the selected set is ≤ 64
    rows by construction.
    """
    from ..functions.text import token_count_expr  # noqa: PLC0415
    from ..operators.sampling import weighted_systematic_sample  # noqa: PLC0415

    from ..cache import track_persist  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_expr("text").cast("long").alias("tokens"))
    # ≤ n_picks rows, consumed by the law aggregate AND the output —
    # persist or the whole selection pipeline runs twice (RepeatedScan
    # lint rule, r13)
    sel = weighted_systematic_sample(
        docs, "doc_id", "tokens", _X125_PICKS).transform(track_persist)
    law = sel.agg(
        F.sum("multiplicity").cast("long").alias("picks_assigned"),
        F.max(
            F.col("multiplicity") - F.expr("tokens DIV step")
        ).cast("long").alias("max_over"),
        F.min(
            F.col("multiplicity") - F.expr("tokens DIV step")
        ).cast("long").alias("min_over"),
    )
    return (
        sel.crossJoin(F.broadcast(law))
        .select(
            "doc_id", "tokens", "multiplicity", "total_w", "step",
            "picks_assigned",
            ((F.col("max_over") <= 1) & (F.col("min_over") >= 0))
            .alias("within_one"),
        )
        .orderBy("doc_id")
    )


QUERIES["x125_weighted_systematic_sample"] = x125_weighted_systematic_sample

ORACLE["x125_weighted_systematic_sample"] = rf"""
    WITH d AS (
        SELECT doc_id,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+'))
                    END AS BIGINT) AS tokens,
               ('0x' || substring(md5(COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 15))::BIGINT
                   AS h
        FROM documents
    ),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_w FROM d),
    pre AS (
        SELECT doc_id, tokens, h,
               SUM(tokens) OVER (
                   ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cend
        FROM d
    ),
    m AS (
        SELECT p.doc_id, p.tokens, t.total_w,
               t.total_w // {_X125_PICKS} AS step,
               GREATEST(0, LEAST(
                   (p.cend + t.total_w // {_X125_PICKS} - 1)
                       // (t.total_w // {_X125_PICKS}),
                   {_X125_PICKS})
                 - ((p.cend - p.tokens + t.total_w // {_X125_PICKS} - 1)
                       // (t.total_w // {_X125_PICKS}))
               ) AS multiplicity
        FROM pre p CROSS JOIN tot t
    ),
    sel AS (SELECT * FROM m WHERE multiplicity > 0),
    law AS (
        SELECT CAST(SUM(multiplicity) AS BIGINT) AS picks_assigned,
               MAX(multiplicity - tokens // step) AS max_over,
               MIN(multiplicity - tokens // step) AS min_over
        FROM sel
    )
    SELECT sel.doc_id, sel.tokens,
           CAST(sel.multiplicity AS BIGINT) AS multiplicity,
           sel.total_w, CAST(sel.step AS BIGINT) AS step,
           law.picks_assigned,
           law.max_over <= 1 AND law.min_over >= 0 AS within_one
    FROM sel CROSS JOIN law
    ORDER BY sel.doc_id
"""


# --- X6 extension: per-group KMV distinct estimation (r13) -------------------

_X126_K = 128
#: 3σ envelope at k=128 (σ ≈ 1/√(k−2) ≈ 8.9%) in basis points; groups
#: whose cardinality is below k take the exact-fallback branch and
#: report zero error.
_X126_ENVELOPE_BP = 2700


def x126_kmv_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group distinct estimation — "distinct users per event type"
    in one pass (profiling.kmv_sketch_by_group / kmv_group_estimates),
    the GROUP BY face of the x122 sketch: one distinct aggregate over
    (group, hash), a group-partitioned rank window (never a global
    funnel), per-group estimates from each group's own kth minimum.
    The sf ladder exercises BOTH estimator branches: at sf0.001 every
    group holds 15 distinct users (< k ⇒ the sketch IS the answer,
    exact fallback, zero error), at sf0.01/0.1 (150/1500) the groups
    estimate from kth_min under the 3σ envelope. All sketch rows are
    md5-derived, so DuckDB replays per-group membership, kth minima,
    and estimates exactly (the x122 discipline, per group).

    Scale shape: shuffle O(distinct (group, key)) with map-side
    dedupe; the rank window partitions by group (bounded by the
    group's own distinct count); output |groups| rows. The exact
    per-group counts are the certification harness.
    """
    from ..operators.profiling import (  # noqa: PLC0415
        kmv_group_estimates,
        kmv_sketch_by_group,
    )

    k = _X126_K
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = kmv_sketch_by_group(ev, "event_type", "user_id", k)
    est = kmv_group_estimates(sk, k)
    exact = ev.groupBy(F.col("event_type").alias("g")).agg(
        F.countDistinct("user_id").cast("long").alias("n_exact"))
    return (
        est.join(exact, "g")
        .select(
            F.col("g").alias("event_type"),
            F.col("n_sketch").cast("long").alias("n_sketch"),
            F.col("kth_min").cast("long").alias("kth_min"),
            "kmv_est", "n_exact",
            F.expr("CAST((ABS(kmv_est - n_exact) * 10000) DIV n_exact "
                   "AS BIGINT)").alias("rel_err_bp"),
            (F.expr("(ABS(kmv_est - n_exact) * 10000) DIV n_exact")
             <= _X126_ENVELOPE_BP).alias("within_envelope"),
        )
        .orderBy("event_type")
    )


QUERIES["x126_kmv_by_group"] = x126_kmv_by_group

ORACLE["x126_kmv_by_group"] = f"""
    WITH hs AS (
        SELECT DISTINCT event_type AS g,
               ('0x' || substring(md5(COALESCE(CAST(user_id AS VARCHAR), '')), 1, 15))::BIGINT
                   AS h
        FROM events
    ),
    ranked AS (
        SELECT g, h,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rk
        FROM hs
    ),
    sk AS (SELECT g, h FROM ranked WHERE rk <= {_X126_K}),
    est AS (
        SELECT g, COUNT(*) AS n_sketch, MAX(h) AS kth_min,
               CASE WHEN COUNT(*) < {_X126_K} THEN COUNT(*)
                    ELSE CAST(FLOOR({float(_X126_K - 1)} * {float(16 ** 15)}
                              / MAX(h)) AS BIGINT)
               END AS kmv_est
        FROM sk GROUP BY 1
    ),
    exact AS (
        SELECT event_type AS g,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY 1
    )
    SELECT est.g AS event_type,
           CAST(est.n_sketch AS BIGINT) AS n_sketch,
           CAST(est.kth_min AS BIGINT) AS kth_min,
           CAST(est.kmv_est AS BIGINT) AS kmv_est,
           exact.n_exact,
           (ABS(est.kmv_est - exact.n_exact) * 10000) // exact.n_exact
               AS rel_err_bp,
           (ABS(est.kmv_est - exact.n_exact) * 10000) // exact.n_exact
               <= {_X126_ENVELOPE_BP} AS within_envelope
    FROM est JOIN exact USING (g)
    ORDER BY event_type
"""


# --- X6 x X7 bridge: streaming count-min maintenance (r13) -------------------

_X127_DEPTH, _X127_WIDTH = 4, 256


def x127_stream_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the count-min sketch — the X7 face of
    x120, completing the streaming-sketch pair next to x124's KMV:
    the events backlog staged as two files, one per micro-batch,
    ``foreachBatch`` building each batch's counter table DISTRIBUTED
    and adding it counter-wise into the running DURABLE sketch
    (streaming/sketches.stream_cms_sketch with ``state_path`` — the
    versioned-watermark fold, r13 verdict item 1). Counter-wise
    addition is EXACT by linearity — counter[i][b] = Σ over batches —
    so the DuckDB oracle's one-shot whole-corpus sketch certifies the
    stream value-for-value regardless of the batch split (the
    x111/x124 replay-exactness discipline).

    The face then exercises the at-least-once crash window IN BAND:
    after the backlog drains, the last micro-batch's streaming commit
    is deleted (fold published, commit lost — the exact window where
    CMS's non-idempotent addition would double-count) and the stream
    restarts from the same checkpoint + state. The replayed batch must
    be absorbed by the watermark skip, and the FINAL counters are what
    the oracle compares — a double-count would break ``sum_cnt ==
    corpus rows`` in every lane and hash-mismatch the gate, so
    replay-idempotency is certified by the oracle itself, not just
    asserted.

    Output: one row per depth lane (i, n_buckets, sum_cnt, max_cnt) —
    plus the ``multi_batch`` law (≥ 2 micro-batches actually merged)
    and the ``replayed`` law (the restart really did replay a batch
    and folded nothing new — skipped ≥ 1, folded 0).

    Scale shape: per micro-batch one scan capped at depth·width
    counter rows by partial aggregation; driver state O(depth·width)
    persisted as one ≤ depth·width-row parquet version per batch;
    merge cost O(depth·width) per batch, independent of batch size.
    """
    from ..streaming.coherence import drop_last_commit  # noqa: PLC0415
    from ..streaming.sketches import stream_cms_sketch  # noqa: PLC0415

    ev = load_table(spark, sf_dir, "events").select("user_id")
    with _stream_backlog(ev) as (open_stream, root):
        ckpt = os.path.join(root, "ckpt")
        state = os.path.join(root, "state")
        _, n_batches, _ = stream_cms_sketch(
            open_stream(), "user_id", _X127_DEPTH, _X127_WIDTH,
            state_path=state, checkpoint_dir=ckpt)
        # crash-simulate: the newest commit vanishes (fold published,
        # commit lost); restart must skip the replay via the watermark
        drop_last_commit(ckpt)
        counters, n_refolded, n_skipped = stream_cms_sketch(
            open_stream(), "user_id", _X127_DEPTH, _X127_WIDTH,
            state_path=state, checkpoint_dir=ckpt)
    sketch = spark.createDataFrame(counters, "i int, b int, cnt long")
    return (
        sketch.groupBy("i")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("cnt").cast("long").alias("sum_cnt"),
            F.max("cnt").cast("long").alias("max_cnt"),
        )
        .withColumn("multi_batch", F.lit(n_batches >= 2))
        .withColumn("replayed",
                    F.lit(n_skipped >= 1 and n_refolded == 0))
        .select(F.col("i").cast("long").alias("i"),
                "n_buckets", "sum_cnt", "max_cnt", "multi_batch",
                "replayed")
        .orderBy("i")
    )


QUERIES["x127_stream_cms_merge"] = x127_stream_cms_merge

ORACLE["x127_stream_cms_merge"] = f"""
    WITH src AS (SELECT user_id AS key FROM events),
    d AS (SELECT unnest(range({_X127_DEPTH})) AS i),
    sketch AS (
        SELECT i,
               CAST(('0x' || substring(md5(COALESCE(CAST(key AS VARCHAR), '')),
                   8 * CAST(i AS INTEGER) + 1, 8))::BIGINT
                   % {_X127_WIDTH} AS INTEGER) AS b,
               COUNT(*) AS cnt
        FROM src CROSS JOIN d
        GROUP BY 1, 2
    )
    SELECT CAST(i AS BIGINT) AS i,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(cnt) AS BIGINT) AS sum_cnt,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           TRUE AS multi_batch,
           TRUE AS replayed
    FROM sketch
    GROUP BY 1
    ORDER BY 1
"""


# --- X6 x X7 bridge: streaming sampled-quantile maintenance (r14) ------------

_X128_K = 256
#: denom=2, the x124 events-table geometry: survivors must stay >= k
#: per the self-certifying-prefilter contract (probed at r13 round
#: start: 495 / 4 982 / 49 981 event_ids pass at sf0.001/0.01/0.1).
_X128_PREFILTER_DENOM = 2


def x128_stream_sample_quantiles(spark: SparkSession, sf_dir: str,
                                 ) -> DataFrame:
    """Streaming maintenance of the deterministic quantile sample —
    the X7 face of x123, completing the streaming-sketch TRIO (x124
    KMV = distinct counts, x127 CMS = frequencies, this = quantiles):
    the events backlog staged as two files, one per micro-batch,
    ``foreachBatch`` drawing each batch's bottom-k rows by md5 key
    hash DISTRIBUTED and folding them concatenate → re-bottom-k
    (streaming/sketches.stream_bottomk_sample). The multiset merge law
    (every global bottom-k row is inside its own batch's bottom-k)
    makes the folded sample IDENTICAL to the one-shot sample, so the
    x123 certification harness applies unchanged: the DuckDB oracle
    draws the one-shot sample and computes the same quantile
    estimates, and the gate value-hashes them exactly.

    Output mirrors x123 — one row per probed quantile of
    ``events.value`` (25/50/75/90/99%): sampled estimate (the
    ceil(q·m)-th order statistic), its TRUE corpus CDF position
    (``cdf_bp``), the gap, and the 3σ binomial envelope law — plus
    x124's ``multi_batch`` law pinning that ≥ 2 micro-batches actually
    merged (a single-batch run would certify nothing about folding).

    Scale shape: per micro-batch one prefilter-pushed scan capped at k
    rows by TakeOrdered; driver state O(k); the corpus CDF pass is the
    CERTIFICATION (one scan, all five conditional counts in one
    partial aggregate over the one-row broadcast sample array) — the
    24/7 product path keeps the k-row sample alone.
    """
    from ..streaming.sketches import stream_bottomk_sample  # noqa: PLC0415

    k = _X128_K
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("value").alias("v"))
    with _stream_backlog(ev) as (open_stream, _):
        sample, n_batches, _ = stream_bottomk_sample(
            open_stream(), ["event_id"], "v", k,
            prefilter_denom=_X128_PREFILTER_DENOM)
    samp = spark.createDataFrame(sample, "h long, v double")
    srow = samp.agg(
        F.sort_array(F.collect_list("v")).alias("arr"),
        F.count(F.lit(1)).alias("m"),
    )
    ests = {
        q: F.element_at(
            F.col("arr"),
            F.expr(f"CAST(({q} * m + 9999) DIV 10000 AS INT)"))
        for q in _X123_QS
    }
    stats = (
        ev.crossJoin(F.broadcast(srow))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("m").alias("m"),
            *[F.sum(F.when(F.col("v") <= est, 1).otherwise(0))
              .alias(f"c{q}") for q, est in ests.items()],
            *[F.first(est).alias(f"e{q}") for q, est in ests.items()],
        )
    )
    per_q = F.array(*[
        F.struct(
            F.lit(q).cast("long").alias("q_bp"),
            F.col(f"e{q}").alias("est"),
            F.expr(f"CAST(c{q} * 10000 DIV n AS BIGINT)").alias("cdf_bp"),
        )
        for q in _X123_QS
    ])
    return (
        stats.select(F.explode(per_q).alias("r"), "n", "m")
        .select(
            F.col("r.q_bp").alias("q_bp"), F.col("r.est").alias("est"),
            F.col("r.cdf_bp").alias("cdf_bp"),
            F.col("n").cast("long").alias("n"),
            F.col("m").cast("long").alias("m"),
        )
        .withColumn("gap_bp", F.abs(F.col("cdf_bp") - F.col("q_bp")))
        .withColumn("env_bp", F.expr(_X123_ENV_SQL))
        .withColumn("within_envelope", F.col("gap_bp") <= F.col("env_bp"))
        .withColumn("multi_batch", F.lit(n_batches >= 2))
        .orderBy("q_bp")
    )


QUERIES["x128_stream_sample_quantiles"] = x128_stream_sample_quantiles

ORACLE["x128_stream_sample_quantiles"] = f"""
    WITH src AS (SELECT event_id, value AS v FROM events),
    hs AS (
        SELECT ('0x' || substring(md5(COALESCE(CAST(event_id AS VARCHAR),
                    '')), 1, 15))::BIGINT AS h,
               v
        FROM src
        WHERE ('0x' || substring(md5(COALESCE(CAST(event_id AS VARCHAR),
                    '')), 1, 15))::BIGINT
              < {16 ** 15 // _X128_PREFILTER_DENOM}
    ),
    samp AS (SELECT v FROM hs ORDER BY h LIMIT {_X128_K}),
    srow AS (
        SELECT list_sort(list(v)) AS arr, COUNT(*) AS m FROM samp
    ),
    qs AS (SELECT unnest({list(_X123_QS)}) AS q_bp),
    est AS (
        SELECT qs.q_bp,
               srow.arr[CAST((qs.q_bp * srow.m + 9999) // 10000 AS INTEGER)]
                   AS est,
               srow.m
        FROM qs CROSS JOIN srow
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM src),
    cdf AS (
        SELECT e.q_bp, e.est, e.m, tot.n,
               (SELECT COUNT(*) FROM src WHERE src.v <= e.est) * 10000
                   // tot.n AS cdf_bp
        FROM est e CROSS JOIN tot
    )
    SELECT CAST(q_bp AS BIGINT) AS q_bp, est,
           CAST(cdf_bp AS BIGINT) AS cdf_bp, n, CAST(m AS BIGINT) AS m,
           CAST(ABS(cdf_bp - q_bp) AS BIGINT) AS gap_bp,
           {_X123_ENV_SQL} AS env_bp,
           ABS(cdf_bp - q_bp) <= {_X123_ENV_SQL} AS within_envelope,
           TRUE AS multi_batch
    FROM cdf
    ORDER BY q_bp
"""


# --- X6 extension: KMV theta set algebra (r14) -------------------------------

_X129_K = 256
#: Prefilter denom 2 (not x122's 4): the SMALLER corpus here (~1.1k
#: distinct orderkeys with a returned line at sf0.001) must keep >= k
#: survivors with margin — expected 548 at denom 2 (>4 sigma above
#: 256) vs 274 at denom 4 (~1.3 sigma, a real flake risk).
_X129_PREFILTER_DENOM = 2
#: Union estimate envelope: 3 sigma of the KMV estimator at k=256
#: (x122's constant, same k).
_X129_UNION_ENV_BP = 1882
#: Jaccard envelope: 3 sigma of the in-sketch intersection fraction —
#: |L ∩ A ∩ B| is a size-k uniform sample of A ∪ B probed for
#: membership in A ∩ B, so sigma = sqrt(rho(1-rho)/k) at the EXACT
#: rho. All operands CAST to DOUBLE explicitly (the x123 decimal-
#: literal lesson).
_X129_JACC_ENV_SQL = (
    "CAST(FLOOR(CAST(30000 AS DOUBLE) * SQRT("
    "(CAST(jaccard_bp_exact AS DOUBLE) / CAST(10000 AS DOUBLE))"
    " * (CAST(1 AS DOUBLE) - CAST(jaccard_bp_exact AS DOUBLE)"
    " / CAST(10000 AS DOUBLE))"
    f" / CAST({_X129_K} AS DOUBLE))) AS BIGINT)")
#: Intersection envelope (relative, bp): first-order union bound — the
#: product estimate rho_hat * union_est inherits 3 sigma of each
#: factor's relative error: 3(sqrt((1-rho)/(rho k)) + 1/sqrt(k-2)).
_X129_INTER_ENV_SQL = (
    "CAST(FLOOR(CAST(30000 AS DOUBLE) * ("
    "SQRT((CAST(1 AS DOUBLE) - CAST(jaccard_bp_exact AS DOUBLE)"
    " / CAST(10000 AS DOUBLE))"
    " / ((CAST(jaccard_bp_exact AS DOUBLE) / CAST(10000 AS DOUBLE))"
    f" * CAST({_X129_K} AS DOUBLE)))"
    f" + CAST(1 AS DOUBLE) / SQRT(CAST({_X129_K - 2} AS DOUBLE))"
    ")) AS BIGINT)")


def x129_kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-style KMV set algebra (profiling.kmv_set_algebra — Beyer
    et al. 2007): estimate |A ∪ B|, |A ∩ B|, and Jaccard between two
    corpora from their ≤ k-row bottom-k sketches ALONE. This is the
    cross-corpus overlap question a training-data pipeline asks before
    merging sources ("how much of corpus B is already in A?"), answered
    WITHOUT joining the corpora — at 100 TB the sketches are two ≤ 256-
    row tables shipped to one node, vs a shuffle of two key spaces.

    A = orderkeys with a returned line (l_returnflag = 'R'), B =
    orderkeys with a bulk line (l_quantity ≥ 25) — ~1.1k/11k/111k and
    ~1.3k/13k/131k distinct keys at the three sfs, Jaccard ≈ 0.72.
    Both membership flags come from ONE per-key aggregate over ONE
    corpus scan ("ANY line matches", max() per key); the per-set
    sketches are bottom-k slices of its hashed survivors and the exact
    certification counts are a one-row aggregate of the same persisted
    table — no second corpus pass.

    One row: sketch sizes, the union sketch's kth minimum, the three
    estimates, their exact counterparts (certification harness — a
    second full scan that exists only to grade the sketch, like x120/
    x122's exact sides; the 100 TB product path keeps the sketches
    alone), and three law columns: the union estimate inside x122's
    3σ envelope, the Jaccard estimate inside its binomial 3σ, and the
    intersection estimate inside the first-order product bound.
    DuckDB replays every hash, membership bit, and double ratio
    exactly (the x122 discipline).
    """
    from ..cache import track_persist  # noqa: PLC0415
    from ..operators.profiling import (  # noqa: PLC0415
        _KMV_DOMAIN,
        kmv_hash,
        kmv_set_algebra,
    )

    k = _X129_K
    thr = _KMV_DOMAIN // _X129_PREFILTER_DENOM
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"),
        (F.col("l_returnflag") == "R").cast("int").alias("a"),
        (F.col("l_quantity") >= 25).cast("int").alias("b"),
    )
    # r14 optimization: ONE corpus scan + ONE shuffle. The old form
    # scanned lineitem twice (hash-filter-groupBy(h) for the sketches,
    # groupBy(key) for the exact side) and paid md5 on every ROW; the
    # per-key membership aggregate is the common core of both, so
    # compute it once and hash only the ~|distinct keys| survivors
    # (h = md5(key) is 1:1 per key only PROBABILISTICALLY — ADVICE
    # r14: a 2^60-domain collision between distinct keys would leave a
    # duplicate h here where the oracle's per-h grouping keeps one;
    # birthday bound ~n²/2^61 ≈ 1e-8 at bench cardinalities, and at
    # 1e9+ keys a deployment must re-distinct on h. The oracle gate
    # re-certified the value hash at all three sfs.)
    per_key = (
        li.groupBy("key")
        .agg(F.max("a").alias("in_a"), F.max("b").alias("in_b"))
        .transform(track_persist)
    )
    surv = (
        per_key.select(kmv_hash(F.col("key")).alias("h"), "in_a", "in_b")
        .filter(F.col("h") < F.lit(thr))
    )
    sk_a = surv.filter(F.col("in_a") == 1).select("h").orderBy("h").limit(k)
    sk_b = surv.filter(F.col("in_b") == 1).select("h").orderBy("h").limit(k)
    alg = kmv_set_algebra(sk_a, sk_b, k)
    exact = per_key.agg(
        F.sum(F.greatest("in_a", "in_b")).cast("long").alias("n_union_exact"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long")
        .alias("n_inter_exact"),
    )
    return (
        alg.crossJoin(F.broadcast(exact))
        .withColumn("jaccard_bp_exact", F.expr(
            "CAST(n_inter_exact * 10000 DIV n_union_exact AS BIGINT)"))
        .select(
            F.lit(k).cast("long").alias("k"),
            "n_sketch_a", "n_sketch_b", "n_union_sketch", "kth_min",
            "n_inter_sketch",
            "union_est", "n_union_exact",
            F.expr("CAST(ABS(union_est - n_union_exact) * 10000"
                   " DIV n_union_exact AS BIGINT)").alias("union_err_bp"),
            (F.expr("ABS(union_est - n_union_exact) * 10000"
                    " DIV n_union_exact")
             <= _X129_UNION_ENV_BP).alias("union_env_ok"),
            "jaccard_bp_est", "jaccard_bp_exact",
            F.expr("CAST(ABS(jaccard_bp_est - jaccard_bp_exact) AS BIGINT)")
            .alias("jaccard_err_bp"),
            F.expr(_X129_JACC_ENV_SQL).alias("jaccard_env_bp"),
            (F.expr("ABS(jaccard_bp_est - jaccard_bp_exact)")
             <= F.expr(_X129_JACC_ENV_SQL)).alias("jaccard_env_ok"),
            "inter_est", "n_inter_exact",
            F.expr("CAST(ABS(inter_est - n_inter_exact) * 10000"
                   " DIV n_inter_exact AS BIGINT)").alias("inter_err_bp"),
            F.expr(_X129_INTER_ENV_SQL).alias("inter_env_bp"),
            (F.expr("ABS(inter_est - n_inter_exact) * 10000"
                    " DIV n_inter_exact")
             <= F.expr(_X129_INTER_ENV_SQL)).alias("inter_env_ok"),
        )
    )


QUERIES["x129_kmv_set_algebra"] = x129_kmv_set_algebra

_X129_EST_LIT = repr(float((_X129_K - 1) * 16 ** 15))

ORACLE["x129_kmv_set_algebra"] = f"""
    WITH src AS (
        SELECT l_orderkey AS key,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a,
               CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS b
        FROM lineitem
    ),
    hs AS (
        SELECT ('0x' || substring(md5(COALESCE(CAST(key AS VARCHAR), '')),
                    1, 15))::BIGINT AS h,
               a, b
        FROM src
    ),
    surv AS (
        SELECT h, MAX(a) AS in_a, MAX(b) AS in_b
        FROM hs
        WHERE h < {16 ** 15 // _X129_PREFILTER_DENOM}
        GROUP BY h
    ),
    ska AS (SELECT h FROM surv WHERE in_a = 1 ORDER BY h LIMIT {_X129_K}),
    skb AS (SELECT h FROM surv WHERE in_b = 1 ORDER BY h LIMIT {_X129_K}),
    tagged AS (
        SELECT h, 1 AS in_a, 0 AS in_b FROM ska
        UNION ALL
        SELECT h, 0 AS in_a, 1 AS in_b FROM skb
    ),
    sizes AS (
        SELECT CAST(SUM(in_a) AS BIGINT) AS n_sketch_a,
               CAST(SUM(in_b) AS BIGINT) AS n_sketch_b
        FROM tagged
    ),
    mem AS (
        SELECT h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
        FROM tagged GROUP BY h
    ),
    usk AS (SELECT * FROM mem ORDER BY h LIMIT {_X129_K}),
    law AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_union_sketch,
               MAX(h) AS kth_min,
               CAST(SUM(in_a * in_b) AS BIGINT) AS n_inter_sketch
        FROM usk
    ),
    alg AS (
        SELECT sizes.n_sketch_a, sizes.n_sketch_b,
               law.n_union_sketch, law.kth_min, law.n_inter_sketch,
               CAST(CASE WHEN law.n_union_sketch < {_X129_K}
                    THEN law.n_union_sketch
                    ELSE CAST(FLOOR(CAST({_X129_EST_LIT} AS DOUBLE)
                         / CAST(law.kth_min AS DOUBLE)) AS BIGINT)
               END AS BIGINT) AS union_est,
               CAST(CASE WHEN law.n_union_sketch < {_X129_K}
                    THEN law.n_inter_sketch
                    ELSE CAST(FLOOR((CAST(law.n_inter_sketch AS DOUBLE)
                         / CAST({_X129_K} AS DOUBLE))
                         * (CAST({_X129_EST_LIT} AS DOUBLE)
                         / CAST(law.kth_min AS DOUBLE))) AS BIGINT)
               END AS BIGINT) AS inter_est,
               CAST(CASE WHEN law.n_union_sketch = 0 THEN 0
                    ELSE law.n_inter_sketch * 10000 // law.n_union_sketch
               END AS BIGINT) AS jaccard_bp_est
        FROM law, sizes
    ),
    perkey AS (
        SELECT key, MAX(a) AS a, MAX(b) AS b FROM src GROUP BY key
    ),
    exact AS (
        SELECT CAST(SUM(GREATEST(a, b)) AS BIGINT) AS n_union_exact,
               CAST(SUM(a * b) AS BIGINT) AS n_inter_exact
        FROM perkey
    ),
    wide AS (
        SELECT alg.*, exact.n_union_exact, exact.n_inter_exact,
               CAST(exact.n_inter_exact * 10000 // exact.n_union_exact
                    AS BIGINT) AS jaccard_bp_exact
        FROM alg, exact
    )
    SELECT CAST({_X129_K} AS BIGINT) AS k,
           n_sketch_a, n_sketch_b, n_union_sketch, kth_min, n_inter_sketch,
           union_est, n_union_exact,
           CAST(ABS(union_est - n_union_exact) * 10000 // n_union_exact
                AS BIGINT) AS union_err_bp,
           ABS(union_est - n_union_exact) * 10000 // n_union_exact
               <= {_X129_UNION_ENV_BP} AS union_env_ok,
           jaccard_bp_est, jaccard_bp_exact,
           CAST(ABS(jaccard_bp_est - jaccard_bp_exact) AS BIGINT)
               AS jaccard_err_bp,
           {_X129_JACC_ENV_SQL} AS jaccard_env_bp,
           ABS(jaccard_bp_est - jaccard_bp_exact)
               <= {_X129_JACC_ENV_SQL} AS jaccard_env_ok,
           inter_est, n_inter_exact,
           CAST(ABS(inter_est - n_inter_exact) * 10000 // n_inter_exact
                AS BIGINT) AS inter_err_bp,
           {_X129_INTER_ENV_SQL} AS inter_env_bp,
           ABS(inter_est - n_inter_exact) * 10000 // n_inter_exact
               <= {_X129_INTER_ENV_SQL} AS inter_env_ok
    FROM wide
"""


# --- sampling extension: priority sampling for subset sums (r14) -------------

_X130_K = 512
#: repr(float(2^60)) — exact (power of two); scales the (k+1)-th
#: priority quotient w/h back into weight units (tau = w/u).
_X130_TAU_SCALE = repr(float(2 ** 60))
#: Quantization for order-independent double summation: each sampled
#: row's max(w, tau) is floored at 2^-20 granularity (multiply by 2^20
#: is exact — power of two — so FLOOR sees the true product) and the
#: integer terms sum exactly in any order; the final estimate divides
#: back. Double sums would differ between engines by summation order.
_X130_QUANT = 2 ** 20


def x130_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling for arbitrary subset sums (sampling.
    priority_sample — Duffield, Lund & Thorup 2007; variance bound
    Szegedy 2006): ONE k=512 weighted sample of lineitem rows
    (weight = l_quantity) answers ANY after-the-fact "total quantity
    in slice S" question, here graded on the three l_returnflag
    slices. The deterministic md5 draw makes the whole scheme
    value-replayable: both engines compute bit-identical priorities
    (one IEEE division per row), the same top-(k+1), the same
    boundary row and tau, and exactly equal quantized estimates —
    rng-free weighted sampling, the x123/x125 discipline extended to
    without-replacement weighted selection.

    Scale shape: the sample is TakeOrderedAndProject (per-partition
    top-(k+1), a 513-row merge — no shuffle, no global sort); the
    ≤ 513-row frame is persisted and every downstream aggregate is
    bounded by it. The exact per-flag sums are the certification
    harness (one more scan that exists only to grade the estimator).

    One row per l_returnflag: sample rows landing in the flag,
    quantized DLT estimate ``w_est = Σ max(w_i, tau)``, exact
    ``w_exact``, error, and the Szegedy envelope law
    ``|est − exact| ≤ 3·W/√(k−1)`` (per-row estimators are unbiased
    with zero pairwise covariance, so Var of ANY subset sum is at
    most Var of the total, which Szegedy bounds by W²/(k−1)).
    """
    from ..cache import track_persist  # noqa: PLC0415
    from ..operators.sampling import priority_sample  # noqa: PLC0415
    from ..session import scale_out  # noqa: PLC0415

    k = _X130_K
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
        F.col("l_quantity").cast("long").alias("w"),
        F.col("l_returnflag").alias("flag"),
    )
    # r14: widen the sample scan — the single-row-group parquet would
    # otherwise run the per-row md5 priority draw on one core (A/B at
    # sf0.1: 1.33 → 0.79 s; scale_out no-ops on already-split inputs)
    top = priority_sample(
        scale_out(li), ["k1", "k2"], "w", k).transform(track_persist)
    est = (
        top.filter(~F.col("is_boundary"))
        .withColumn("wq", F.expr(
            f"CAST(FLOOR(w_est * CAST({_X130_QUANT} AS DOUBLE)) AS BIGINT)"))
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sample"),
            F.expr(f"CAST(SUM(wq) DIV {_X130_QUANT} AS BIGINT)")
            .alias("w_est_flag"),
        )
    )
    # r14 optimization: the grand total is the sum of the per-flag
    # exact sums (exact long arithmetic — same value), so the third
    # corpus scan disappears; the ≤ |flags|-row exact table feeds both
    # the join and the envelope total.
    exact = li.groupBy("flag").agg(
        F.sum("w").cast("long").alias("w_exact")).transform(track_persist)
    total = exact.agg(F.sum("w_exact").cast("long").alias("total_w"))
    env = (f"CAST(FLOOR(CAST(3 AS DOUBLE) * CAST(total_w AS DOUBLE)"
           f" / SQRT(CAST({k - 1} AS DOUBLE))) AS BIGINT)")
    return (
        exact.join(est, "flag", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "flag",
            F.coalesce(F.col("n_sample"), F.lit(0)).cast("long")
            .alias("n_sample"),
            "w_exact",
            F.coalesce(F.col("w_est_flag"), F.lit(0)).cast("long")
            .alias("w_est"),
            F.expr("CAST(ABS(COALESCE(w_est_flag, 0) - w_exact)"
                   " AS BIGINT)").alias("abs_err"),
            F.expr(env).alias("env_abs"),
            (F.expr("ABS(COALESCE(w_est_flag, 0) - w_exact)")
             <= F.expr(env)).alias("within_envelope"),
        )
        .orderBy("flag")
    )


QUERIES["x130_priority_sample"] = x130_priority_sample

ORACLE["x130_priority_sample"] = f"""
    WITH src AS (
        SELECT l_orderkey AS k1, l_linenumber AS k2,
               CAST(l_quantity AS BIGINT) AS w, l_returnflag AS flag
        FROM lineitem
    ),
    pri AS (
        SELECT *,
               ('0x' || substring(md5(COALESCE(CAST(concat_ws(':',
                    CAST(k1 AS VARCHAR), CAST(k2 AS VARCHAR)) AS VARCHAR),
                    '')), 1, 15))::BIGINT + 1 AS h
        FROM src
    ),
    p2 AS (
        SELECT *, CAST(w AS DOUBLE) / CAST(h AS DOUBLE) AS p FROM pri
    ),
    top AS (
        SELECT * FROM p2
        ORDER BY p DESC, h ASC, k1 ASC, k2 ASC
        LIMIT {_X130_K + 1}
    ),
    m AS (SELECT COUNT(*) AS c FROM top),
    bnd AS (SELECT p, h FROM top ORDER BY p ASC, h DESC LIMIT 1),
    samp AS (
        SELECT t.flag,
               CASE WHEN m.c = {_X130_K + 1}
                    THEN bnd.p * CAST({_X130_TAU_SCALE} AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE)
               END AS tau,
               t.w
        FROM top t, m, bnd
        WHERE m.c < {_X130_K + 1} OR NOT (t.p = bnd.p AND t.h = bnd.h)
    ),
    est AS (
        SELECT flag,
               CAST(COUNT(*) AS BIGINT) AS n_sample,
               CAST(SUM(CAST(FLOOR(GREATEST(CAST(w AS DOUBLE), tau)
                    * CAST({_X130_QUANT} AS DOUBLE)) AS BIGINT))
                    // {_X130_QUANT} AS BIGINT) AS w_est_flag
        FROM samp GROUP BY flag
    ),
    exact AS (
        SELECT flag, CAST(SUM(w) AS BIGINT) AS w_exact
        FROM src GROUP BY flag
    ),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS total_w FROM src)
    SELECT exact.flag,
           CAST(COALESCE(est.n_sample, 0) AS BIGINT) AS n_sample,
           exact.w_exact,
           CAST(COALESCE(est.w_est_flag, 0) AS BIGINT) AS w_est,
           CAST(ABS(COALESCE(est.w_est_flag, 0) - exact.w_exact)
                AS BIGINT) AS abs_err,
           CAST(FLOOR(CAST(3 AS DOUBLE) * CAST(tot.total_w AS DOUBLE)
                / SQRT(CAST({_X130_K - 1} AS DOUBLE))) AS BIGINT)
               AS env_abs,
           ABS(COALESCE(est.w_est_flag, 0) - exact.w_exact)
               <= CAST(FLOOR(CAST(3 AS DOUBLE) * CAST(tot.total_w AS DOUBLE)
                   / SQRT(CAST({_X130_K - 1} AS DOUBLE))) AS BIGINT)
               AS within_envelope
    FROM exact LEFT JOIN est ON est.flag = exact.flag
    CROSS JOIN tot
    ORDER BY exact.flag
"""


# --- X6 extension: sketch-based containment / FK discovery (r14) -------------

_X131_K = 256
#: Directed column pairs probed for containment(child ⊆ parent):
#: the four star-schema FK edges and their reverses (the reverse
#: containments are < 1 wherever parents exist without children —
#: customers who never ordered, parts never ordered, etc.), so the
#: face grades both the ≈1.0 and the interior-rho estimator paths.
_X131_PAIRS: tuple = (
    ("o_custkey", "c_custkey"),
    ("c_custkey", "o_custkey"),
    ("l_orderkey", "o_orderkey"),
    ("o_orderkey", "l_orderkey"),
    ("l_partkey", "p_partkey"),
    ("p_partkey", "l_partkey"),
    ("l_suppkey", "s_suppkey"),
    ("s_suppkey", "l_suppkey"),
)
_X131_COLS: dict = {
    "customer": ("c_custkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "part": ("p_partkey",),
    "supplier": ("s_suppkey",),
}


def x131_fk_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (foreign-key) discovery from per-column KMV
    sketches — the schema-profiling question ("which column is
    contained in which?") answered over ALL candidate column pairs
    from ≤ k-row sketches, never a join of the key spaces. Build one
    bottom-k sketch per column (profiling.kmv_sketch_by_group over a
    melted one-scan-per-table keyspace), then for each directed pair
    (child, parent) estimate containment |child ∩ parent| / |child|
    from the bottom-k of the pair's UNION: every hash there is below
    both sketches' thresholds (the x129 theta argument), so its child
    members are a uniform sample of the child's distinct values,
    membership-probed against the parent. At 100 TB the pairwise
    phase touches 8 sketches of ≤ 256 rows — column count, not data
    size, is the cost driver, which is what lets a profiler sweep
    every column pair of a warehouse.

    Probes the four star-schema FK edges and their reverses (mixed
    saturation by design: s_suppkey's 10/100/1000 distinct values keep
    the sketch unsaturated at the small sfs, exercising the exact
    fallback, while l_orderkey saturates everywhere). One row per
    pair: in-sketch counts, containment estimate (bp), exact
    containment (certification harness — computed from the same
    persisted keyspace, not the sketches), error, the binomial 3σ
    envelope law at the exact rate (σ = √(c(1−c)/k_child); exactly 0
    when c = 1, where the estimator is deterministically exact), and
    the ``fk_candidate`` verdict (est ≥ 9900 bp).
    """
    from ..cache import track_persist  # noqa: PLC0415
    from ..operators.profiling import kmv_sketch_by_group  # noqa: PLC0415

    k = _X131_K
    # column names travel as a TINY int index inside the data-sized
    # phases (guide §2.3 "narrower types": the melted keyspace is
    # |columns| × |distinct keys| rows and the 9-11-char column-name
    # string more than doubled each shuffled row vs a 4-byte int);
    # strings reappear only on the ≤ 16-row roles/pair frames.
    all_cols = [c for cs in _X131_COLS.values() for c in cs]
    idx = {c: i for i, c in enumerate(all_cols)}
    parts = []
    for t, cs in _X131_COLS.items():
        tdf = load_table(spark, sf_dir, t)
        parts.append(tdf.select(F.explode(F.array(*[
            F.struct(F.lit(idx[c]).cast("int").alias("g"),
                     F.col(c).cast("long").alias("key"))
            for c in cs
        ])).alias("e")).select("e.g", "e.key"))
    ks = parts[0]
    for p in parts[1:]:
        ks = ks.unionAll(p)
    # r14 (guide §2, the x83 width derivation): the distinct keyspace
    # is a few MB here, so AQE coalesces it to 1-2 cached partitions
    # and every consumer (the sketch's per-key md5 + rank window, the
    # exact side's pivot) runs near-serial. Re-cluster the CACHE at a
    # data-derived width — melted rows (footer counts × column counts)
    # at ~400k rows/partition, clamped to cores; keyed on `key` so the
    # exact side's groupBy(key) reuses the partitioning with NO
    # exchange. A/B at sf0.1 (materialize+sketch+pivot): unpinned
    # 2.08 s, width 6 (the derived value) 1.48 s, width 12 1.65 s.
    from ._util import parquet_num_rows  # noqa: PLC0415

    melt_rows = 0
    for tname, cs in _X131_COLS.items():
        n = parquet_num_rows(f"{sf_dir}/{tname}.parquet")
        if n is None:
            melt_rows = None
            break
        melt_rows += n * len(cs)
    cores = spark.sparkContext.defaultParallelism
    ks_width = (max(1, min(cores, melt_rows // 400_000 + 1))
                if melt_rows is not None else cores)
    ks = ks.distinct().repartition(ks_width, "key").transform(track_persist)
    # ks is already distinct on (g, key), so the sketch skips its own
    # distinct exchange (r14 optimization; the 60-bit hash is 1:1 per
    # key, so the rank window sees the identical row set)
    sk = kmv_sketch_by_group(ks, "g", "key", k, distinct_keys=True)

    roles = spark.createDataFrame(
        [(f"{c}->{p}", "c", idx[c]) for c, p in _X131_PAIRS]
        + [(f"{c}->{p}", "p", idx[p]) for c, p in _X131_PAIRS],
        "pair_id string, role string, colname int",
    )
    mem = (
        F.broadcast(roles).join(sk, F.col("colname") == F.col("g"))
        .groupBy("pair_id", "h")
        .agg(
            F.max((F.col("role") == "c").cast("int")).alias("in_c"),
            F.max((F.col("role") == "p").cast("int")).alias("in_p"),
        )
    )
    usk = (
        mem.withColumn(
            "__rk",
            F.row_number().over(W.partitionBy("pair_id").orderBy("h")))
        .filter(F.col("__rk") <= k)
    )
    plaw = usk.groupBy("pair_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_union_sketch"),
        F.sum("in_c").cast("long").alias("k_child"),
        F.sum(F.col("in_c") * F.col("in_p")).cast("long").alias("k_inter"),
    )
    # exact certification side, r14 optimization: instead of fanning
    # the keyspace out ×2 through the roles join and shuffling
    # (pair_id, key) twice, pivot membership per key in ONE
    # groupBy(key) pass (8 boolean lanes), then a grand aggregate
    # computes every pair's |child| and |child ∩ parent| — identical
    # values (the oracle's exk/ex blocks compute exactly these sums).
    km = ks.groupBy("key").agg(*[
        F.max((F.col("g") == i).cast("int")).alias(f"m{i}")
        for i, c in enumerate(all_cols)
    ])
    ex_agg = km.agg(*(
        [F.sum(f"m{idx[c]}").cast("long").alias(f"nc{j}")
         for j, (c, _p) in enumerate(_X131_PAIRS)]
        + [F.sum(F.col(f"m{idx[c]}") * F.col(f"m{idx[p]}")).cast("long")
           .alias(f"ni{j}")
           for j, (c, p) in enumerate(_X131_PAIRS)]
    ))
    ex = ex_agg.select(F.explode(F.array(*[
        F.struct(
            F.lit(f"{c}->{p}").alias("pair_id"),
            F.col(f"nc{j}").alias("n_child_exact"),
            F.col(f"ni{j}").alias("n_inter_exact"),
        )
        for j, (c, p) in enumerate(_X131_PAIRS)
    ])).alias("e")).select("e.pair_id", "e.n_child_exact", "e.n_inter_exact")
    env = ("CAST(FLOOR(CAST(30000 AS DOUBLE) * SQRT("
           "(CAST(cont_bp_exact AS DOUBLE) / CAST(10000 AS DOUBLE))"
           " * (CAST(1 AS DOUBLE) - CAST(cont_bp_exact AS DOUBLE)"
           " / CAST(10000 AS DOUBLE))"
           " / CAST(k_child AS DOUBLE))) AS BIGINT)")
    return (
        plaw.join(ex, "pair_id")
        .withColumn("cont_bp_est", F.expr(
            "CAST(k_inter * 10000 DIV k_child AS BIGINT)"))
        .withColumn("cont_bp_exact", F.expr(
            "CAST(n_inter_exact * 10000 DIV n_child_exact AS BIGINT)"))
        .select(
            F.expr("split(pair_id, '->')[0]").alias("child_col"),
            F.expr("split(pair_id, '->')[1]").alias("parent_col"),
            "n_child_exact", "n_inter_exact", "cont_bp_exact",
            "n_union_sketch", "k_child", "k_inter", "cont_bp_est",
            F.expr("CAST(ABS(cont_bp_est - cont_bp_exact) AS BIGINT)")
            .alias("err_bp"),
            F.expr(env).alias("env_bp"),
            (F.expr("ABS(cont_bp_est - cont_bp_exact)")
             <= F.expr(env)).alias("within_envelope"),
            (F.col("cont_bp_est") >= 9900).alias("fk_candidate"),
        )
        .orderBy("child_col", "parent_col")
    )


QUERIES["x131_fk_containment"] = x131_fk_containment

_X131_KEYSPACE_SQL = "\n        UNION ALL\n".join(
    f"        SELECT DISTINCT '{c}' AS g, CAST({c} AS BIGINT) AS key"
    f" FROM {t}"
    for t, cs in _X131_COLS.items() for c in cs
)
_X131_ROLES_SQL = ",\n".join(
    f"            ('{c}->{p}', 'c', '{c}'), ('{c}->{p}', 'p', '{p}')"
    for c, p in _X131_PAIRS
)

ORACLE["x131_fk_containment"] = f"""
    WITH ks AS (
{_X131_KEYSPACE_SQL}
    ),
    kh AS (
        SELECT DISTINCT g,
               ('0x' || substring(md5(COALESCE(CAST(key AS VARCHAR), '')),
                    1, 15))::BIGINT AS h
        FROM ks
    ),
    sk AS (
        SELECT g, h FROM (
            SELECT g, h,
                   row_number() OVER (PARTITION BY g ORDER BY h) AS rk
            FROM kh
        ) WHERE rk <= {_X131_K}
    ),
    roles(pair_id, role, colname) AS (
        VALUES
{_X131_ROLES_SQL}
    ),
    mem AS (
        SELECT r.pair_id, s.h,
               MAX(CASE WHEN r.role = 'c' THEN 1 ELSE 0 END) AS in_c,
               MAX(CASE WHEN r.role = 'p' THEN 1 ELSE 0 END) AS in_p
        FROM roles r JOIN sk s ON s.g = r.colname
        GROUP BY r.pair_id, s.h
    ),
    usk AS (
        SELECT * FROM (
            SELECT *,
                   row_number() OVER (PARTITION BY pair_id ORDER BY h) AS rk
            FROM mem
        ) WHERE rk <= {_X131_K}
    ),
    plaw AS (
        SELECT pair_id,
               CAST(COUNT(*) AS BIGINT) AS n_union_sketch,
               CAST(SUM(in_c) AS BIGINT) AS k_child,
               CAST(SUM(in_c * in_p) AS BIGINT) AS k_inter
        FROM usk GROUP BY pair_id
    ),
    exk AS (
        SELECT r.pair_id, k.key,
               MAX(CASE WHEN r.role = 'c' THEN 1 ELSE 0 END) AS in_c,
               MAX(CASE WHEN r.role = 'p' THEN 1 ELSE 0 END) AS in_p
        FROM roles r JOIN ks k ON k.g = r.colname
        GROUP BY r.pair_id, k.key
    ),
    ex AS (
        SELECT pair_id,
               CAST(SUM(in_c) AS BIGINT) AS n_child_exact,
               CAST(SUM(in_c * in_p) AS BIGINT) AS n_inter_exact
        FROM exk GROUP BY pair_id
    ),
    wide AS (
        SELECT plaw.pair_id, plaw.n_union_sketch, plaw.k_child,
               plaw.k_inter, ex.n_child_exact, ex.n_inter_exact,
               CAST(plaw.k_inter * 10000 // plaw.k_child AS BIGINT)
                   AS cont_bp_est,
               CAST(ex.n_inter_exact * 10000 // ex.n_child_exact AS BIGINT)
                   AS cont_bp_exact
        FROM plaw JOIN ex ON ex.pair_id = plaw.pair_id
    )
    SELECT split_part(pair_id, '->', 1) AS child_col,
           split_part(pair_id, '->', 2) AS parent_col,
           n_child_exact, n_inter_exact, cont_bp_exact,
           n_union_sketch, k_child, k_inter, cont_bp_est,
           CAST(ABS(cont_bp_est - cont_bp_exact) AS BIGINT) AS err_bp,
           CAST(FLOOR(CAST(30000 AS DOUBLE) * SQRT(
               (CAST(cont_bp_exact AS DOUBLE) / CAST(10000 AS DOUBLE))
               * (CAST(1 AS DOUBLE) - CAST(cont_bp_exact AS DOUBLE)
                  / CAST(10000 AS DOUBLE))
               / CAST(k_child AS DOUBLE))) AS BIGINT) AS env_bp,
           ABS(cont_bp_est - cont_bp_exact)
               <= CAST(FLOOR(CAST(30000 AS DOUBLE) * SQRT(
                   (CAST(cont_bp_exact AS DOUBLE) / CAST(10000 AS DOUBLE))
                   * (CAST(1 AS DOUBLE) - CAST(cont_bp_exact AS DOUBLE)
                      / CAST(10000 AS DOUBLE))
                   / CAST(k_child AS DOUBLE))) AS BIGINT)
               AS within_envelope,
           cont_bp_est >= 9900 AS fk_candidate
    FROM wide
    ORDER BY child_col, parent_col
"""


# --- X7 extension: streaming cross-corpus overlap monitor (r14) --------------

def x133_stream_overlap_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the x129 set algebra — the live
    "overlap between what's arriving and what we already have"
    dashboard a 24/7 ingest pipeline runs: TWO KMV sketches (corpus A
    = orderkeys with a returned line, corpus B = orderkeys with a bulk
    line, the x129 predicates) are folded over the lineitem backlog in
    ONE availableNow pass of
    streaming/sketches.stream_kmv_sketch_by_group (each row melts to
    its membership lanes, the grouped fold maintains both lanes'
    bottom-ks per micro-batch), then profiling.kmv_set_algebra
    estimates |A ∪ B| / |A ∩ B| / Jaccard from the two ≤ k-row folded
    states. The KMV merge law (bottom-k of a union == bottom-k of
    concatenated member bottom-ks, applied per lane) makes each folded
    sketch IDENTICAL to its one-shot batch sketch regardless of the
    backlog split, so the DuckDB oracle — which computes the BATCH
    sketches — certifies the whole streaming composition by value (the
    x124 discipline, composed through the algebra).

    Output: the x129 row (estimates + exact certification counts +
    the three 3σ envelope laws) plus ``multi_batch`` pinning that the
    fold actually merged ≥ 2 micro-batches. The in-band backlog is the
    MINIMAL 2-batch split (one state fold); ≥ 2-merge multi-fold
    coverage is delegated to tests/test_streaming.py's multi-way-split
    law pins (ADVICE r14).

    Scale shape: per micro-batch one scan capped at k·2 rows after the
    prefilter-pushed grouped rank; driver state O(k) per lane; the
    pairwise phase touches two ≤ k-row tables; the exact counts are
    certification-only (x120/x122 discipline).
    """
    from ..operators.profiling import kmv_set_algebra  # noqa: PLC0415
    from ..streaming.sketches import (  # noqa: PLC0415
        stream_kmv_sketch_by_group,
    )

    k = _X129_K
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"),
        (F.col("l_returnflag") == "R").cast("int").alias("a"),
        (F.col("l_quantity") >= 25).cast("int").alias("b"),
    )
    lanes = [
        F.when(F.col(flag) == 1, F.struct(
            F.lit(flag).alias("g"), F.col("key").alias("key")))
        for flag in ("a", "b")
    ]
    with _stream_backlog(li) as (open_stream, _):
        melted = (
            open_stream()
            .select(F.explode(F.filter(
                F.array(*lanes), lambda x: x.isNotNull())).alias("e"))
            .select("e.g", "e.key")
        )
        folded, n_batches, _ = stream_kmv_sketch_by_group(
            melted, "g", "key", k,
            prefilter_denom=_X129_PREFILTER_DENOM)
    sk_a = spark.createDataFrame(
        [(h,) for h in folded.get("a", [])], "h long")
    sk_b = spark.createDataFrame(
        [(h,) for h in folded.get("b", [])], "h long")
    alg = kmv_set_algebra(sk_a, sk_b, k)
    per_key = li.groupBy("key").agg(
        F.max("a").alias("a"), F.max("b").alias("b"))
    exact = per_key.agg(
        F.sum(F.greatest("a", "b")).cast("long").alias("n_union_exact"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n_inter_exact"),
    )
    return (
        alg.crossJoin(F.broadcast(exact))
        .withColumn("jaccard_bp_exact", F.expr(
            "CAST(n_inter_exact * 10000 DIV n_union_exact AS BIGINT)"))
        .select(
            F.lit(k).cast("long").alias("k"),
            "n_sketch_a", "n_sketch_b", "n_union_sketch", "kth_min",
            "n_inter_sketch",
            "union_est", "n_union_exact",
            F.expr("CAST(ABS(union_est - n_union_exact) * 10000"
                   " DIV n_union_exact AS BIGINT)").alias("union_err_bp"),
            (F.expr("ABS(union_est - n_union_exact) * 10000"
                    " DIV n_union_exact")
             <= _X129_UNION_ENV_BP).alias("union_env_ok"),
            "jaccard_bp_est", "jaccard_bp_exact",
            F.expr("CAST(ABS(jaccard_bp_est - jaccard_bp_exact) AS BIGINT)")
            .alias("jaccard_err_bp"),
            (F.expr("ABS(jaccard_bp_est - jaccard_bp_exact)")
             <= F.expr(_X129_JACC_ENV_SQL)).alias("jaccard_env_ok"),
            "inter_est", "n_inter_exact",
            F.expr("CAST(ABS(inter_est - n_inter_exact) * 10000"
                   " DIV n_inter_exact AS BIGINT)").alias("inter_err_bp"),
            (F.expr("ABS(inter_est - n_inter_exact) * 10000"
                    " DIV n_inter_exact")
             <= F.expr(_X129_INTER_ENV_SQL)).alias("inter_env_ok"),
            F.lit(n_batches >= 2).alias("multi_batch"),
        )
    )


QUERIES["x133_stream_overlap_monitor"] = x133_stream_overlap_monitor

# The oracle is the BATCH set algebra (x129's SQL) — the merge law
# guarantees the streamed sketches equal the one-shot ones — with the
# env_bp columns dropped (they are x129's certification detail; this
# face keeps the boolean laws) and the multi_batch law appended.
ORACLE["x133_stream_overlap_monitor"] = f"""
    WITH src AS (
        SELECT l_orderkey AS key,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a,
               CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS b
        FROM lineitem
    ),
    hs AS (
        SELECT ('0x' || substring(md5(COALESCE(CAST(key AS VARCHAR), '')),
                    1, 15))::BIGINT AS h,
               a, b
        FROM src
    ),
    surv AS (
        SELECT h, MAX(a) AS in_a, MAX(b) AS in_b
        FROM hs
        WHERE h < {16 ** 15 // _X129_PREFILTER_DENOM}
        GROUP BY h
    ),
    ska AS (SELECT h FROM surv WHERE in_a = 1 ORDER BY h LIMIT {_X129_K}),
    skb AS (SELECT h FROM surv WHERE in_b = 1 ORDER BY h LIMIT {_X129_K}),
    tagged AS (
        SELECT h, 1 AS in_a, 0 AS in_b FROM ska
        UNION ALL
        SELECT h, 0 AS in_a, 1 AS in_b FROM skb
    ),
    sizes AS (
        SELECT CAST(SUM(in_a) AS BIGINT) AS n_sketch_a,
               CAST(SUM(in_b) AS BIGINT) AS n_sketch_b
        FROM tagged
    ),
    mem AS (
        SELECT h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
        FROM tagged GROUP BY h
    ),
    usk AS (SELECT * FROM mem ORDER BY h LIMIT {_X129_K}),
    law AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_union_sketch,
               MAX(h) AS kth_min,
               CAST(SUM(in_a * in_b) AS BIGINT) AS n_inter_sketch
        FROM usk
    ),
    alg AS (
        SELECT sizes.n_sketch_a, sizes.n_sketch_b,
               law.n_union_sketch, law.kth_min, law.n_inter_sketch,
               CAST(CASE WHEN law.n_union_sketch < {_X129_K}
                    THEN law.n_union_sketch
                    ELSE CAST(FLOOR(CAST({_X129_EST_LIT} AS DOUBLE)
                         / CAST(law.kth_min AS DOUBLE)) AS BIGINT)
               END AS BIGINT) AS union_est,
               CAST(CASE WHEN law.n_union_sketch < {_X129_K}
                    THEN law.n_inter_sketch
                    ELSE CAST(FLOOR((CAST(law.n_inter_sketch AS DOUBLE)
                         / CAST({_X129_K} AS DOUBLE))
                         * (CAST({_X129_EST_LIT} AS DOUBLE)
                         / CAST(law.kth_min AS DOUBLE))) AS BIGINT)
               END AS BIGINT) AS inter_est,
               CAST(CASE WHEN law.n_union_sketch = 0 THEN 0
                    ELSE law.n_inter_sketch * 10000 // law.n_union_sketch
               END AS BIGINT) AS jaccard_bp_est
        FROM law, sizes
    ),
    perkey AS (
        SELECT key, MAX(a) AS a, MAX(b) AS b FROM src GROUP BY key
    ),
    exact AS (
        SELECT CAST(SUM(GREATEST(a, b)) AS BIGINT) AS n_union_exact,
               CAST(SUM(a * b) AS BIGINT) AS n_inter_exact
        FROM perkey
    ),
    wide AS (
        SELECT alg.*, exact.n_union_exact, exact.n_inter_exact,
               CAST(exact.n_inter_exact * 10000 // exact.n_union_exact
                    AS BIGINT) AS jaccard_bp_exact
        FROM alg, exact
    )
    SELECT CAST({_X129_K} AS BIGINT) AS k,
           n_sketch_a, n_sketch_b, n_union_sketch, kth_min, n_inter_sketch,
           union_est, n_union_exact,
           CAST(ABS(union_est - n_union_exact) * 10000 // n_union_exact
                AS BIGINT) AS union_err_bp,
           ABS(union_est - n_union_exact) * 10000 // n_union_exact
               <= {_X129_UNION_ENV_BP} AS union_env_ok,
           jaccard_bp_est, jaccard_bp_exact,
           CAST(ABS(jaccard_bp_est - jaccard_bp_exact) AS BIGINT)
               AS jaccard_err_bp,
           ABS(jaccard_bp_est - jaccard_bp_exact)
               <= {_X129_JACC_ENV_SQL} AS jaccard_env_ok,
           inter_est, n_inter_exact,
           CAST(ABS(inter_est - n_inter_exact) * 10000 // n_inter_exact
                AS BIGINT) AS inter_err_bp,
           ABS(inter_est - n_inter_exact) * 10000 // n_inter_exact
               <= {_X129_INTER_ENV_SQL} AS inter_env_ok,
           TRUE AS multi_batch
    FROM wide
"""


# --- X6 extension: CMS inner-product join-size estimation (r14) --------------

_X134_DEPTH = 4
#: 2^18 — power of two (zero modulo bias in the digest lanes). Join-
#: size estimation needs a wider sketch than heavy-hitter probing
#: (x120's 256): each lane's collision excess is ~ nR·nS/width, so
#: width trades memory for estimate tightness — 4·2^18 counters ≈ 8 MB
#: of longs, fixed regardless of corpus size.
_X134_WIDTH = 262144


def x134_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from count-min sketches (the AMS
    inner-product estimator carried on CM sketches — Alon, Matias &
    Szegedy 1996; Cormode & Muthukrishnan 2005 §4.2): estimate
    ``|R ⋈ S|`` on a key as ``min_i Σ_b cR[i,b]·cS[i,b]`` — the
    query-optimizer primitive ("how big is this join going to be?")
    answered from two bounded counter tables WITHOUT running the join.
    At 100 TB the planner ships two ≤ depth·width-row sketches; the
    join itself never executes on the wrong strategy.

    R = lineitem's l_partkey multiset, S = the bulk lines (l_quantity
    ≥ 25) — real fanout on both sides (~30×15 per part). Two
    DETERMINISTIC laws: (1) ``never_underestimates`` — every colliding
    pair is non-negative and matching keys always share buckets, so
    each lane's inner product ≥ Σ_k fR(k)·fS(k) exactly; (2) a Markov
    envelope — each lane's collision excess has mean ≤ nR·nS/width,
    so ``est − exact ≤ 3·nR·nS/width`` fails only if ALL depth lanes
    exceed 3× their mean (≤ 3^-4 under the lane-independence
    heuristic; measured 0/62/689 bp over-estimate vs 22/222/2215 bp
    envelope at the three sfs — the sf0.001 sketch is collision-free
    and the estimate EXACT). Everything is md5-derived integer
    arithmetic (the x120 counter replay), so DuckDB reproduces the
    estimate bit-for-bit.

    Scale shape (r14 optimization, guide §2.3 "aggregate before you
    shuffle"): ONE corpus pass — the per-key frequency aggregate
    ``fr = (k, fr, fs)`` — feeds EVERYTHING. Both sketches derive from
    the ≤ |distinct keys|-row frequency table by weighted counting
    (``cnt[i,b] = Σ_{k∈bucket} fr(k)`` — identical counters to per-row
    incrementing, by linearity), so the explode × depth runs over
    distinct keys, md5 is paid once per KEY instead of once per row,
    and the old second explode pass AND the sketch-vs-sketch (i, b)
    join both disappear (a bucket cS never touched has ``cnt_s = 0``,
    contributing 0 to the inner product exactly like the inner join it
    replaces). The exact side is the same table's one-row aggregate —
    the certification harness; the product path keeps the sketches.
    """
    from ..cache import track_persist  # noqa: PLC0415
    from ..operators.profiling import cms_buckets  # noqa: PLC0415

    d, w = _X134_DEPTH, _X134_WIDTH
    fr = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("k"),
        (F.col("l_quantity") >= 25).cast("int").alias("s"),
    ).groupBy("k").agg(
        F.count(F.lit(1)).alias("fr"),
        F.sum("s").alias("fs"),
    ).transform(track_persist)
    both = (
        fr.select(F.explode(F.array(*[
            F.struct(F.lit(i).alias("i"), b.alias("b"))
            for i, b in enumerate(cms_buckets(F.col("k"), d, w))
        ])).alias("ib"), "fr", "fs")
        .groupBy(F.col("ib.i").alias("i"), F.col("ib.b").alias("b"))
        .agg(F.sum("fr").alias("cnt"), F.sum("fs").alias("cnt_s"))
    )
    est = (
        both.groupBy("i")
        .agg(F.sum(F.expr("cnt * cnt_s")).cast("long").alias("ip"))
        .agg(F.min("ip").cast("long").alias("js_est"))
    )
    exact = fr.agg(
        F.sum(F.expr("fr * fs")).cast("long").alias("js_exact"),
        F.sum("fr").cast("long").alias("nr"),
        F.sum("fs").cast("long").alias("ns"),
    )
    env = (f"CAST(3 * (nr * ns DIV {w}) * 10000 DIV js_exact"
           " AS BIGINT)")
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "nr", "ns", "js_est", "js_exact",
            F.expr("CAST((js_est - js_exact) * 10000 DIV js_exact"
                   " AS BIGINT)").alias("over_bp"),
            (F.col("js_est") >= F.col("js_exact"))
            .alias("never_underestimates"),
            F.expr(env).alias("env_bp"),
            (F.expr("(js_est - js_exact) * 10000 DIV js_exact")
             <= F.expr(env)).alias("within_envelope"),
        )
    )


QUERIES["x134_cms_join_size"] = x134_cms_join_size

ORACLE["x134_cms_join_size"] = f"""
    WITH base AS (
        SELECT l_partkey AS k,
               CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS s
        FROM lineitem
    ),
    d AS (SELECT unnest(range({_X134_DEPTH})) AS i),
    cr AS (
        SELECT i,
               CAST(('0x' || substring(md5(COALESCE(CAST(k AS VARCHAR), '')),
                   8 * CAST(i AS INTEGER) + 1, 8))::BIGINT
                   % {_X134_WIDTH} AS INTEGER) AS b,
               COUNT(*) AS cnt
        FROM base CROSS JOIN d
        GROUP BY 1, 2
    ),
    cs AS (
        SELECT i,
               CAST(('0x' || substring(md5(COALESCE(CAST(k AS VARCHAR), '')),
                   8 * CAST(i AS INTEGER) + 1, 8))::BIGINT
                   % {_X134_WIDTH} AS INTEGER) AS b,
               COUNT(*) AS cnt
        FROM base CROSS JOIN d
        WHERE s = 1
        GROUP BY 1, 2
    ),
    lanes AS (
        SELECT cr.i, SUM(cr.cnt * cs.cnt) AS ip
        FROM cr JOIN cs ON cs.i = cr.i AND cs.b = cr.b
        GROUP BY 1
    ),
    est AS (SELECT CAST(MIN(ip) AS BIGINT) AS js_est FROM lanes),
    fr AS (
        SELECT k, COUNT(*) AS fr, SUM(s) AS fs FROM base GROUP BY k
    ),
    exact AS (
        SELECT CAST(SUM(fr * fs) AS BIGINT) AS js_exact,
               CAST(SUM(fr) AS BIGINT) AS nr,
               CAST(SUM(fs) AS BIGINT) AS ns
        FROM fr
    )
    SELECT exact.nr, exact.ns, est.js_est, exact.js_exact,
           CAST((est.js_est - exact.js_exact) * 10000 // exact.js_exact
                AS BIGINT) AS over_bp,
           est.js_est >= exact.js_exact AS never_underestimates,
           CAST(3 * (exact.nr * exact.ns // {_X134_WIDTH}) * 10000
                // exact.js_exact AS BIGINT) AS env_bp,
           (est.js_est - exact.js_exact) * 10000 // exact.js_exact
               <= 3 * (exact.nr * exact.ns // {_X134_WIDTH}) * 10000
                  // exact.js_exact AS within_envelope
    FROM est, exact
"""


# --- sampling extension: weighted quantiles from the priority sample (r14) ---

_X135_K = 512
_X135_QS = (2500, 5000, 7500, 9000)
#: |sampled weighted CDF − true weighted CDF| at any threshold is a
#: SUBSET-SUM error (subset = rows with value ≤ t), so the Szegedy
#: bound gives 3/√(k−1) of total weight; one more sampled row of mass
#: (≤ ~W/k, the tau scale) can sit astride the crossing. In bp:
#: 30000/√(k−1) + 10000/k.
_X135_ENV_BP = int(30000 / (_X135_K - 1) ** 0.5) + 10000 // _X135_K


def x135_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED quantiles from the x130 priority sample — "the price
    level below which a quarter / half / three quarters of the QUANTITY
    mass sits": x123 certified unweighted quantiles from a uniform
    sample; here the DLT estimator generalizes the same harness to
    weighted CDFs, because ``F̂(t) = Σ_{v≤t} max(w, tau)`` is just an
    after-the-fact subset sum (x130's contract) — ONE k=512 weighted
    sample answers any weighted-quantile question chosen later. Exact
    weighted quantiles need a global sort of the corpus; the sample
    path sorts k rows.

    Per probed quantile: the estimate (first sample value whose
    running quantized weight crosses q·Ŵ), its TRUE weighted-CDF
    position in the corpus (one-scan certification harness, the x123
    shape), the gap, and the envelope law ``gap ≤ 30000/√(k−1) +
    10000/k`` bp (Szegedy subset-sum bound at the threshold + one
    sampled row astride the crossing). All selection is integer
    arithmetic over the quantized weights, so DuckDB replays the
    estimates exactly.

    Scale shape: TakeOrderedAndProject top-(k+1) (no corpus shuffle);
    the crossing search runs on the ≤ k-row persisted sample
    (allowlisted bounded window); the exact CDF probe is ONE corpus
    scan computing all four counts in a single partial aggregate.
    """
    from ..cache import track_persist  # noqa: PLC0415
    from ..operators.sampling import priority_sample  # noqa: PLC0415
    from ..session import scale_out  # noqa: PLC0415

    k = _X135_K
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
        F.col("l_quantity").cast("long").alias("w"),
        F.col("l_extendedprice").alias("v"),
    )
    # r14: widen the sample scan (see x130) — the probe scan below
    # stays plain
    samp = (
        priority_sample(scale_out(li), ["k1", "k2"], "w", k)
        .filter(~F.col("is_boundary"))
        .withColumn("wq", F.expr(
            f"CAST(FLOOR(w_est * CAST({_X130_QUANT} AS DOUBLE)) AS BIGINT)"))
        .select("v", "__ps_h", "wq")
        .transform(track_persist)
    )
    wtot = samp.agg(F.sum("wq").cast("long").alias("wq_tot"))
    cum = samp.withColumn(
        "cum",
        F.sum("wq").over(
            W.orderBy("v", "__ps_h")
            .rowsBetween(W.unboundedPreceding, 0)),
    )
    qs_df = spark.createDataFrame(
        [(q,) for q in _X135_QS], "q_bp long")
    crossed = (
        cum.crossJoin(F.broadcast(wtot))
        .join(F.broadcast(qs_df),
              F.expr("cum * 10000 >= q_bp * wq_tot"))
        .groupBy("q_bp")
        .agg(F.min("v").alias("est"), F.max("wq_tot").alias("wq_tot"))
    )
    # certification: ONE corpus scan computes every estimate's true
    # weighted CDF position (the x123 shape — est values ride a
    # collected ≤ |qs|-row broadcast via a literal map)
    ests = {r.q_bp: (r.est, r.wq_tot) for r in crossed.collect()}
    cdf_aggs = [
        F.sum(F.when(F.col("v") <= F.lit(ests[q][0]), F.col("w"))
              .otherwise(F.lit(0))).cast("long").alias(f"le_{q}")
        for q in _X135_QS
    ]
    probe = li.agg(F.sum("w").cast("long").alias("w_tot"), *cdf_aggs)
    rows = probe.select(F.explode(F.array(*[
        F.struct(
            F.lit(q).cast("long").alias("q_bp"),
            F.lit(float(ests[q][0])).alias("est"),
            F.expr(f"CAST(le_{q} * 10000 DIV w_tot AS BIGINT)")
            .alias("cdf_bp"),
            F.col("w_tot"),
        )
        for q in _X135_QS
    ])).alias("r")).select("r.q_bp", "r.est", "r.cdf_bp", "r.w_tot")
    return rows.select(
        "q_bp",
        F.round("est", 2).alias("est"),
        "cdf_bp", "w_tot",
        F.expr("CAST(ABS(cdf_bp - q_bp) AS BIGINT)").alias("gap_bp"),
        F.lit(_X135_ENV_BP).cast("long").alias("env_bp"),
        (F.expr("ABS(cdf_bp - q_bp)") <= _X135_ENV_BP)
        .alias("within_envelope"),
    ).orderBy("q_bp")


QUERIES["x135_weighted_quantiles"] = x135_weighted_quantiles

ORACLE["x135_weighted_quantiles"] = f"""
    WITH src AS (
        SELECT l_orderkey AS k1, l_linenumber AS k2,
               CAST(l_quantity AS BIGINT) AS w, l_extendedprice AS v
        FROM lineitem
    ),
    pri AS (
        SELECT *,
               ('0x' || substring(md5(COALESCE(CAST(concat_ws(':',
                    CAST(k1 AS VARCHAR), CAST(k2 AS VARCHAR)) AS VARCHAR),
                    '')), 1, 15))::BIGINT + 1 AS h
        FROM src
    ),
    p2 AS (
        SELECT *, CAST(w AS DOUBLE) / CAST(h AS DOUBLE) AS p FROM pri
    ),
    top AS (
        SELECT * FROM p2
        ORDER BY p DESC, h ASC, k1 ASC, k2 ASC
        LIMIT {_X135_K + 1}
    ),
    m AS (SELECT COUNT(*) AS c FROM top),
    bnd AS (SELECT p, h FROM top ORDER BY p ASC, h DESC LIMIT 1),
    samp AS (
        SELECT t.v, t.h,
               CAST(FLOOR(GREATEST(CAST(t.w AS DOUBLE),
                    CASE WHEN m.c = {_X135_K + 1}
                         THEN bnd.p * CAST({_X130_TAU_SCALE} AS DOUBLE)
                         ELSE CAST(0 AS DOUBLE) END)
                    * CAST({_X130_QUANT} AS DOUBLE)) AS BIGINT) AS wq
        FROM top t, m, bnd
        WHERE m.c < {_X135_K + 1} OR NOT (t.p = bnd.p AND t.h = bnd.h)
    ),
    wtot AS (SELECT CAST(SUM(wq) AS BIGINT) AS wq_tot FROM samp),
    cum AS (
        SELECT v, wq_tot,
               SUM(wq) OVER (ORDER BY v, h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM samp, wtot
    ),
    qs AS (SELECT CAST(unnest({list(_X135_QS)}) AS BIGINT) AS q_bp),
    crossed AS (
        SELECT qs.q_bp, MIN(cum.v) AS est
        FROM qs JOIN cum ON cum.cum * 10000 >= qs.q_bp * cum.wq_tot
        GROUP BY qs.q_bp
    ),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS w_tot FROM src),
    cdf AS (
        SELECT c.q_bp, c.est, tot.w_tot,
               CAST((SELECT COALESCE(SUM(w), 0) FROM src
                     WHERE src.v <= c.est) * 10000 // tot.w_tot
                    AS BIGINT) AS cdf_bp
        FROM crossed c CROSS JOIN tot
    )
    SELECT q_bp, ROUND(est, 2) AS est, cdf_bp, w_tot,
           CAST(ABS(cdf_bp - q_bp) AS BIGINT) AS gap_bp,
           CAST({_X135_ENV_BP} AS BIGINT) AS env_bp,
           ABS(cdf_bp - q_bp) <= {_X135_ENV_BP} AS within_envelope
    FROM cdf
    ORDER BY q_bp
"""
