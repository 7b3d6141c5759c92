"""Extension operator queries (SURVEY.md §2.9) — the LLM-data-pipeline
surface: dedup, similarity search, text analysis, multimodal, profiling.

Oracle-checked where ANSI-SQL-expressible (exact dedup, token stats,
quality ratios, fingerprints, brute-force cosine top-k, n-gram Jaccard,
multimodal hashing). Sketch/LSH operators (x07, x08, x09, x12, x15) are
*certification queries*: they run the sketch AND its exact harness in
one plan and emit exact quantities DuckDB recomputes (query counts,
true-pair counts, distinct counts) plus declared quality bounds
(recall floors, error ceilings, completeness booleans) the sketch must
meet — so estimator quality is value-hash-checked by the driver, not
just row-counted. The exact harness runs at test scale; the sketch side
is the 100 TB product path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.text import (
    fingerprint_expr,
    lang_id_expr,
    pii_counts,
    pii_redact_expr,
    quality_metrics,
    shingles_expr,
    token_count_expr,
    tokens_expr,
)
from ..operators.dedup import (
    document_grams,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
    simhash_candidate_pairs,
    simhash_signatures,
)
from ..operators.multimodal import (
    extract_features,
    frame_sample_plan,
    media_from_documents,
)
from ..operators.similarity import cosine_topk, lsh_topk
from ..sources import load_table
from ..sources.testdata import events_stream
from ._util import drain_to_memory


# --- X1: exact dedup --------------------------------------------------------

def x01_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup over documents: one output row per distinct
    content hash with the survivor (min doc_id) and multiplicity —
    the scale pattern behind the reference's hash ledger (X1)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_doc_id")
    )


# --- X4: text analysis ------------------------------------------------------

def x02_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id",
        token_count_expr("text").alias("n_tokens"),
        F.length("text").alias("n_chars"),
    ).orderBy("doc_id")


def x03_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    m = quality_metrics(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(m["punct_ratio"], 6).alias("punct_ratio"),
        F.round(m["stopword_ratio"], 6).alias("stopword_ratio"),
    ).orderBy("doc_id")


def x04_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file parquet arrives as ONE partition; the global sort then
    # range-partitions off a 1-partition sample (measured 1.3s -> 0.55s
    # at sf0.1 after widening). No-op at real scale (inputs pre-split).
    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id", fingerprint_expr("text").alias("fingerprint")
    ).orderBy("doc_id")


def x05_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID distribution — oracle-checked: the stopword
    hit-rate argmax (struct-max: ties break to the lexicographically
    larger lang code) and the han-script check are both mirrored in ANSI
    SQL; unit tests additionally pin known-language samples."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(lang_id_expr("text").alias("pred_lang"))
        .groupBy("pred_lang").agg(F.count("*").alias("n"))
        .orderBy("pred_lang")
    )


# --- X3: similarity search --------------------------------------------------

def x06_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors against the full
    corpus — the exactness baseline for ANN (X3). Vectors cast to double
    so both engines fold in double precision."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=5).orderBy("query_id", "rank")


def x07_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH ANN with in-engine recall certification
    (X3 approximate tier, driver-value-checked).

    Runs lsh_topk (16 tables × 4-bit buckets, OR-amplified) AND the exact
    x06 baseline, joins them, and emits ONE row:
    ``(n_queries, k, recall_certified)`` where ``recall_certified =
    least(recall@5, 0.8)`` — exactly 0.8 iff measured recall meets the
    declared 0.8 floor (measured 0.86 @ sf0.001, 0.98 @ sf0.01 with the
    fixed xxhash64 hyperplane family, so the value is deterministic).
    This turns the sketch's QUALITY into a hashable value the driver
    verifies, not a rows-only count; a recall regression breaks the
    oracle match. The exact baseline is the certification harness — the
    product path is the bucketed LSH join."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    approx = lsh_topk(emb, queries, k=5, num_bits=4, num_tables=16).select(
        "query_id", "neighbor_id"
    )
    marked = exact.join(approx.withColumn("__hit", F.lit(1)),
                        ["query_id", "neighbor_id"], "left")
    return marked.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.lit(5).alias("k"),
        F.least(
            F.sum(F.coalesce("__hit", F.lit(0))) / F.count("*"), F.lit(0.8)
        ).alias("recall_certified"),
    )


# --- X2: near-dup dedup -----------------------------------------------------

def x08_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection with in-engine accuracy
    certification (X2, driver-value-checked).

    The TRUE near-dup set (same-lang exact 3-gram Jaccard ≥ 0.5 — the
    x10 operator, independently computable by DuckDB) is joined against
    the MinHash candidates; the output row certifies the sketch:

    - ``n_true_pairs``  — cross-checked against DuckDB's own exact
      Jaccard count (a REAL value check, not a literal);
    - ``recall_certified = least(recall, 0.9)`` — 0.9 iff the banded
      32-perm sketch found ≥ 90% of true pairs (measured 1.0 at both
      test sfs);
    - ``est_err_bound = greatest(max |est−true| jaccard, 0.15)`` — 0.15
      iff every estimate is within the declared bound (measured ≤ 0.05;
      32 permutations ⇒ σ ≈ 0.088).

    A banding bug, hash-family change, or estimator drift breaks the
    hash match. The exact-Jaccard side is the certification harness; the
    product path at 100 TB is the banded signature join alone.

    Both sketches consume one shared persisted ``document_grams`` table —
    tokenize+shingle is the CPU-dominant stage and MinHash signatures are
    invariant to the distinct-grams form (measured 3.4s → 2.4s at
    sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = document_grams(docs, "text", "doc_id", keep_cols=("lang",)) \
        .persist()
    true_pairs = ngram_jaccard_pairs(docs, "text", "doc_id",
                                     block_col="lang", threshold=0.5,
                                     grams=grams)
    cand = minhash_neardup_pairs(docs, "text", "doc_id", threshold=0.5,
                                 grams=grams)
    j = true_pairs.join(cand, ["a", "b"], "left")
    return j.agg(
        F.count("*").alias("n_true_pairs"),
        F.least(
            F.sum(F.col("est_jaccard").isNotNull().cast("int")) / F.count("*"),
            F.lit(0.9),
        ).alias("recall_certified"),
        F.greatest(
            F.max(F.abs(F.col("est_jaccard") - F.col("jaccard"))), F.lit(0.15)
        ).alias("est_err_bound"),
    )


def x09_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding with in-engine completeness certification (X2b,
    driver-value-checked).

    The 4×16-bit quarter banding carries a pigeonhole guarantee: any pair
    within Hamming distance 3 shares at least one identical quarter, so
    the banded candidate set must EQUAL the brute-force Hamming-≤3 set.
    A banding bug — wrong quarter width, dropped band, signed-shift
    slip — flips a boolean and breaks the driver's hash match.

    Scale posture (r2 ADVICE): the brute-force side is certification,
    not product, so it runs on a DETERMINISTIC CAPPED SAMPLE —
    ``id % ceil(n / 2000) == 0`` — never on the full corpus. The mod is
    computed in-plan (broadcast one-row aggregate, no driver count()
    action), so the pairwise comparison is bounded at ~2000² regardless
    of corpus size. The pigeonhole guarantee is per-pair, so it holds on
    any id-subset; the banded restriction to the sample equals
    ``simhash_candidate_pairs`` over the sample signatures. The
    full-corpus path in this plan is the banded equi-join alone
    (``has_candidates``)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash_signatures(docs, "text", "doc_id")
    sigs = sigs.persist()
    banded = simhash_candidate_pairs(sigs, max_hamming=3)

    sample_cap = 2000
    smod = sigs.agg(
        F.greatest(F.lit(1), F.ceil(F.count("*") / sample_cap))
        .cast("long").alias("smod")
    )
    sample = (
        sigs.crossJoin(F.broadcast(smod))
        .filter(F.col("id") % F.col("smod") == 0)
        .select("id", "simhash")
        .persist()
    )
    banded_sample = simhash_candidate_pairs(sample, max_hamming=3)
    a, b = sample.alias("a"), sample.alias("b")
    brute = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a"), F.col("b.id").alias("b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    missing = brute.select("a", "b").join(
        banded_sample.select("a", "b"), ["a", "b"], "left_anti"
    )
    return (
        brute.agg(F.count("*").alias("n_brute"))
        .crossJoin(banded_sample.agg(F.count("*").alias("n_banded")))
        .crossJoin(missing.agg(F.count("*").alias("n_missing")))
        .crossJoin(banded.agg(F.count("*").alias("n_banded_full")))
        .select(
            (F.col("n_missing") == 0).alias("banding_complete"),
            (F.col("n_banded") == F.col("n_brute")).alias("counts_equal"),
            (F.col("n_banded_full") > 0).alias("has_candidates"),
        )
    )


def x10_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.2 within same-lang blocks — the
    verification stage of near-dedup, oracle-checked end to end."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", block_col="lang",
                                threshold=0.2)
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard")).orderBy("a", "b")


# --- X5: multimodal ---------------------------------------------------------

def x11_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: documents → media table (payload bytes +
    typed metadata) → feature extraction through the media module's
    Arrow row adapter (mapInArrow). n_bytes + sha256 are oracle-checked;
    the stand-in feature vector is not (it exists to pin batch shapes)."""
    docs = load_table(spark, sf_dir, "documents")
    media = media_from_documents(docs)
    feats = extract_features(media)
    return feats.select("media_id", "n_bytes", "sha").orderBy("media_id")


# --- X6: profiling ----------------------------------------------------------

def x12_approx_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch profile with in-engine tolerance certification (X6,
    driver-value-checked).

    One pass computes both the sketches (HLL++ distinct, KLL median —
    the 100 TB product path: mergeable, bounded-memory) and the exact
    answers (the certification harness). Output: one row per metric —
    ``(metric, exact_value, sketch_ok)``. The exact distinct counts are
    REAL cross-engine value checks (DuckDB recomputes them); sketch_ok
    certifies |HLL−exact| ≤ 5%·exact (measured ≤ 1% at rsd=0.02) and
    |approx median − exact median| ≤ 0.5%·exact (measured ≤ 0.03%).
    The exact median itself is not emitted — Spark and DuckDB interpolate
    with different float orderings, so it would add hash noise, while the
    booleans are stable."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("d_ord"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("a_ord"),
        F.countDistinct("l_partkey").alias("d_part"),
        F.approx_count_distinct("l_partkey", 0.02).alias("a_part"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("m_ex"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("a_m"),
    )
    return g.select(
        F.expr(
            "stack(4, "
            "'n_rows', n_rows, true, "
            "'distinct_l_orderkey', d_ord, abs(a_ord - d_ord) <= 0.05 * d_ord, "
            "'distinct_l_partkey', d_part, abs(a_part - d_part) <= 0.05 * d_part, "
            "'median_l_extendedprice', CAST(NULL AS BIGINT), "
            "abs(a_m - m_ex) <= 0.005 * m_ex"
            ") AS (metric, exact_value, sketch_ok)"
        )
    ).orderBy("metric")


QUERIES = {
    "x01_exact_dedup_docs": x01_exact_dedup_docs,
    "x02_token_stats": x02_token_stats,
    "x03_quality_scores": x03_quality_scores,
    "x04_fingerprints": x04_fingerprints,
    "x05_lang_id": x05_lang_id,
    "x06_cosine_topk": x06_cosine_topk,
    "x07_lsh_topk": x07_lsh_topk,
    "x08_minhash_neardup": x08_minhash_neardup,
    "x09_simhash_pairs": x09_simhash_pairs,
    "x10_ngram_jaccard": x10_ngram_jaccard,
    "x11_media_features": x11_media_features,
    "x12_approx_profile": x12_approx_profile,
}

ORACLE = {
    "x01_exact_dedup_docs": """
        SELECT md5(text) AS content_hash,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY keep_doc_id
    """,
    "x02_token_stats": r"""
        SELECT doc_id,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
               CAST(length(text) AS INTEGER) AS n_chars
        FROM documents ORDER BY doc_id
    """,
    "x03_quality_scores": r"""
        WITH t AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   length(text) - length(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')) AS n_punct,
                   CASE WHEN trim(text) = '' THEN []
                        ELSE string_split_regex(trim(text), '\s+') END AS toks
            FROM documents
        )
        SELECT doc_id,
               ROUND(n_punct / GREATEST(n_chars, 1), 6) AS punct_ratio,
               ROUND(len(list_filter(toks, t -> lower(t) IN
                     ('the','a','an','and','or','of','to','in','is','it',
                      'that','for','on','with','as','was','at','by','be')))
                     / GREATEST(len(toks), 1), 6) AS stopword_ratio
        FROM t ORDER BY doc_id
    """,
    "x04_fingerprints": r"""
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
        FROM documents ORDER BY doc_id
    """,
    "x06_cosine_topk": """
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            -- zero-norm guard, mirroring cosine_topk: a zero vector
            -- has no direction (cosine 0/0), and engines disagree on
            -- how NaN ranks — both sides exclude it
            WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])) > 0
        ),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND(list_dot_product(q.e, c.e) /
                         (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))),
                         6) AS cosine
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 10
        )
        SELECT query_id, neighbor_id, rank, cosine FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
            ) AS INTEGER) AS rank
            FROM pairs
        ) WHERE rank <= 5
        ORDER BY query_id, rank
    """,
    "x10_ngram_jaccard": r"""
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
              (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.2
        ORDER BY a, b
    """,
    "x11_media_features": """
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
               sha256(text) AS sha
        FROM documents ORDER BY media_id
    """,
    # Certification oracles: DuckDB recomputes every exact quantity
    # (query count, true near-dup pair count, exact distinct counts) and
    # pins the declared quality bounds the Spark side certifies in-engine
    # (recall floors / error ceilings / completeness booleans). A sketch
    # regression changes the Spark value away from the declared constant
    # and the driver hash mismatches.
    "x07_lsh_topk": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               5 AS k,
               0.8 AS recall_certified
        FROM embeddings WHERE vec_id < 10
          -- zero-norm guard mirroring cosine_topk (see x06)
          AND list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])) > 0
    """,
    "x08_minhash_neardup": r"""
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
        SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
               0.9 AS recall_certified,
               0.15 AS est_err_bound
        FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
              (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
    """,
    "x09_simhash_pairs": """
        SELECT TRUE AS banding_complete,
               TRUE AS counts_equal,
               TRUE AS has_candidates
    """,
    "x12_approx_profile": """
        SELECT * FROM (
            SELECT 'n_rows' AS metric, CAST(COUNT(*) AS BIGINT) AS exact_value,
                   TRUE AS sketch_ok FROM lineitem
            UNION ALL
            SELECT 'distinct_l_orderkey', CAST(COUNT(DISTINCT l_orderkey) AS BIGINT),
                   TRUE FROM lineitem
            UNION ALL
            SELECT 'distinct_l_partkey', CAST(COUNT(DISTINCT l_partkey) AS BIGINT),
                   TRUE FROM lineitem
            UNION ALL
            SELECT 'median_l_extendedprice', CAST(NULL AS BIGINT), TRUE
        ) ORDER BY metric
    """,
}


# ===========================================================================
# Second wave: TF-IDF, centroids, IVF ANN
# ===========================================================================

from pyspark.sql.window import Window as W  # noqa: E402

from ..operators.similarity import ivf_topk  # noqa: E402
from ..session import scale_out  # noqa: E402


def x13_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — TF-IDF as pure DataFrame algebra (no pyspark.ml fit needed):
    term frequency per (doc, term), document frequency per term, smoothed
    idf = ln((N+1)/(df+1)) + 1, top-3 terms per doc by tfidf.

    Scale shape: one shuffle for the (doc,term) count, one broadcast-able
    df-per-term aggregate, one window partitioned by doc. The df table is
    |vocab|-sized — tiny relative to the corpus at any scale.
    """
    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    terms = docs.select(
        "doc_id", F.explode(tokens_expr(F.lower(F.col("text")))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # N rides along as a broadcast one-row cross join — fully lazy, no
    # driver-side count() action splitting the job in two
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    df_t = (
        terms.select("doc_id", "term").distinct().groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
    )
    idf = (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0)
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .withColumn("tfidf", F.round(F.col("tf") * idf, 6))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "rank", "tfidf")
        .orderBy("doc_id", "rank")
    )


def x14_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 companion — per-label embedding centroid (elementwise mean) via
    posexplode + groupBy(label, pos): the distributed reduction shape for
    vector aggregation (partial avg per partition, no vector UDAF)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.transform("embedding", lambda x: x.cast("double")))
            .alias("pos", "v"),
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("centroid_v"))
        .orderBy("label", "pos")
    )


def x15_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path — IVF ANN (coarse quantizer buckets + n_probe=2
    re-rank) with in-engine recall certification, same contract as x07:
    one row ``(n_queries, k, recall_certified)``,
    ``recall_certified = least(recall@5 vs exact, 0.7)`` — exactly 0.7
    iff IVF meets the declared floor (measured 0.86 @ sf0.001, 0.80 @
    sf0.01; deterministic seeds). The exact baseline is the harness; the
    probed bucket join is the product path."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    approx = ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=2).select(
        "query_id", "neighbor_id"
    )
    marked = exact.join(approx.withColumn("__hit", F.lit(1)),
                        ["query_id", "neighbor_id"], "left")
    return marked.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.lit(5).alias("k"),
        F.least(
            F.sum(F.coalesce("__hit", F.lit(0))) / F.count("*"), F.lit(0.7)
        ).alias("recall_certified"),
    )


#: x115 quality bounds — measured recall@5 of int8-quantized cosine vs
#: the float baseline: 0.98 @ sf0.001, 0.98 @ sf0.01, 1.0 @ sf0.1;
#: measured max |qcos - cos| over the exact top-5 pairs: 0.0025 at
#: every test SF. Floors set with >3x margin.
_X115_RECALL_FLOOR = 0.9
_X115_ERR_BOUND = 0.01


def x115_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 storage-scale path — int8-quantized cosine top-k
    (operators/similarity.py::quantize_embeddings /
    quantized_cosine_topk) with THREE certifications in one row:

    - ``sum_qnorm2`` — the corpus-wide sum of quantized squared norms,
      a pure-integer invariant DuckDB replays END-TO-END (per-vector
      scale, round-half-away, clamp): any drift in the quantization
      arithmetic breaks the hash. Integer dots are exact in double, so
      unlike the float fold this value is bit-identical across engines,
      layouts, and summation orders.
    - ``recall_certified = least(recall@5 vs float baseline, 0.9)`` —
      exactly 0.9 iff the 4x-smaller int8 path still finds >=90% of
      the true neighbors (measured 0.98-1.0).
    - ``err_certified = greatest(max |qcos - cos| over the true top-5
      pairs, 0.01)`` — exactly 0.01 iff every quantized score is
      within the declared ceiling of its float score (measured 0.0025).

    Why at 100 TB: embeddings dominate the bytes of a similarity
    pipeline; int8 cuts scan/shuffle/cache 4x while this face pins the
    ranking cost of that compression to a certified bound instead of a
    hope. The float baseline is the harness; the quantized path is the
    product path.
    """
    from ..operators.similarity import (
        dot_expr,
        norm_expr,
        quantize_embeddings,
        quantized_cosine_topk,
    )

    # Persist BOTH shared frames (r13 RepeatedScan rule: the original
    # composition re-scanned embeddings 9× — queries / float baseline /
    # quantized top-k / stats / both error-join sides each re-read the
    # source). The float frame is certification harness (at 100 TB only
    # the quantized path runs); the quantized frame is the 4×-smaller
    # product-path projection with three consumers.
    # r15 (the x131 cache-width hazard, VERDICT item 6): the embeddings
    # scan is ONE partition (single-file parquet), so the persisted
    # frame — and with it every brute-force cosine stage (broadcast
    # nested-loop join + interpreted higher-order dot products, the
    # face's CPU peak) — ran on one core. scale_out widens the scan to
    # the cluster's parallelism before the persist; no-op at real scale
    # where the scan already has ≥ parallelism splits.
    from ..session import scale_out  # noqa: PLC0415

    # (probe the bare scan, not the HOF projection — physical-planning
    # the lambda transform per build costs ~0.3 s of pure Catalyst)
    emb = scale_out(
        load_table(spark, sf_dir, "embeddings"), "vec_id"
    ).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    ).persist()
    queries = emb.filter(F.col("vec_id") < 10)
    widen = F.transform(F.col("qvec"), lambda x: x.cast("double"))
    qv = quantize_embeddings(emb).filter(F.col("qscale") > 0).select(
        "vec_id", widen.alias("qd")
    ).persist()
    stats = qv.agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.sum(
            F.aggregate(
                F.transform("qd", lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).cast("bigint").alias("sum_qnorm2"),
    )
    # r15: `exact` feeds TWO consumers (the recall join and the error
    # join) — unpersisted, each re-ran the full float brute-force pass
    # (the face's single most expensive stage, twice). ≤ 50 rows cached.
    exact = cosine_topk(emb, queries, k=5).persist()
    qtop = quantized_cosine_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    recall = (
        exact.select("query_id", "neighbor_id")
        .join(qtop, ["query_id", "neighbor_id"], "left")
        .agg(
            F.countDistinct("query_id").cast("bigint").alias("n_queries"),
            F.lit(5).alias("k"),
            F.least(
                F.sum(F.coalesce("__hit", F.lit(0))) / F.count("*"),
                F.lit(_X115_RECALL_FLOOR),
            ).alias("recall_certified"),
        )
    )
    qa = qv.select(F.col("vec_id").alias("query_id"), F.col("qd").alias("qa"))
    qb = qv.select(F.col("vec_id").alias("neighbor_id"), F.col("qd").alias("qb"))
    err = (
        exact.join(qa, "query_id").join(qb, "neighbor_id")
        .select(
            (F.round(
                dot_expr("qa", "qb") / (norm_expr("qa") * norm_expr("qb")), 6
            ) - F.col("cosine")).alias("__d")
        )
        .agg(
            F.greatest(F.max(F.abs("__d")), F.lit(_X115_ERR_BOUND))
            .alias("err_certified")
        )
    )
    return stats.crossJoin(recall).crossJoin(err).select(
        "n_vectors", "n_queries", "k", "sum_qnorm2",
        "recall_certified", "err_certified",
    )


QUERIES.update({
    "x13_tfidf_top_terms": x13_tfidf_top_terms,
    "x14_label_centroids": x14_label_centroids,
    "x15_ivf_topk": x15_ivf_topk,
    "x115_quantized_ann": x115_quantized_ann,
})

ORACLE.update({
    "x13_tfidf_top_terms": r"""
        WITH terms AS (
            SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
            FROM documents
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
            FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, rank, tfidf FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
            ) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= 3
        ORDER BY doc_id, rank
    """,
    "x15_ivf_topk": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               5 AS k,
               0.7 AS recall_certified
        FROM embeddings WHERE vec_id < 10
          -- zero-norm guard mirroring cosine_topk (see x06)
          AND list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])) > 0
    """,
    "x115_quantized_ann": f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            -- zero-norm guard mirroring cosine_topk (see x06); a
            -- nonzero vector always quantizes to a nonzero qvec (its
            -- absmax element maps to +-127), so qscale > 0 on the
            -- Spark side keeps exactly these rows
            WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[])) > 0
        ),
        qv AS (
            -- the quantizer, replayed end-to-end: per-vector symmetric
            -- scale absmax/127, round half-away (both engines), clamp.
            -- All downstream sums are integers < 2^53 in double, so
            -- sum_qnorm2 is bit-exact regardless of summation order.
            SELECT vec_id,
                   list_transform(
                       e, x -> least(127.0, greatest(-127.0,
                           round(x / (list_max(list_transform(e, y -> abs(y)))
                                      / 127.0))))
                   ) AS qd
            FROM v
        )
        SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_vectors,
               CAST((SELECT COUNT(*) FROM v WHERE vec_id < 10) AS BIGINT)
                   AS n_queries,
               5 AS k,
               CAST((SELECT SUM(list_dot_product(qd, qd)) FROM qv)
                   AS BIGINT) AS sum_qnorm2,
               {_X115_RECALL_FLOOR} AS recall_certified,
               {_X115_ERR_BOUND} AS err_certified
    """,
    "x14_label_centroids": """
        SELECT label, CAST(i - 1 AS INTEGER) AS pos,
               ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_v
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
})


# ===========================================================================
# Third wave: embedding-cosine near-dup, streaming-as-batch with oracle
# ===========================================================================


def x16_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 — embedding-cosine near-duplicate pairs: same-label blocking,
    exact cosine ≥ 0.3 within each block (oracle-checked).

    Scale shape: norms are materialized per vector *before* the self-join
    (never recomputed pair-wise); the block key bounds the pair space the
    same way LSH bands do — at 100 TB the label is replaced by a coarse
    quantizer bucket (see operators/similarity.ivf_topk). The probe side
    is widened to full parallelism and the build side broadcast, so the
    pair generation + cosine projection run map-side at 32-way
    parallelism with no shuffle (a shuffled self-join here gets
    AQE-coalesced to ONE post-shuffle partition — the pair-expansion
    compute is invisible to AQE's size-based coalescing; measured 6.1s →
    0.8s at sf0.1). The broadcast is SIZE-GATED
    (``spark.graft.neardup.broadcastMaxRows``, default 2M rows): above
    the gate the plan switches to a co-partitioned self-join on the
    block key with an explicit partition count (exempt from AQE
    coalescing), so the same query survives a corpus that no longer fits
    in a broadcast — the 100 TB failure mode the broadcast-only plan
    had. The dot
    product stays the zip_with/aggregate fold — benchmarked FASTER than a
    64-term unrolled element_at expression (codegen handles the HOF loop
    better than 128 null-checked array accesses).
    """
    from ..operators.similarity import dot_expr

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    v = v.select("vec_id", "label", "e", F.sqrt(dot_expr("e", "e")).alias("norm"))

    # Size gate: broadcast only while the build side is provably small.
    # Parquet row-count is a metadata-only job, so the probe is ~free; the
    # bound is a conf so a cluster deployment can tune it to its
    # spark.sql.autoBroadcastJoinThreshold-equivalent.
    gate = int(spark.conf.get("spark.graft.neardup.broadcastMaxRows", "2000000"))
    n_vecs = emb.count()
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if n_vecs <= gate:
        a = scale_out(v).alias("a")
        b = F.broadcast(v).alias("b")
    else:
        # Scale path: co-partitioned self-join on the block key. The
        # explicit numPartitions keeps AQE from coalescing the
        # pair-expanding stage to one partition (its shuffle *bytes* are
        # tiny; its per-pair compute is what matters). The shuffle_hash
        # hint pins the strategy: without it Catalyst would re-broadcast
        # any side whose *stats* fall under autoBroadcastJoinThreshold,
        # which is exactly the plan the gate exists to avoid.
        blocked = v.repartition(shuffle_n, "label")
        a = blocked.alias("a")
        b = blocked.hint("shuffle_hash").alias("b")
    # try_divide: a zero-norm vector would THROW under ANSI (0/0); as
    # NULL the >= 0.3 filter drops the pair, matching the oracle's NaN
    cos = F.try_divide(dot_expr(F.col("a.e"), F.col("b.e")),
                       F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= 0.3)  # filter on the unrounded value (oracle parity)
        .select(
            F.col("a.vec_id").alias("a"),
            F.col("b.vec_id").alias("b"),
            F.round("__cos", 6).alias("cosine"),
        )
        .orderBy("a", "b")
    )


def x17_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — Structured Streaming tumbling-window counts, executed to
    completion with an availableNow trigger and returned as a batch
    DataFrame, so the streaming engine itself sits behind the DuckDB
    oracle gate (same plan a 24/7 micro-batch deployment would run;
    availableNow processes the backlog and stops).
    """
    from ..streaming.windows import tumbling_counts

    agg = tumbling_counts(
        events_stream(spark, sf_dir), width="1 hour", watermark="2 hours"
    )
    return drain_to_memory(agg, "x17", "complete").orderBy(
        "window_start", "event_type")


def x24_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — stateful streaming dedup through the real engine:
    ``dropDuplicatesWithinWatermark`` over a deliberately DOUBLED stream
    (the events source unioned with itself, so every event arrives
    twice — the at-least-once delivery the operator exists for), run to
    completion with availableNow and value-checked against DuckDB's
    distinct-events answer. The watermark TTLs dedup state — the
    bounded-memory replacement for the batch hash ledger (state size is
    the duplicate horizon, not corpus history)."""
    from ..streaming.windows import dedup_within_watermark

    doubled = events_stream(spark, sf_dir).unionAll(
        events_stream(spark, sf_dir)
    )
    dd = dedup_within_watermark(doubled, ["event_id"], watermark="2 hours")
    out = dd.select(
        "event_id", F.unix_micros("ts").alias("ts_us"),
        "user_id", "event_type", "value",
    )
    return drain_to_memory(out, "x24", "append").orderBy("event_id")


def x25_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — native ``session_window`` aggregation through the streaming
    engine (availableNow), value-checked against DuckDB's lag-gap
    sessionization. Session = events per user with < 30 min between
    them; session_end = last event + gap (Spark's definition, mirrored
    in the oracle). The streaming twin of the batch q19."""
    from ..streaming.windows import session_counts

    agg = session_counts(
        events_stream(spark, sf_dir), gap="30 minutes", watermark="4 hours"
    )
    out = agg.select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
    )
    return drain_to_memory(out, "x25", "complete").orderBy(
        "user_id", "start_us")


QUERIES.update({
    "x16_embedding_neardup": x16_embedding_neardup,
    "x17_stream_tumbling": x17_stream_tumbling,
    "x24_stream_dedup": x24_stream_dedup,
    "x25_stream_sessions": x25_stream_sessions,
})

ORACLE.update({
    "x16_embedding_neardup": """
        WITH v AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS norm
            FROM embeddings
        )
        SELECT a.vec_id AS a, b.vec_id AS b,
               ROUND(list_dot_product(a.e, b.e) / (a.norm * b.norm), 6) AS cosine
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e) / (a.norm * b.norm) >= 0.3
        ORDER BY a, b
    """,
    "x17_stream_tumbling": """
        SELECT make_timestamp(CAST(3600 * floor(epoch(ts) / 3600)
                                   * 1000000 AS BIGINT)) AS window_start,
               make_timestamp(CAST(3600 * (floor(epoch(ts) / 3600) + 1)
                                   * 1000000 AS BIGINT)) AS window_end,
               event_type,
               COUNT(*) AS n,
               ROUND(SUM(value), 4) AS total_value
        FROM events
        GROUP BY 1, 2, 3 ORDER BY 1, 3
    """,
    "x24_stream_dedup": """
        SELECT event_id,
               CAST(epoch_us(ts) AS BIGINT) AS ts_us,
               user_id, event_type, value
        FROM events ORDER BY event_id
    """,
    "x25_stream_sessions": """
        WITH e AS (
            SELECT user_id, make_timestamp(CAST(epoch_us(ts) AS BIGINT)) AS ts
            FROM events
        ),
        marks AS (
            SELECT user_id, ts,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM marks
        )
        SELECT user_id,
               CAST(epoch_us(MIN(ts)) AS BIGINT) AS start_us,
               CAST(epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS BIGINT) AS end_us,
               COUNT(*) AS n_events
        FROM sess
        GROUP BY user_id, sid
        ORDER BY user_id, start_us
    """,
})


def x18_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — BPE-ish token counting (words | numbers | single punctuation),
    the deterministic LLM-tokenizer-count proxy, oracle-checked against
    DuckDB's regexp_extract_all."""
    from ..functions.text import bpe_token_count_expr

    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id", bpe_token_count_expr("text").alias("n_bpe_tokens")
    ).orderBy("doc_id")


QUERIES.update({"x18_bpe_token_count": x18_bpe_token_count})

ORACLE.update({
    "x18_bpe_token_count": r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                    '[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]')) AS INTEGER) AS n_bpe_tokens
        FROM documents ORDER BY doc_id
    """,
})


def x19_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, engine-independent train/test split — a training-data
    pipeline staple. The split key is the first hex digit of the
    *content* fingerprint (md5 of normalized text, same expression as
    x04): digits 0-b → train (~75%), c-f → test (~25%). Hashing content
    rather than doc_id makes membership reproducible across runs,
    engines, repartitionings, AND id reassignment — a re-crawl that
    renumbers documents keeps every text on its original side, so eval
    sets never bleed into train (an id-hash split churns exactly like
    ``rand()`` the moment ids are reassigned). Oracle-checked end to end."""
    from ..functions.text import fingerprint_expr

    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    digit = F.substring(fingerprint_expr("text"), 1, 1)
    split = F.when(digit < F.lit("c"), F.lit("train")).otherwise(F.lit("test"))
    return (
        docs.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("split", "lang")
    )


QUERIES.update({"x19_train_test_split": x19_train_test_split})

ORACLE.update({
    "x19_train_test_split": r"""
        SELECT CASE WHEN substring(md5(trim(regexp_replace(regexp_replace(
                        lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g'))),
                    1, 1) < 'c'
                    THEN 'train' ELSE 'test' END AS split,
               lang,
               COUNT(*) AS n_docs
        FROM documents
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
})


def x20_per_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group sampling — per-source capping / corpus
    rebalancing for training-data mixes. Rows are ranked inside each
    source by a content hash (md5 of the id) and the top 10 kept: a
    uniform-ish, engine-independent, re-run-stable sample (rand()-based
    sampling changes membership every run and breaks incremental
    reprocessing). One shuffle on the group key; the window's sort rides
    the shuffle. Oracle-checked."""
    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 10)
        .select("source", "sample_rank", "doc_id")
        .orderBy("source", "sample_rank")
    )


QUERIES.update({"x20_per_source_sample": x20_per_source_sample})

ORACLE.update({
    "x20_per_source_sample": """
        SELECT source, sample_rank, doc_id FROM (
            SELECT source, doc_id,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS INTEGER) AS sample_rank
            FROM documents
        ) WHERE sample_rank <= 10
        ORDER BY source, sample_rank
    """,
})

ORACLE.update({
    # mirrors functions/text.lang_id_expr exactly: han-ratio > 0.2 -> zh;
    # else argmax of per-language stopword hit-rate with Spark's
    # struct-max tie-break (lexicographically larger lang wins a tie:
    # fr > es > en > de); no hits -> und.
    "x05_lang_id": r"""
        WITH scored AS (
            SELECT
                length(regexp_replace(text, '[^一-鿿]', '', 'g'))
                    * 1.0 / GREATEST(length(text), 1) AS han_ratio,
                [x * 1.0 / GREATEST(len(string_split_regex(trim(lower(text)), '\s+')), 1)
                 for x in [
                    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                        t -> t IN ('the','and','of','to','is','in','that','it','was','for'))),
                    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                        t -> t IN ('le','la','les','et','de','des','un','une','est','dans'))),
                    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                        t -> t IN ('el','la','los','las','de','que','y','es','en','un'))),
                    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                        t -> t IN ('der','die','das','und','ist','von','ein','eine','mit','nicht')))
                 ]] AS s  -- [en, fr, es, de]
            FROM documents
        ),
        pred AS (
            SELECT CASE
                WHEN han_ratio > 0.2 THEN 'zh'
                WHEN GREATEST(s[1], s[2], s[3], s[4]) > 0 THEN
                    CASE GREATEST(s[1], s[2], s[3], s[4])
                        WHEN s[2] THEN 'fr'
                        WHEN s[3] THEN 'es'
                        WHEN s[1] THEN 'en'
                        ELSE 'de'
                    END
                ELSE 'und'
            END AS pred_lang
            FROM scored
        )
        SELECT pred_lang, COUNT(*) AS n FROM pred GROUP BY 1 ORDER BY 1
    """,
})


def x21_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-duplicate clusters: the iterative connected-
    components operator (operators/graph.py — distributed min-label
    propagation) over the exact n-gram-Jaccard pair graph (x10's edges),
    every document labeled with its cluster's min doc_id (singletons are
    their own cluster). Oracle-checked against a recursive-CTE closure in
    DuckDB — the iterative DataFrame algorithm must converge to the same
    fixpoint SQL recursion reaches."""
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.graph import neardup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id",
                                block_col="lang", threshold=0.2)
    return (
        neardup_clusters(docs, pairs.select("a", "b"), "doc_id")
        .select("doc_id", "cluster_id")
        .orderBy("doc_id")
    )


QUERIES.update({"x21_neardup_clusters": x21_neardup_clusters})

ORACLE.update({
    "x21_neardup_clusters": r"""
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
        comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
        SELECT doc_id,
               COALESCE(comp.component, doc_id) AS cluster_id
        FROM documents LEFT JOIN comp ON documents.doc_id = comp.node
        ORDER BY doc_id
    """,
})


def x22_curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation summary over the exact (SQL-expressible) stages of
    jobs/corpus_pipeline: token-count gate → PII redaction → fingerprint
    exact-dedup (min-id survivor) → content-hash split → per-(split,
    lang) counts. The near-dup stage is sketch-based and therefore
    lives in the job + its tests, not this oracle. r7 review: the
    summary now mirrors the pipeline's ACTUAL ordering — redaction
    BEFORE fingerprinting (so contact-string-only variants collapse)
    and the split keyed on the CONTENT fingerprint (x19 policy), not
    on md5(doc_id) which churns on renumbering."""
    from ..functions.text import pii_redact_expr

    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    gated = docs.filter(token_count_expr("text") >= 5)
    redacted = gated.withColumn("text", pii_redact_expr("text"))
    with_fp = redacted.withColumn("fingerprint", fingerprint_expr("text"))
    survivors = (
        with_fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(with_fp, ["fingerprint", "doc_id"])
    )
    # CONTENT-hash split (r7 review): the first version hashed doc_id,
    # which is the exact churn-on-renumbering anti-pattern x19's own
    # docstring forbids — and diverged from the split corpus_pipeline
    # actually writes. The fingerprint is already computed upstream;
    # its first hex digit is the x19 policy.
    digit = F.substring(F.col("fingerprint"), 1, 1)
    return (
        survivors.withColumn(
            "split",
            F.when(digit < F.lit("c"), F.lit("train")).otherwise(F.lit("test")),
        )
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("split", "lang")
    )


QUERIES.update({"x22_curation_stats": x22_curation_stats})

ORACLE.update({
    "x22_curation_stats": r"""
        WITH gated AS (
            SELECT doc_id, lang,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                       '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}', '<PHONE>', 'g'),
                     '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
                   AS text
            FROM documents
            WHERE CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END >= 5
        ),
        fp AS (
            SELECT doc_id, lang,
                   md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
            FROM gated
        ),
        survivors AS (
            SELECT g.* FROM fp g
            JOIN (SELECT fingerprint, MIN(doc_id) AS doc_id
                  FROM fp GROUP BY 1) k
              ON g.fingerprint = k.fingerprint AND g.doc_id = k.doc_id
        )
        SELECT CASE WHEN substring(fingerprint, 1, 1) < 'c'
                    THEN 'train' ELSE 'test' END AS split,
               lang,
               COUNT(*) AS n_docs
        FROM survivors
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
})


def x23_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 — vocabulary building: stopword-removed unigram counts, top 5
    terms per language by frequency (the CountVectorizer-style corpus
    statistic as plain DataFrame algebra). One shuffle for the (lang,
    term) count, one window for the top-k."""
    from ..functions.text import ENGLISH_STOPWORDS

    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    terms = (
        docs.select("lang", F.explode(tokens_expr(F.lower(F.col("text")))).alias("term"))
        .filter(~F.col("term").isin(*ENGLISH_STOPWORDS) & (F.col("term") != ""))
    )
    counts = terms.groupBy("lang", "term").agg(F.count("*").alias("freq"))
    w = W.partitionBy("lang").orderBy(F.desc("freq"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "rank", "term", "freq")
        .orderBy("lang", "rank")
    )


QUERIES.update({"x23_vocab_top_terms": x23_vocab_top_terms})

ORACLE.update({
    "x23_vocab_top_terms": r"""
        WITH terms AS (
            SELECT lang,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
            FROM documents WHERE trim(text) <> ''
        ),
        counts AS (
            SELECT lang, term, COUNT(*) AS freq FROM terms
            WHERE term NOT IN ('the','a','an','and','or','of','to','in','is','it',
                               'that','for','on','with','as','was','at','by','be')
              AND term <> ''
            GROUP BY 1, 2
        )
        SELECT lang, rank, term, freq FROM (
            SELECT *, CAST(ROW_NUMBER() OVER (
                PARTITION BY lang ORDER BY freq DESC, term ASC
            ) AS INTEGER) AS rank
            FROM counts
        ) WHERE rank <= 5
        ORDER BY lang, rank
    """,
})


# --- X4+: corpus-curation signals (repetition, PII, boilerplate) ------------

def x26_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals, aggregated per
    language (X4 'quality scoring', repetition family).

    Per doc: token count, distinct-token count, top-token frequency,
    bigram count, distinct-bigram count — all computed MAP-SIDE as
    array expressions over the doc's token-hash array (sort + run-length
    fold for the top frequency), so the only shuffle carries ONE 5-long
    row per document into the per-language aggregate. The explode →
    (doc, gram) groupBy alternative shuffles O(total tokens) rows —
    ~50× more here — and pays 4 extra stage round-trips (measured 1.26s
    → 0.8s at sf0.1); it only wins for pathological single documents
    too large for one task's memory.

    Counting happens on 64-bit token hashes, not strings: the counts
    are hash-invariant (up to 64-bit collisions, same documented policy
    as document_grams), and the bigram key is a struct of adjacent
    token hashes — no string concatenation anywhere in the plan.

    Flags mirror Gopher's repetition filters: ``n_top_heavy`` = docs
    whose most frequent token exceeds 10% of tokens; ``n_repetitive`` =
    docs whose duplicate-bigram fraction exceeds 20%."""
    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    # persisted: the five metric expressions below reference ``th`` from
    # inside HOF lambdas, which get no subexpression elimination — an
    # unmaterialized ``th`` re-runs tokenize+hash per reference (the
    # long-array cache is tiny, unlike the string-array caches that
    # motivated hashed grams)
    # the empty-doc filter runs on RAW text (cheap, pushes toward the
    # scan) — filtering on size(th) would predicate-push the whole
    # tokenize+hash tree into the filter and evaluate it twice per row
    toks = docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id", "lang",
        F.transform(tokens_expr(F.lower(F.col("text"))),
                    lambda t: F.xxhash64(t)).alias("th"),
    ).persist()

    # run-length fold over the sorted hash array: acc = (prev, run, best)
    sorted_th = F.array_sort("th")
    top_freq = F.aggregate(
        sorted_th,
        F.struct(F.lit(None).cast("long").alias("prev"),
                 F.lit(0).cast("long").alias("run"),
                 F.lit(0).cast("long").alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    # bigram structs from adjacent hashes; zip_with pads the shorter side
    # with null, so guard the 1-token case against a phantom (h, null)
    bigrams = F.when(
        F.size("th") >= 2,
        F.zip_with(F.slice("th", 1, F.size("th") - 1),
                   F.slice("th", 2, F.size("th") - 1),
                   lambda x, y: F.struct(x.alias("a"), y.alias("b"))),
    ).otherwise(F.array().cast("array<struct<a:bigint,b:bigint>>"))

    per_doc = toks.select(
        "lang",
        F.size("th").alias("n_tokens"),
        F.size(F.array_distinct("th")).alias("n_distinct_tokens"),
        top_freq.alias("top_freq"),
        F.greatest(F.size("th") - 1, F.lit(0)).alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_distinct_bigrams"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("n_distinct_tokens").alias("sum_distinct_tokens"),
            F.sum("n_bigrams").alias("sum_bigrams"),
            F.sum("n_distinct_bigrams").alias("sum_distinct_bigrams"),
            F.sum((F.col("top_freq") * 10 > F.col("n_tokens")).cast("long"))
                .alias("n_top_heavy"),
            F.sum(((F.col("n_bigrams") - F.col("n_distinct_bigrams")) * 5
                   > F.col("n_bigrams")).cast("long")).alias("n_repetitive"),
        )
        .orderBy("lang")
    )


QUERIES.update({"x26_repetition_signals": x26_repetition_signals})

ORACLE.update({
    "x26_repetition_signals": r"""
        WITH toks AS (
            SELECT doc_id, lang,
                   string_split_regex(trim(lower(text)), '\s+') AS l
            FROM documents WHERE trim(text) <> ''
        ),
        tok_stats AS (
            SELECT doc_id, lang, SUM(c) AS n_tokens,
                   COUNT(*) AS n_distinct_tokens, MAX(c) AS top_freq
            FROM (
                SELECT doc_id, lang, tok, COUNT(*) AS c
                FROM (SELECT doc_id, lang, unnest(l) AS tok FROM toks)
                GROUP BY 1, 2, 3
            ) GROUP BY 1, 2
        ),
        bg_stats AS (
            SELECT doc_id, SUM(c) AS n_bigrams,
                   COUNT(*) AS n_distinct_bigrams
            FROM (
                SELECT doc_id, bg, COUNT(*) AS c
                FROM (
                    SELECT doc_id,
                           unnest(list_transform(range(1, len(l)),
                                                 i -> l[i] || ' ' || l[i + 1])) AS bg
                    FROM toks WHERE len(l) >= 2
                ) GROUP BY 1, 2
            ) GROUP BY 1
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(SUM(n_distinct_tokens) AS BIGINT) AS sum_distinct_tokens,
               CAST(SUM(COALESCE(n_bigrams, 0)) AS BIGINT) AS sum_bigrams,
               CAST(SUM(COALESCE(n_distinct_bigrams, 0)) AS BIGINT) AS sum_distinct_bigrams,
               CAST(SUM(CASE WHEN top_freq * 10 > n_tokens THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_top_heavy,
               CAST(SUM(CASE WHEN (COALESCE(n_bigrams, 0) - COALESCE(n_distinct_bigrams, 0)) * 5
                             > COALESCE(n_bigrams, 0) THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_repetitive
        FROM tok_stats LEFT JOIN bg_stats USING (doc_id)
        GROUP BY lang ORDER BY lang
    """,
})


def x27_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a corpus (X4, training-data curation): detect and
    redact emails / phone numbers / IPv4 addresses with JVM regex
    expressions (``regexp_count`` + chained ``regexp_replace``).

    The synthetic corpus contains no PII, so the query plants
    deterministic doc_id-derived contact strings first — the oracle
    plants the identical strings, so the detection counts and the total
    redacted length are real value checks of the regex semantics across
    engines (RE2-compatible pattern subset; see functions.text). Output
    is integer-only."""
    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    seeded = docs.select(
        "doc_id", "lang",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ).alias("text"),
    )
    counts = pii_counts("text")
    redacted = seeded.select(
        "lang",
        *[c.alias(n) for n, c in counts.items()],
        F.length(pii_redact_expr("text")).alias("redacted_len"),
        F.length("text").alias("raw_len"),
    )
    return (
        redacted.groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_email").alias("total_emails"),
             F.sum("n_phone").alias("total_phones"),
             F.sum("n_ip").alias("total_ips"),
             F.sum("raw_len").alias("sum_raw_len"),
             F.sum("redacted_len").alias("sum_redacted_len"))
        .orderBy("lang")
    )


QUERIES.update({"x27_pii_redaction": x27_pii_redaction})

ORACLE.update({
    "x27_pii_redaction": r"""
        WITH seeded AS (
            SELECT lang,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail.example.com or +1-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.1' AS text
            FROM documents
        ),
        scored AS (
            SELECT lang,
                   len(regexp_extract_all(text,
                       '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
                   len(regexp_extract_all(text,
                       '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}')) AS n_phone,
                   len(regexp_extract_all(text,
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip,
                   length(text) AS raw_len,
                   length(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(text,
                           '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                         '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}', '<PHONE>', 'g'),
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
                   ) AS redacted_len
            FROM seeded
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_email) AS BIGINT) AS total_emails,
               CAST(SUM(n_phone) AS BIGINT) AS total_phones,
               CAST(SUM(n_ip) AS BIGINT) AS total_ips,
               CAST(SUM(raw_len) AS BIGINT) AS sum_raw_len,
               CAST(SUM(redacted_len) AS BIGINT) AS sum_redacted_len
        FROM scored GROUP BY lang ORDER BY lang
    """,
})


def x28_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate detection (CCNet-style): 3-grams ranked by
    DOCUMENT frequency — the n-grams that recur across many documents
    are boilerplate candidates for removal.

    Shape: per-doc distinct shingles (array_distinct before explode, so
    a doc votes once per gram) → explode → groupBy(gram) count → top-20.
    One near-unique-key shuffle plus a TakeOrdered; no window over the
    full gram table. Ties break lexicographically for determinism."""
    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", tokens_expr(F.lower(F.col("text"))).alias("toks")
    )
    grams = toks.select(
        "doc_id",
        F.explode(F.array_distinct(shingles_expr(F.col("toks"), 3))).alias("gram"),
    )
    return (
        grams.groupBy("gram").agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("gram"))
        .limit(20)
    )


QUERIES.update({"x28_boilerplate_ngrams": x28_boilerplate_ngrams})

ORACLE.update({
    "x28_boilerplate_ngrams": r"""
        WITH toks AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS l
            FROM documents WHERE trim(text) <> ''
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(range(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS gram
            FROM toks WHERE len(l) >= 3
        )
        SELECT gram, COUNT(*) AS doc_freq
        FROM grams GROUP BY gram
        ORDER BY doc_freq DESC, gram ASC LIMIT 20
    """,
})


def x29_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — stream-stream interval join through the real streaming
    engine: errors joined to same-user clicks within the preceding 30
    minutes, both sides watermarked so join state is evictable (the
    append-mode plan a 24/7 deployment runs; availableNow processes the
    backlog and stops). Value-checked against DuckDB's interval self
    join."""
    from ..streaming.windows import stream_interval_join

    errors = events_stream(spark, sf_dir).filter(F.col("event_type") == "error")
    clicks = events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    joined = stream_interval_join(errors, clicks, key="user_id",
                                  lookback="30 minutes")
    out = joined.select(
        F.col("l_event_id").alias("error_id"),
        F.col("r_event_id").alias("click_id"),
        F.col("l_user_id").alias("user_id"),
        F.unix_micros("l_ts").alias("error_ts_us"),
        F.unix_micros("r_ts").alias("click_ts_us"),
    )
    return drain_to_memory(out, "x29", "append").orderBy(
        "error_id", "click_id")


QUERIES.update({"x29_stream_interval_join": x29_stream_interval_join})

ORACLE.update({
    "x29_stream_interval_join": """
        SELECT e.event_id AS error_id,
               c.event_id AS click_id,
               e.user_id AS user_id,
               epoch_us(e.ts) AS error_ts_us,
               epoch_us(c.ts) AS click_ts_us
        FROM events e JOIN events c
          ON e.user_id = c.user_id
         AND e.event_type = 'error' AND c.event_type = 'click'
         AND c.ts >= e.ts - INTERVAL 30 MINUTE AND c.ts <= e.ts
        ORDER BY error_id, click_id
    """,
})


def x30_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for RAG / pretraining prep (X4 family): fixed
    128-token windows with a 32-token overlap (stride 96), emitted as
    (doc_id, chunk_idx, n_chunk_tokens, chunk hash).

    Pure array expressions: ``sequence`` generates the window starts,
    ``posexplode`` fans out, ``slice`` + ``array_join`` build each
    chunk — one Generate per doc, no shuffle until the output sort.
    Chunks are emitted as md5 hashes, not text: the driver compare
    stays small and the hash pins the exact chunk boundaries."""
    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    # empty-doc filter on RAW text (pushes toward the scan) — a
    # size(toks) filter would duplicate the tokenize tree per row
    toks = docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id", tokens_expr(F.lower(F.col("text"))).alias("toks")
    )
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(96))
    return (
        toks.select("doc_id", "toks", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id", "chunk_idx",
            F.least(F.size("toks") - F.col("start"), F.lit(128)).alias("n_chunk_tokens"),
            F.md5(F.array_join(F.slice("toks", F.col("start") + 1, 128), " ")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


QUERIES.update({"x30_chunking": x30_chunking})

ORACLE.update({
    "x30_chunking": r"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
            FROM documents WHERE trim(text) <> ''
        ),
        chunks AS (
            SELECT doc_id,
                   unnest(range(0, len(l), 96)) AS start,
                   generate_subscripts(range(0, len(l), 96), 1) - 1 AS chunk_idx,
                   l
            FROM toks
        )
        SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
               CAST(least(len(l) - start, 128) AS INTEGER) AS n_chunk_tokens,
               md5(array_to_string(l[start + 1 : start + 128], ' ')) AS chunk_md5
        FROM chunks
        ORDER BY doc_id, chunk_idx
    """,
})


def x31_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pretraining (X4 family): concatenate
    documents per source in doc_id order and split every 2048 tokens —
    each doc is assigned to the pack where it STARTS (concat-then-split,
    the standard pretraining packing). Deterministic and shuffle-light:
    one window cumsum per source partition, then a per-pack aggregate.

    At 100 TB the window is the scale risk: a single ``partitionBy
    (source)`` window serializes per source. The sharded variant lives
    in ``operators/packing.py::pack_sequences`` (deterministic shard
    salt → one independent packing per (source, shard), same plan shape as the
    salted aggregation in q40); here sources are few and the per-source
    sort is the honest, oracle-mirrorable cost."""
    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", "source", token_count_expr(F.lower(F.col("text"))).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    w = W.partitionBy("source").orderBy("doc_id") \
         .rowsBetween(W.unboundedPreceding, W.currentRow)
    packed = toks.select(
        "source", "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048)
            .alias("pack_id"),
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
        .orderBy("source", "pack_id")
    )


QUERIES.update({"x31_sequence_packing": x31_sequence_packing})

ORACLE.update({
    "x31_sequence_packing": r"""
        WITH toks AS (
            SELECT doc_id, source,
                   len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens
            FROM documents WHERE trim(text) <> ''
        ),
        packed AS (
            SELECT source, n_tokens,
                   CAST(floor((SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048) AS BIGINT)
                       AS pack_id
            FROM toks
        )
        SELECT source, pack_id, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM packed GROUP BY 1, 2 ORDER BY 1, 2
    """,
})


def x34_sequence_packing_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded concat-then-split sequence packing — the 100 TB-safe
    variant of x31 (r2 VERDICT item 5), driver-oracle-checked.

    x31's single ``partitionBy(source)`` window serializes each source
    on one reducer; ``operators/packing.py::pack_sequences`` salts the
    window key with a deterministic shard so each (source, shard) packs
    independently and in parallel — the same salting shape as the skewed
    aggregation in q40, at the cost of ≤ one underfilled pack per shard.
    The shard is ``pmod(doc_id, 4)``, so DuckDB reproduces it exactly
    (same window, same cut points)."""
    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", "source", token_count_expr(F.lower(F.col("text"))).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    from ..operators.packing import pack_sequences  # noqa: PLC0415

    packed = pack_sequences(
        toks, "doc_id", "source", "n_tokens",
        shard_col=F.pmod(F.col("doc_id"), F.lit(4)), seq_len=2048,
    )
    return (
        packed.groupBy("source", "shard", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
        .orderBy("source", "shard", "pack_id")
    )


QUERIES.update({"x34_sequence_packing_sharded": x34_sequence_packing_sharded})

ORACLE.update({
    "x34_sequence_packing_sharded": r"""
        WITH toks AS (
            SELECT doc_id, source,
                   CAST(doc_id % 4 AS INT) AS shard,
                   len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens
            FROM documents WHERE trim(text) <> ''
        ),
        packed AS (
            SELECT source, shard, n_tokens,
                   CAST(floor((SUM(n_tokens) OVER (
                       PARTITION BY source, shard ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048) AS BIGINT)
                       AS pack_id
            FROM toks
        )
        SELECT source, shard, pack_id, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM packed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
})


def x32_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 — video frame-sampling plan: per-video frame timestamps every
    1000 ms from the typed metadata (JVM ``sequence`` + explode; x117
    runs the executed per-frame decode, ``frame_sample_decode``).
    Summarized per video as (media_id, n_frames, last_frame_ms) so the
    oracle pins the exact sampling grid."""
    docs = load_table(spark, sf_dir, "documents")
    media = media_from_documents(docs)
    frames = frame_sample_plan(media, every_ms=1000)
    return (
        frames.groupBy("media_id")
        .agg(F.count("*").alias("n_frames"), F.max("frame_ms").alias("last_frame_ms"))
        .orderBy("media_id")
    )


def x117_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 — REAL video frame sampling (r11; upgrades x32's
    metadata-only timestamp grid to an EXECUTED kernel): build real
    multi-frame payloads (concatenated spec-conformant BMPs — no
    stdlib video container exists, so the certified kernel is the
    byte-level one every demuxer needs: walk frames by their
    self-describing headers, slice, decode), sample every 2nd frame
    through operators/multimodal.py::frame_sample_decode, and
    aggregate per (n_frames, frame_idx) cell: doc count, sampled pixel
    count, and exact channel sums. The DuckDB oracle replays the
    generative law + the sampling grid analytically — a MATCH
    certifies frame boundary walking (a demuxer off by one byte or
    one frame breaks the cell structure), the per-frame decode, and
    the every-n selection. Swapping the slicer for libav's packet
    iterator keeps schema/batch/partitioning identical: only the per-row
    kernel that ``frame_sample_decode`` hands to the module's one
    mapInArrow adapter (``_map_rows``) changes.

    Scale shape: ONE fused Arrow pipeline (build → walk → decode;
    payloads never shuffle — the explosion to per-frame rows happens
    inside the batch and emits fixed-width stats) + a ≤|k|·|k|-cell
    aggregate.
    """
    from ..operators.multimodal import frame_sample_decode, synth_video_media

    docs = load_table(spark, sf_dir, "documents")
    frames = frame_sample_decode(synth_video_media(docs), every_n=2)
    return (
        frames.groupBy("n_frames", "frame_idx")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("width").cast("long") * F.col("height"))
            .cast("bigint").alias("sum_px"),
            F.sum("sum_r").alias("sum_r"),
            F.sum("sum_g").alias("sum_g"),
            F.sum("sum_b").alias("sum_b"),
        )
        .orderBy("n_frames", "frame_idx")
    )


QUERIES.update({"x32_frame_sampling": x32_frame_sampling,
                "x117_frame_sample_stats": x117_frame_sample_stats})

ORACLE.update({
    "x32_frame_sampling": """
        WITH media AS (
            SELECT doc_id AS media_id, (n_chars * 7) % 5000 AS duration_ms
            FROM documents
            WHERE doc_id % 3 = 2  -- round-robin video assignment
        )
        SELECT media_id,
               CAST(floor(duration_ms / 1000) + 1 AS BIGINT) AS n_frames,
               CAST(floor(duration_ms / 1000) * 1000 AS INTEGER) AS last_frame_ms
        FROM media ORDER BY media_id
    """,
    "x117_frame_sample_stats": """
        WITH d AS (
            SELECT doc_id,
                   8 + doc_id % 5 AS w,
                   6 + doc_id % 4 AS h,
                   2 + doc_id % 3 AS k
            FROM documents
        ),
        f AS (
            -- the every_n=2 sampling grid over each payload's k frames
            SELECT doc_id, w, h, k,
                   CAST(unnest(range(0, k)) AS INTEGER) AS fi
            FROM d
        ),
        sampled AS (SELECT * FROM f WHERE fi % 2 = 0),
        px AS (
            SELECT doc_id, w, h, k, fi,
                   CAST(unnest(range(0, w * h)) AS BIGINT) AS p
            FROM sampled
        ),
        per AS (
            SELECT doc_id, k, fi, w, h,
                   CAST(SUM((doc_id*7 + fi*11 + p*3 + 0) % 256) AS BIGINT) AS sr,
                   CAST(SUM((doc_id*7 + fi*11 + p*3 + 1) % 256) AS BIGINT) AS sg,
                   CAST(SUM((doc_id*7 + fi*11 + p*3 + 2) % 256) AS BIGINT) AS sb
            FROM px GROUP BY 1, 2, 3, 4, 5
        )
        SELECT CAST(k AS INTEGER) AS n_frames,
               fi AS frame_idx,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(w * h) AS BIGINT) AS sum_px,
               CAST(SUM(sr) AS BIGINT) AS sum_r,
               CAST(SUM(sg) AS BIGINT) AS sum_g,
               CAST(SUM(sb) AS BIGINT) AS sum_b
        FROM per
        GROUP BY k, fi
        ORDER BY n_frames, frame_idx
    """,
})


def x33_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (X2/X4 family): detect training
    documents that share any 5-gram with a held-out benchmark set —
    the n-gram-overlap contamination check run before LLM training.

    The benchmark stand-in is every 50th document (deterministic). Shape
    is the inverted-index join from ngram_jaccard_pairs: explode both
    sides to (gram-hash) postings and equi-join — cost scales with gram
    collisions, never |train|×|bench|. Output is one row of integer
    counts (benchmark size, contaminated train docs, contaminated
    pairs, distinct shared grams) so the driver hash pins the exact
    contamination set."""
    docs = load_table(spark, sf_dir, "documents")
    grams = document_grams(docs, "text", "doc_id", shingle_n=5)
    is_bench = F.col("id") % 50 == 0
    bench = grams.filter(is_bench).select("id", F.explode("grams").alias("g"))
    train = grams.filter(~is_bench).select("id", F.explode("grams").alias("g"))
    pairs = (
        train.alias("t").join(bench.alias("b"), F.col("t.g") == F.col("b.g"))
        .select(F.col("t.id").alias("train_id"),
                F.col("b.id").alias("bench_id"),
                F.col("t.g").alias("g"))
    )
    return (
        pairs.agg(
            F.countDistinct("train_id").alias("n_contaminated_train_docs"),
            F.countDistinct("train_id", "bench_id").alias("n_contaminated_pairs"),
            F.countDistinct("g").alias("n_shared_grams"),
        )
        .crossJoin(bench.select(F.countDistinct("id").alias("n_benchmark_docs")))
        .select("n_benchmark_docs", "n_contaminated_train_docs",
                "n_contaminated_pairs", "n_shared_grams")
    )


QUERIES.update({"x33_decontamination": x33_decontamination})

ORACLE.update({
    "x33_decontamination": r"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
            FROM documents WHERE trim(text) <> ''
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(range(1, len(l) - 3),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' '
                            || l[i+3] || ' ' || l[i+4]))) AS g
            FROM toks WHERE len(l) >= 5
        ),
        bench AS (SELECT * FROM grams WHERE doc_id % 50 = 0),
        train AS (SELECT * FROM grams WHERE doc_id % 50 <> 0),
        pairs AS (
            SELECT t.doc_id AS train_id, b.doc_id AS bench_id, t.g
            FROM train t JOIN bench b USING (g)
        )
        SELECT (SELECT COUNT(DISTINCT doc_id) FROM bench) AS n_benchmark_docs,
               COUNT(DISTINCT train_id) AS n_contaminated_train_docs,
               COUNT(DISTINCT (train_id, bench_id)) AS n_contaminated_pairs,
               COUNT(DISTINCT g) AS n_shared_grams
        FROM pairs
    """,
})


# ===========================================================================
# Round 3: mixture sampling & embedding quantization
# ===========================================================================


def x35_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget sampling (X4 family, round 3) — the
    mixture-construction primitive of a pretraining pipeline: each source
    contributes documents until its token budget fills, selection order
    is a deterministic content-independent hash rank (md5 of doc_id, so
    both engines agree and reprocessing is stable).

    Greedy prefix semantics: a doc is kept iff it STARTS inside the
    budget (``cum - n_tokens < budget``) — the first doc of a source is
    always kept, mirroring concat-then-split packing's boundary rule.
    The planted budget varies per source (1500 + 250·(src# % 4)) so the
    cut lands differently across sources.

    Scale posture: one cumulative-sum window per source — same shape and
    same trade-off as x31 vs x34: for giant sources, salt the window key
    with a shard (pack_sequences-style) and give each shard
    ``budget/shards``; the greedy boundary error is ≤ one doc per shard.
    The aggregate output is one row per source (KB-sized at any scale).
    """
    docs = scale_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", "source",
        token_count_expr(F.lower(F.col("text"))).alias("n_tokens"),
        (F.lit(1500) + F.lit(250)
         * (F.expr("substring(source, 4)").cast("int") % 4)).alias("budget"),
        F.md5(F.col("doc_id").cast("string")).alias("rk"),
    ).filter(F.col("n_tokens") > 0)
    w = W.partitionBy("source").orderBy("rk") \
         .rowsBetween(W.unboundedPreceding, W.currentRow)
    kept = (
        toks.withColumn("cum", F.sum("n_tokens").over(w))
        .filter(F.col("cum") - F.col("n_tokens") < F.col("budget"))
    )
    return (
        kept.groupBy("source", "budget")
        .agg(F.count("*").alias("n_docs_kept"),
             F.sum("n_tokens").alias("tokens_kept"))
        .select("source", F.col("budget").cast("int").alias("budget"),
                "n_docs_kept", "tokens_kept")
        .orderBy("source")
    )


QUERIES.update({"x35_token_budget_sample": x35_token_budget_sample})

ORACLE.update({
    "x35_token_budget_sample": r"""
        WITH toks AS (
            SELECT doc_id, source,
                   1500 + 250 * (CAST(substr(source, 4) AS INT) % 4) AS budget,
                   len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
                   md5(CAST(doc_id AS VARCHAR)) AS rk
            FROM documents WHERE trim(text) <> ''
        ),
        c AS (
            SELECT source, budget, n_tokens,
                   SUM(n_tokens) OVER (PARTITION BY source ORDER BY rk
                                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM toks
        )
        SELECT source, CAST(budget AS INT) AS budget,
               COUNT(*) AS n_docs_kept,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
        FROM c WHERE cum - n_tokens < budget
        GROUP BY 1, 2 ORDER BY source
    """,
})


def x36_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization with in-engine error
    accounting (X3 storage path, round 3): per-vector scale
    ``127 / max|v|``, elementwise ``round(v·scale)`` (|q| ≤ 127 by
    construction — no clamp branch to keep cross-engine parity exact),
    dequantization error ``|v − q/scale|`` folded to a per-vector mean.

    Output: per label — vector count, total saturated elements (|q| =
    127; certifies the scale formula hit its endpoints), and the
    mean/max dequantization error rounded to 6dp (the engines' double
    streams are identical element-for-element; rounding absorbs only the
    cross-row summation-order noise of the final aggregate).

    Scale shape: entirely map-side until the tiny per-label aggregate —
    each intermediate array is materialized in its own projection (HOF
    lambdas get no CSE; same pitfall as simhash_expr), so the fold reads
    bound attributes, not re-inlined trees."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    scaled = v.select(
        "vec_id", "label", "e",
        (F.lit(127.0) / F.greatest(
            F.array_max(F.transform("e", F.abs)), F.lit(1e-12))).alias("scale"),
    )
    quant = scaled.select(
        "vec_id", "label", "e", "scale",
        F.transform("e", lambda x: F.round(x * F.col("scale"))).alias("q"),
    )
    stats = quant.select(
        "label",
        F.aggregate(
            "q", F.lit(0),
            lambda acc, qq: acc + (F.abs(qq) == 127.0).cast("int"),
        ).alias("n_saturated"),
        (F.aggregate(
            F.zip_with("e", "q",
                       lambda vv, qq: F.abs(vv - qq / F.col("scale"))),
            F.lit(0.0), lambda acc, err: acc + err,
        ) / F.size("e")).alias("mean_err"),
    )
    return (
        stats.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("n_saturated").alias("total_saturated"),
            F.round(F.avg("mean_err"), 6).alias("avg_qerr"),
            F.round(F.max("mean_err"), 6).alias("max_qerr"),
        )
        .orderBy("label")
    )


QUERIES.update({"x36_embedding_quantization": x36_embedding_quantization})

ORACLE.update({
    "x36_embedding_quantization": """
        WITH v AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings
        ),
        scaled AS (
            SELECT vec_id, label, e,
                   127.0 / greatest(
                       list_max(list_transform(e, x -> abs(x))), 1e-12)
                       AS scale
            FROM v
        ),
        quant AS (
            SELECT vec_id, label, e, scale,
                   list_transform(e, x -> round(x * scale, 0)) AS q
            FROM scaled
        ),
        stats AS (
            SELECT label,
                   list_sum(list_transform(q,
                       x -> CASE WHEN abs(x) = 127.0 THEN 1 ELSE 0 END))
                       AS n_saturated,
                   list_sum(list_transform(range(1, len(e) + 1),
                       i -> abs(e[i] - q[i] / scale))) / len(e) AS mean_err
            FROM quant
        )
        SELECT label, COUNT(*) AS n_vecs,
               CAST(SUM(n_saturated) AS BIGINT) AS total_saturated,
               ROUND(AVG(mean_err), 6) AS avg_qerr,
               ROUND(MAX(mean_err), 6) AS max_qerr
        FROM stats GROUP BY label ORDER BY label
    """,
})


def x37_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification (X3 companion, round 3): assign
    every embedding to the closest per-label centroid (squared L2) and
    emit the label × predicted confusion counts — the quality-readout
    half of the x14 centroid computation, and the assignment step of
    Lloyd's k-means expressed as one broadcast join.

    Scale shape: centroids are |labels| rows (tiny at any corpus scale)
    → built once, broadcast into a single map-side join against the
    distributed embedding table; the distance fold is a JVM array
    expression; the confusion aggregate is |labels|² rows. No shuffle
    touches the embedding payload except the per-vector argmin window
    over |labels| candidate rows (bounded fan-out, keyed by vec_id).

    Cross-engine determinism: the centroid AVG is a cross-row float sum
    whose combine order varies by engine AND by run (shuffle arrival
    order), so centroids are rounded to 9dp in both engines — the
    broadcast table is then bit-identical everywhere, and the distance
    fold over it is deterministic; the argmin breaks residual ties by
    predicted label ascending."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    centroids = (
        v.select("label", F.posexplode("e").alias("pos", "val"))
        .groupBy("label", "pos").agg(F.round(F.avg("val"), 9).alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(F.col("label").alias("pred"),
                F.transform("pc", lambda s: s.getField("c")).alias("cvec"))
    )
    dist = F.aggregate(
        F.zip_with("e", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, d: acc + d,
    )
    scored = (
        v.crossJoin(F.broadcast(centroids))
        .withColumn("dist", dist)
    )
    w = W.partitionBy("vec_id").orderBy("dist", "pred")
    assigned = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return (
        assigned.groupBy("label", "pred")
        .agg(F.count("*").alias("n"))
        .orderBy("label", "pred")
    )


QUERIES.update({"x37_nearest_centroid": x37_nearest_centroid})

ORACLE.update({
    "x37_nearest_centroid": """
        WITH v AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings
        ),
        cpos AS (
            SELECT label AS pred, pos, ROUND(AVG(val), 9) AS c
            FROM (
                SELECT label, generate_subscripts(e, 1) AS pos, unnest(e) AS val
                FROM v
            ) GROUP BY 1, 2
        ),
        centroids AS (
            SELECT pred, list(c ORDER BY pos) AS cvec
            FROM cpos GROUP BY pred
        ),
        scored AS (
            SELECT v.vec_id, v.label, c.pred,
                   list_sum(list_transform(range(1, len(v.e) + 1),
                       i -> (v.e[i] - c.cvec[i]) * (v.e[i] - c.cvec[i])))
                       AS dist
            FROM v CROSS JOIN centroids c
        ),
        assigned AS (
            SELECT vec_id, label, pred
            FROM scored
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, pred) = 1
        )
        SELECT label, pred, COUNT(*) AS n
        FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
    """,
})


# --- §2.7 round 4: stream-static broadcast enrichment -----------------------

def x55_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — stream-static join through the real streaming engine: the
    events stream enriched against the static customer dimension
    (``user_id = c_custkey``), then aggregated per (market segment,
    event type). This is the remaining streaming-join family next to
    x29's stream-stream interval join: the static side is planned as a
    BATCH broadcast — re-resolved per micro-batch, never stateful, so
    there is no watermark interaction and state stays O(groups).

    At 100 TB the static side is a slowly-changing dim snapshot; each
    micro-batch picks up the current snapshot (the standard enrichment
    pattern for clickstream × account data). Executed to completion with
    availableNow behind the DuckDB oracle, like x17/x24/x25.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = events_stream(spark, sf_dir).join(F.broadcast(cust), "user_id")
    agg = (
        enriched.groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    return drain_to_memory(agg, "x55", "complete").orderBy(
        "c_mktsegment", "event_type")


QUERIES.update({"x55_stream_static_enrich": x55_stream_static_enrich})

ORACLE.update({
    "x55_stream_static_enrich": """
        SELECT c.c_mktsegment, e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(e.value), 2) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
})


# --- X2/X4 extension: bloom-filter decontamination (runtime filter) ---------

def x100_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated decontamination: flag corpus documents whose
    leading-4-token fingerprint appears in the held-out eval set
    (``doc_id % 13 == 0`` plays the eval split) — the contamination
    check every training-data pipeline runs before a release, here as
    the EXPLICIT runtime-filter pattern: build a one-row broadcast
    bloom bitset over the eval fingerprints, prune the corpus MAP-SIDE,
    and exact-verify only the survivors (operators/bloom.py). The
    result is bitwise the plain semi-join (the oracle computes exactly
    that), but the semi-join's shuffle carries only bloom survivors —
    at 100 TB the corpus never shuffles to discover that 99.9% of it
    is clean. Complements x33 (5-gram inverted-index decontamination):
    x33 finds span-level overlap, this screens whole-doc fingerprints
    at a fraction of the cost. Reference analog: none — extension
    surface (SURVEY.md §2.9 sketch category).

    The eval-set count that sizes the filter is one tiny aggregate
    (|eval| rows); fpp=1% only adds verify rows, never errors.
    """
    from ..functions.text import tokens_expr
    from ..operators.bloom import bloom_semi_join

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.concat_ws(" ", F.slice(tokens_expr(F.lower(F.col("text"))), 1, 4))
    )
    # persisted: the tokenize+md5 projection feeds the eval count, the
    # bloom build, the exact-verify keys AND the probe — four consumers
    # that would otherwise each re-run the CPU-dominant pass
    keyed = docs.withColumn("fp", fp).persist()
    eval_set = keyed.filter(F.col("doc_id") % 13 == 0).select("fp")
    corpus = keyed.filter(F.col("doc_id") % 13 != 0)
    n_eval = max(eval_set.count(), 1)
    flagged = bloom_semi_join(
        corpus, eval_set, "fp", "fp", expected_items=n_eval, fpp=0.01
    )
    return flagged.select("doc_id", "source").orderBy("doc_id")


QUERIES.update({"x100_bloom_decontaminate": x100_bloom_decontaminate})

ORACLE.update({
    "x100_bloom_decontaminate": r"""
        WITH d AS (
            SELECT doc_id, source,
                   md5(array_to_string(
                       list_slice(string_split_regex(lower(trim(text)),
                                                     '\s+'), 1, 4),
                       ' ')) AS fp
            FROM documents
        )
        SELECT c.doc_id, c.source
        FROM d c
        WHERE c.doc_id % 13 <> 0
          AND EXISTS (SELECT 1 FROM d e
                      WHERE e.doc_id % 13 = 0 AND e.fp = c.fp)
        ORDER BY c.doc_id
    """,
})


# --- layout extension: z-order clustering profile ---------------------------

def _z_oracle_sql() -> str:
    """DuckDB twin of interleave_bits([user_id, t16], 16) — generated
    from the same (i, j) → i*ndims+j bit layout so the two engines
    cannot drift."""
    terms = []
    for i in range(16):
        terms.append(f"(((u >> {i}) & 1) << {i * 2})")
        terms.append(f"(((t >> {i}) & 1) << {i * 2 + 1})")
    z = " | ".join(terms)
    return f"""
        WITH coords AS (
            SELECT GREATEST(0, LEAST(user_id, 65535)) AS u,
                   GREATEST(0, LEAST(
                       (CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200) >> 6,
                       65535)) AS t
            FROM events
        ),
        zvals AS (SELECT {z} AS z FROM coords)
        SELECT z >> 22 AS z_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(z) AS z_min, MAX(z) AS z_max
        FROM zvals
        GROUP BY 1
        ORDER BY 1
    """


def x101_zorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order curve profile of the events table — the certification
    face of ``operators/layout.py``: compute the Morton z-value of
    (user_id, 64-second time cell since 2024-01-01 UTC) for every
    event, then the per-z-bucket histogram (count + z-range). The
    oracle rebuilds the identical interleave arithmetically in DuckDB,
    so a single mis-shifted bit anywhere in the curve flips a bucket
    hash — the whole-stage-codegen'd bit chain is value-certified, not
    just smoke-tested. ``tests/test_layout.py`` separately proves the
    LAYOUT payoff: a 2-D box query intersects strictly fewer z-ordered
    files than time-sorted files of the same count, via the same
    footer min/max stats a 100 TB scan planner prunes with.

    Scale shape: one projection (the bit chain) + one map-side
    combinable aggregate on a 1024-ary bucket key; no joins, no UDFs.
    Reference analog: none (extension surface, SURVEY.md §2.9; the
    reference's warehouse writes are single-key ORDER BY inserts).
    """
    from ..operators.layout import interleave_bits, quantize_ts

    ev = load_table(spark, sf_dir, "events")
    z = interleave_bits(
        [F.col("user_id"), quantize_ts(F.col("ts"), 1704067200, 6)],
        bits=16,
    )
    return (
        ev.select(z.alias("z"))
        .groupBy(F.shiftright(F.col("z"), 22).alias("z_bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
        .orderBy("z_bucket")
    )


QUERIES.update({"x101_zorder_profile": x101_zorder_profile})
ORACLE.update({"x101_zorder_profile": _z_oracle_sql()})


# --- incremental near-dup certification (dedup.screen_against_ledger) ------

def x102_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) MinHash screening with in-engine
    accuracy certification of ``operators/dedup.py::screen_against_ledger``,
    driver-value-checked like x08.

    The documents table plays two epochs: even doc_ids are the
    already-ingested corpus (the signature ledger), odd doc_ids the
    arriving batch. ``screen_against_ledger`` flags batch docs whose
    banded-LSH + est-Jaccard match clears 0.5. Certification against
    the exact cross-epoch truth: UNBLOCKED 3-gram Jaccard ≥ 0.5,
    independently computable by DuckDB. Unblocked matters — the screen
    itself has no language blocking (a Chinese-labeled copy of an
    English document IS a near-dup), and the synthetic corpus contains
    exactly such cross-lang twins, so a lang-blocked truth would
    undercount and break the precision floor (it did, in the first cut
    of this query):

    - ``n_true_cross_pairs`` — REAL value check vs DuckDB's exact
      count (lang plays no role on either side);
    - ``recall_certified = least(recall, 0.9)`` — 0.9 iff the screen
      found ≥ 90% of true cross pairs (measured 1.0 at both test sfs;
      the pairs sit at J ≥ 0.89 where the 8×4 banding miss
      probability is ~3e-4);
    - ``precision_floor = least(min exact J over flagged pairs,
      0.25)`` — 0.25 iff no flagged (batch, corpus) pair has true
      Jaccard below 0.25 (est ≥ 0.5 with 32 perms ⇒ true ≳ 0.5−2σ ≈
      0.32): a banding or estimator bug that starts flagging unrelated
      docs drives the floor toward 0 and breaks the hash.

    Both sides consume one shared persisted grams table; the corpus is
    sketched here only because the certification needs its signatures —
    an ingest path would read them from its stored ledger.
    """
    from ..operators.dedup import minhash_signatures, screen_against_ledger

    docs = load_table(spark, sf_dir, "documents")
    # constant block = unblocked truth (the certification harness is
    # exhaustive-by-collision; the product path is the banded screen)
    grams = document_grams(docs.withColumn("__blk", F.lit(1)),
                           "text", "doc_id", keep_cols=("__blk",)).persist()
    even = F.col("id") % 2 == 0
    sig_corpus = minhash_signatures(docs, "text", "doc_id",
                                    grams=grams.filter(even))
    sig_batch = minhash_signatures(docs, "text", "doc_id",
                                   grams=grams.filter(~even))
    flagged = screen_against_ledger(sig_batch, sig_corpus, threshold=0.5) \
        .persist()

    all_pairs = ngram_jaccard_pairs(docs, "text", "doc_id",
                                    block_col="__blk", threshold=0.25,
                                    grams=grams)
    cross = all_pairs.filter((F.col("a") % 2) + (F.col("b") % 2) == 1)
    true_pairs = cross.filter(F.col("jaccard") >= 0.5).select(
        F.when(F.col("a") % 2 == 1, F.col("a")).otherwise(F.col("b"))
        .alias("batch_id")
    ).distinct()
    recall = (
        true_pairs.join(flagged, true_pairs.batch_id == flagged.id, "left")
        .agg(
            F.count("*").alias("n_true"),
            (F.sum(F.col("id").isNotNull().cast("int")) / F.count("*"))
            .alias("recall"),
        )
    )
    # exact J of every flagged (batch, corpus) pair; a flagged pair so
    # dissimilar it fell below the 0.25 postings threshold scores 0.0
    cross_j = cross.select(
        F.when(F.col("a") % 2 == 1, F.col("a")).otherwise(F.col("b"))
        .alias("bid"),
        F.when(F.col("a") % 2 == 0, F.col("a")).otherwise(F.col("b"))
        .alias("cid"),
        "jaccard",
    )
    prec = (
        flagged.join(
            cross_j,
            (flagged.id == cross_j.bid) & (flagged.matched_id == cross_j.cid),
            "left",
        )
        .agg(F.min(F.coalesce(F.col("jaccard"), F.lit(0.0)))
             .alias("min_true_j"))
    )
    n_true_cross = cross.filter(F.col("jaccard") >= 0.5) \
        .agg(F.count("*").alias("n_true_cross_pairs"))
    return (
        n_true_cross.crossJoin(F.broadcast(recall.select("recall")))
        .crossJoin(F.broadcast(prec))
        .select(
            "n_true_cross_pairs",
            F.least(F.col("recall"), F.lit(0.9)).alias("recall_certified"),
            F.least(F.col("min_true_j"), F.lit(0.25)).alias("precision_floor"),
        )
    )


QUERIES.update({"x102_incremental_neardup": x102_incremental_neardup})

ORACLE.update({
    "x102_incremental_neardup": r"""
        WITH d AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
                       i -> string_split_regex(lower(trim(text)), '\s+')[i] || ' ' ||
                            string_split_regex(lower(trim(text)), '\s+')[i+1] || ' ' ||
                            string_split_regex(lower(trim(text)), '\s+')[i+2]
                   )) AS grams
            FROM documents
            WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 3
        ),
        posts AS (
            SELECT doc_id, len(grams) AS n, unnest(grams) AS g FROM d
        ),
        pairs AS (
            SELECT a.doc_id AS a, b.doc_id AS b, a.n AS na, b.n AS nb,
                   COUNT(*) AS c
            FROM posts a JOIN posts b
              ON a.g = b.g AND a.doc_id < b.doc_id
            WHERE (a.doc_id % 2) + (b.doc_id % 2) = 1
            GROUP BY 1, 2, 3, 4
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_true_cross_pairs,
               0.9 AS recall_certified,
               0.25 AS precision_floor
        FROM pairs
        WHERE c * 1.0 / (na + nb - c) >= 0.5
    """,
})


def x103_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode (r6 verdict item 4): build spec-conformant
    RIFF/WAVE PCM16 payloads deterministically from doc_id, then parse
    the actual container bytes with the stdlib `struct` kernel
    (operators/multimodal.py::decode_wav_features) inside Arrow-batched
    mapInArrow — header walk, fmt validation, int16 frame unpack, RMS/
    peak over the samples. The DuckDB oracle never sees the bytes: it
    recomputes the statistics analytically from the shared generative
    law (n = 40 + doc_id % 25; s_i = ((doc_id*31 + i*7) % 65536) -
    32768), so a MATCH certifies the decode round-trip bit-for-bit —
    integer math is exact in both engines and rms = sqrt(exact_int /
    exact_int) is one correctly-rounded IEEE op on identical inputs.

    Scale shape: the builder batch carries ONE long column (never the
    text); payloads stay inside a single mapInArrow stage (built,
    parsed, reduced to fixed-width stats) and are projected away before
    the final aggregate's shuffle — wide binary rows never shuffle.
    The result folds per-doc stats into a compact global profile so the
    driver compare stays O(1) rows at any SF.
    """
    from ..operators.multimodal import decode_wav_features, synth_wav_media

    docs = load_table(spark, sf_dir, "documents")
    feats = decode_wav_features(synth_wav_media(docs))
    return (
        feats.groupBy("n_samples")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("peak").alias("max_peak"),
            F.min("sample_rate").alias("sample_rate"),
            F.min("duration_ms").alias("duration_ms"),
            # group signal energy from the EXACT integer ssq — bigint
            # sums are order-independent, so the derived group rms is
            # one sqrt over identical inputs in both engines (per-item
            # float rms values must never be float-summed cross-row)
            F.sum("ssq").alias("sum_ssq"),
        )
        .withColumn(
            "group_rms",
            F.sqrt(F.col("sum_ssq").cast("double")
                   / (F.col("n_samples").cast("double") * F.col("n_docs"))),
        )
        .orderBy("n_samples")
    )


QUERIES.update({"x103_wav_decode_stats": x103_wav_decode_stats})

ORACLE.update({
    "x103_wav_decode_stats": """
        WITH d AS (
            SELECT doc_id, 40 + doc_id % 25 AS n
            FROM documents
        ),
        s AS (
            SELECT doc_id, n,
                   CAST(unnest(range(0, n)) AS BIGINT) AS i
            FROM d
        ),
        per_doc AS (
            SELECT doc_id, n,
                   CAST(SUM(
                       ((doc_id*31 + i*7) % 65536 - 32768)
                       * ((doc_id*31 + i*7) % 65536 - 32768)
                   ) AS BIGINT) AS ssq,
                   CAST(MAX(abs((doc_id*31 + i*7) % 65536 - 32768))
                        AS INTEGER) AS peak
            FROM s GROUP BY 1, 2
        )
        SELECT CAST(n AS INTEGER) AS n_samples,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               MAX(peak) AS max_peak,
               8000 AS sample_rate,
               CAST(n * 1000 // 8000 AS INTEGER) AS duration_ms,
               CAST(SUM(ssq) AS BIGINT) AS sum_ssq,
               sqrt(CAST(SUM(ssq) AS DOUBLE)
                    / (CAST(n AS DOUBLE) * COUNT(*))) AS group_rms
        FROM per_doc
        GROUP BY n
        ORDER BY n_samples
    """,
})


def x105_bmp_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, the x103 pattern applied to BMP: build
    spec-conformant 24bpp BMP payloads (bottom-up rows, BGR order,
    4-byte row padding) deterministically from doc_id, parse the actual
    container bytes with the stdlib kernel
    (operators/multimodal.py::decode_bmp_features), and let the DuckDB
    oracle recompute the channel sums analytically from the shared
    generative law (W = 8 + doc_id%5, H = 6 + doc_id%4, channel c of
    pixel p = (doc_id*7 + p*3 + c) % 256). A MATCH certifies the whole
    storage round-trip — including the padding/flip/BGR handling, which
    the generative law knows nothing about.

    Channel sums stay EXACT bigints through the aggregate; the derived
    mean is one division over identical integers in both engines.
    """
    from ..operators.multimodal import decode_bmp_features, synth_bmp_media

    docs = load_table(spark, sf_dir, "documents")
    feats = decode_bmp_features(synth_bmp_media(docs))
    n_px = F.col("width") * F.col("height") * F.col("n_docs")
    return (
        feats.groupBy("width", "height")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("sum_r").alias("sum_r"),
            F.sum("sum_g").alias("sum_g"),
            F.sum("sum_b").alias("sum_b"),
        )
        .withColumn("mean_r", F.col("sum_r").cast("double") / n_px)
        .withColumn("mean_g", F.col("sum_g").cast("double") / n_px)
        .withColumn("mean_b", F.col("sum_b").cast("double") / n_px)
        .orderBy("width", "height")
    )


def x119_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-format image decode (r11 — closes the PNG third
    of the standing "PNG/JPEG/MP3 are env-blocked on PIL/av" carry:
    PNG needs neither, it is stdlib zlib + scanline filter
    reconstruction). The builder writes spec-conformant 8-bit RGB PNGs
    whose scanlines cycle through ALL FIVE filter types (None / Sub /
    Up / Average / Paeth — every generator image has h >= 6 rows, so
    each payload exercises the full filter set), DEFLATE-compressed;
    the decoder (operators/multimodal.py::_parse_png) walks the chunk
    list, VERIFIES every CRC32, inflates, and reconstructs each
    scanline. The DuckDB oracle recomputes channel sums analytically
    from the shared generative law — a MATCH certifies the whole
    compressed round-trip: chunk framing, CRCs, DEFLATE, and the
    filter algebra (any non-invertible filter bug shifts a sum).
    JPEG/MP3 (DCT/Huffman stacks) remain the PIL/av-guarded carry.

    Scale shape: identical to x105 — one fused Arrow pipeline,
    payloads never shuffle, a |dims|-group aggregate.
    """
    from ..operators.multimodal import decode_png_features, synth_png_media

    docs = load_table(spark, sf_dir, "documents")
    feats = decode_png_features(synth_png_media(docs))
    n_px = F.col("width") * F.col("height") * F.col("n_docs")
    return (
        feats.groupBy("width", "height")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("sum_r").alias("sum_r"),
            F.sum("sum_g").alias("sum_g"),
            F.sum("sum_b").alias("sum_b"),
        )
        .withColumn("mean_r", F.col("sum_r").cast("double") / n_px)
        .withColumn("mean_g", F.col("sum_g").cast("double") / n_px)
        .withColumn("mean_b", F.col("sum_b").cast("double") / n_px)
        .orderBy("width", "height")
    )


QUERIES.update({"x119_png_decode_stats": x119_png_decode_stats})

ORACLE.update({
    "x119_png_decode_stats": """
        WITH d AS (
            SELECT doc_id,
                   8 + doc_id % 5 AS w,
                   6 + doc_id % 4 AS h
            FROM documents
        ),
        px AS (
            SELECT doc_id, w, h,
                   CAST(unnest(range(0, w * h)) AS BIGINT) AS p
            FROM d
        ),
        per_doc AS (
            SELECT doc_id, w, h,
                   CAST(SUM((doc_id*13 + p*5 + 0) % 256) AS BIGINT) AS sr,
                   CAST(SUM((doc_id*13 + p*5 + 1) % 256) AS BIGINT) AS sg,
                   CAST(SUM((doc_id*13 + p*5 + 2) % 256) AS BIGINT) AS sb
            FROM px GROUP BY 1, 2, 3
        )
        SELECT CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(sr) AS BIGINT) AS sum_r,
               CAST(SUM(sg) AS BIGINT) AS sum_g,
               CAST(SUM(sb) AS BIGINT) AS sum_b,
               CAST(SUM(sr) AS DOUBLE) / (w * h * COUNT(*)) AS mean_r,
               CAST(SUM(sg) AS DOUBLE) / (w * h * COUNT(*)) AS mean_g,
               CAST(SUM(sb) AS DOUBLE) / (w * h * COUNT(*)) AS mean_b
        FROM per_doc
        GROUP BY w, h
        ORDER BY width, height
    """,
})


#: x116 target dims — chosen to exercise BOTH directions of the NN
#: mapping against the generator's mixed source dims (w in 8..12,
#: h in 6..9): width up-samples for w<10, identity at 10, down-samples
#: past it; height always up-samples.
_X116_RW, _X116_RH = 10, 8


def x116_bmp_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize certified end-to-end (X5's resize as a
    working stdlib kernel for the BMP path):
    build real BMP payloads from the x105 generative law, resample each
    through the REAL nearest-neighbor kernel
    (operators/multimodal.py::resize_bmp_nn — parse, floor-map
    ``src = (dst * src_dim) // dst_dim``, RE-ENCODE a spec-conformant
    container), then re-parse the RESIZED bytes with the real decoder
    and aggregate channel sums per source geometry. The DuckDB oracle
    replays the law + the exact integer NN mapping analytically — a
    MATCH certifies the full parse → remap → encode → re-parse loop,
    including the padding/flip/BGR handling on both the read and the
    WRITE side (x105 only certifies the read side).

    Scale shape: ONE Arrow-batched codec pipeline (build → resize →
    re-parse fused in a single stage; payloads never shuffle) + a
    |src dims|-group aggregate. The grouping keys come from the
    generative law on media_id (the same dims x105 already certifies
    the builder writes), NOT a second synth pass — joining back to the
    media table would execute the payload builder twice.
    """
    from ..operators.multimodal import (
        decode_bmp_features,
        resize_bmp_nn,
        synth_bmp_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synth_bmp_media(docs)
    feats = decode_bmp_features(resize_bmp_nn(media, _X116_RW, _X116_RH))
    return (
        feats.select(
            "*",
            (F.lit(8) + F.col("media_id") % 5).cast("int").alias("src_width"),
            (F.lit(6) + F.col("media_id") % 4).cast("int").alias("src_height"),
        )
        .groupBy("src_width", "src_height")
        .agg(
            F.count("*").alias("n_docs"),
            # dims of the re-parsed resized containers — min==max==target
            # iff every re-encoded header is correct
            F.min("width").alias("out_width"),
            F.max("width").alias("out_width_max"),
            F.min("height").alias("out_height"),
            F.sum("sum_r").alias("sum_r"),
            F.sum("sum_g").alias("sum_g"),
            F.sum("sum_b").alias("sum_b"),
        )
        .orderBy("src_width", "src_height")
    )


QUERIES.update({"x105_bmp_decode_stats": x105_bmp_decode_stats,
                "x116_bmp_resize_stats": x116_bmp_resize_stats})

ORACLE.update({
    "x105_bmp_decode_stats": """
        WITH d AS (
            SELECT doc_id,
                   8 + doc_id % 5 AS w,
                   6 + doc_id % 4 AS h
            FROM documents
        ),
        px AS (
            SELECT doc_id, w, h,
                   CAST(unnest(range(0, w * h)) AS BIGINT) AS p
            FROM d
        ),
        per_doc AS (
            SELECT doc_id, w, h,
                   CAST(SUM((doc_id*7 + p*3 + 0) % 256) AS BIGINT) AS sr,
                   CAST(SUM((doc_id*7 + p*3 + 1) % 256) AS BIGINT) AS sg,
                   CAST(SUM((doc_id*7 + p*3 + 2) % 256) AS BIGINT) AS sb
            FROM px GROUP BY 1, 2, 3
        )
        SELECT CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(sr) AS BIGINT) AS sum_r,
               CAST(SUM(sg) AS BIGINT) AS sum_g,
               CAST(SUM(sb) AS BIGINT) AS sum_b,
               CAST(SUM(sr) AS DOUBLE) / (w * h * COUNT(*)) AS mean_r,
               CAST(SUM(sg) AS DOUBLE) / (w * h * COUNT(*)) AS mean_g,
               CAST(SUM(sb) AS DOUBLE) / (w * h * COUNT(*)) AS mean_b
        FROM per_doc
        GROUP BY w, h
        ORDER BY width, height
    """,
    "x116_bmp_resize_stats": f"""
        WITH d AS (
            SELECT doc_id,
                   8 + doc_id % 5 AS w,
                   6 + doc_id % 4 AS h
            FROM documents
        ),
        px AS (
            -- q walks the RESIZED grid row-major; the NN floor map
            -- replays resize_bmp_nn's exact integer arithmetic:
            -- src = (dst * src_dim) // dst_dim per axis
            SELECT doc_id, w, h,
                   CAST(unnest(range(0, {_X116_RW * _X116_RH})) AS BIGINT) AS q
            FROM d
        ),
        mapped AS (
            SELECT doc_id, w, h,
                   ((q // {_X116_RW}) * h // {_X116_RH}) * w
                   + ((q % {_X116_RW}) * w // {_X116_RW}) AS p
            FROM px
        ),
        per_doc AS (
            SELECT doc_id, w, h,
                   CAST(SUM((doc_id*7 + p*3 + 0) % 256) AS BIGINT) AS sr,
                   CAST(SUM((doc_id*7 + p*3 + 1) % 256) AS BIGINT) AS sg,
                   CAST(SUM((doc_id*7 + p*3 + 2) % 256) AS BIGINT) AS sb
            FROM mapped GROUP BY 1, 2, 3
        )
        SELECT CAST(w AS INTEGER) AS src_width,
               CAST(h AS INTEGER) AS src_height,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               {_X116_RW} AS out_width,
               {_X116_RW} AS out_width_max,
               {_X116_RH} AS out_height,
               CAST(SUM(sr) AS BIGINT) AS sum_r,
               CAST(SUM(sg) AS BIGINT) AS sum_g,
               CAST(SUM(sb) AS BIGINT) AS sum_b
        FROM per_doc
        GROUP BY w, h
        ORDER BY src_width, src_height
    """,
})


#: x118 target rate — 12000 Hz over the 8000 Hz sources: a 3/2
#: UP-sample whose NN time map duplicates every other source sample
#: (the boundary-sensitive direction; down-sampling and identity are
#: unit-pinned in tests/test_extensions.py).
_X118_RATE = 12000


def x118_wav_resample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio sample-rate conversion certified end-to-end (the
    audio sibling of x116; rate normalization — everything to one rate
    before featurization — is the first step of every audio corpus
    pipeline): build real WAV payloads from the x103 generative law,
    resample each through the REAL NN kernel
    (operators/multimodal.py::resample_wav_nn — parse, time-map
    ``src = (j * in_rate) // out_rate``, RE-ENCODE a spec-conformant
    container), then re-parse the RESAMPLED bytes with the real
    decoder and aggregate exact signal statistics per source length.
    The DuckDB oracle replays law + time map analytically — a MATCH
    certifies the full parse → remap → encode → re-parse loop
    (x103 certifies the WAV read side; this adds the write side, as
    x116 did for BMP).

    Scale shape: ONE fused Arrow pipeline (build → resample →
    re-parse; payloads never shuffle) + a |n_in grains|-group
    aggregate; grouping key replays the law on media_id rather than
    re-running the builder (the x116 lesson).
    """
    from ..operators.multimodal import (
        decode_wav_features,
        resample_wav_nn,
        synth_wav_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synth_wav_media(docs)
    feats = decode_wav_features(resample_wav_nn(media, _X118_RATE))
    return (
        feats.select(
            "*",
            (F.lit(40) + F.col("media_id") % 25).cast("int")
            .alias("src_n_samples"),
        )
        .groupBy("src_n_samples")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            # re-parsed container properties: the law fixes them per
            # group, so min==max==expected iff every header is right
            F.min("n_samples").alias("n_samples"),
            F.max("n_samples").alias("n_samples_max"),
            F.min("sample_rate").alias("sample_rate"),
            F.sum("ssq").alias("sum_ssq"),
            F.sum(F.col("peak").cast("long")).alias("sum_peak"),
        )
        .orderBy("src_n_samples")
    )


QUERIES.update({"x118_wav_resample_stats": x118_wav_resample_stats})

ORACLE.update({
    "x118_wav_resample_stats": f"""
        WITH d AS (
            SELECT doc_id, 40 + doc_id % 25 AS n_in FROM documents
        ),
        j AS (
            SELECT doc_id, n_in,
                   n_in * {_X118_RATE} // 8000 AS n_out
            FROM d
        ),
        s AS (
            -- jj walks the RESAMPLED signal; the NN time map replays
            -- resample_wav_nn's exact integer arithmetic
            SELECT doc_id, n_in, n_out,
                   CAST(unnest(range(0, n_out)) AS BIGINT) AS jj
            FROM j
        ),
        v AS (
            SELECT doc_id, n_in, n_out,
                   ((doc_id*31 + ((jj * 8000) // {_X118_RATE}) * 7) % 65536)
                   - 32768 AS smp
            FROM s
        ),
        per AS (
            SELECT doc_id, n_in, n_out,
                   CAST(SUM(smp * smp) AS BIGINT) AS ssq,
                   CAST(MAX(ABS(smp)) AS BIGINT) AS peak
            FROM v GROUP BY 1, 2, 3
        )
        SELECT CAST(n_in AS INTEGER) AS src_n_samples,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(n_out) AS INTEGER) AS n_samples,
               CAST(MAX(n_out) AS INTEGER) AS n_samples_max,
               {_X118_RATE} AS sample_rate,
               CAST(SUM(ssq) AS BIGINT) AS sum_ssq,
               CAST(SUM(peak) AS BIGINT) AS sum_peak
        FROM per
        GROUP BY n_in
        ORDER BY src_n_samples
    """,
})


# --- r9: driver face for the custom-state streaming operator ----------------

def x111_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — ``applyInPandasWithState`` custom state through the real
    streaming engine (r8 verdict item 7: the one streaming module whose
    operator was pytest-only — x25 certifies the built-in
    ``session_window``, not the user-managed-state path). Per-user
    lifetime running totals accumulate in the executor state store
    across micro-batches and emit once per batch-with-data; the face
    runs the backlog to completion (availableNow), keeps each user's
    FINAL emission (n_events strictly increases per emit), and the
    oracle recomputes the lifetime totals from the batch table.

    Replay-exactness is the operator's design, not luck: state carries
    the value total in integer MICRO-UNITS (streaming/stateful.py — the
    exact_agg discipline), so the result is independent of how
    availableNow splits the backlog into micro-batches, and DuckDB
    derives the identical double from the identical integer. The TTL
    eviction path (processing-time timeout) stays pytest-certified —
    a timeout-armed stream never reports caught-up under availableNow
    (see user_running_totals's docstring).

    Scale shape: one shuffle per micro-batch on user_id; state is
    O(active users); the Arrow-batched update fn is the sanctioned
    non-JVM escape hatch (§2.7c) for semantics no built-in windowed
    aggregate expresses (unbounded lifetime accumulation with optional
    per-group TTL).
    """
    from ..streaming.stateful import user_running_totals

    totals = user_running_totals(events_stream(spark, sf_dir))
    return (
        drain_to_memory(totals, "x111", "update")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .orderBy("user_id")
    )


QUERIES.update({"x111_stateful_running_totals": x111_stateful_running_totals})

ORACLE.update({
    "x111_stateful_running_totals": """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e6 AS total_value
        FROM events
        GROUP BY 1
        ORDER BY 1
    """,
})


# --- r10: driver face for the stateful TTL/eviction path ---------------------

#: x112 timing knobs. The TTL must comfortably exceed one trigger
#: interval (so data batches re-arm it before it fires mid-phase).
#: The inter-phase wait is EVIDENCE-based, not a blind sleep: the face
#: waits until the engine has completed an EMPTY batch whose start time
#: is past the TTL deadline — that batch is the one that checks timers,
#: so its completion proves `hasTimedOut` fired for every armed group
#: (a fixed sleep would flake on a stalled box and over-wait on a quiet
#: one). The poll below fails LOUDLY if eviction didn't happen; it can
#: never flaky-pass. The trigger interval is stored in MS and the
#: display string derived from it, so the clock-slack computation below
#: (3 trigger intervals) can never silently decouple from the trigger
#: the engine actually runs (r10 ADVICE).
_X112_TTL_MS = 1500
_X112_TRIGGER_MS = 250
_X112_TRIGGER = f"{_X112_TRIGGER_MS} milliseconds"
_X112_POLL_TIMEOUT_S = 120


def x112_stateful_ttl_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — the ``GroupStateTimeout.ProcessingTimeTimeout`` EVICTION
    branch of ``user_running_totals`` through the real engine (r9
    verdict item 2: the one remaining pytest-only streaming branch —
    x111 certifies lifetime totals, but with ``NoTimeout``, because a
    timeout-armed stream never reports caught-up under availableNow,
    re-verified this round). The face runs ONE continuous query
    (processing-time trigger) over a file source it feeds in phases:

    1. backlog A = the events of a bounded user cohort (one file, one
       micro-batch) — every user's state arms a TTL;
    2. an idle gap until the engine has COMPLETED an empty batch past
       the TTL deadline (`recentProgress` evidence — that batch is the
       timer check, so ``hasTimedOut`` has fired for every group and
       removed its state; eviction emits nothing, by design);
    3. backlog C = the SAME events of the reseen quarter of the cohort
       (user_id % 4 == 1), twice — written as ONE file via
       ``reseen.union(reseen)`` so the whole restart lands in ONE
       micro-batch (r10 verdict item 2: two back-to-back appends could
       split across a >TTL stall on a loaded box, evicting state
       mid-restart and failing the face loudly-but-flakily). Because
       their state was evicted, their totals RESTART: final
       n_events = 2·|A_u|, not 3·|A_u|.

    The restart is the observable consequence that certifies eviction:
    the face polls the sink for exactly the restart counts and raises
    after a timeout if they never appear (un-evicted state would sit at
    3·|A_u| forever — a loud failure, not a flaky pass). The oracle
    recomputes both cohorts from the events table arithmetically. The
    non-reseen users' final emissions are their phase-1 totals either
    way — their eviction is certified collectively by the reseen
    sample (same timer, same code path, same batch).

    Scale shape: state is O(active users) BY CONSTRUCTION here — this
    face is the 24/7-deployment story (x111's NoTimeout form is the
    bounded-backlog story); one shuffle per micro-batch on user_id.
    """
    import datetime
    import os
    import shutil
    import tempfile
    import time
    import uuid

    from ..streaming.stateful import user_running_totals

    ev = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("user_id") >= 1) & (F.col("user_id") <= 40))
        .select("user_id", "value")
    )
    # bounded driver-side fetch: one row per cohort user (≤ 40)
    counts = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    want_restart = {u: 2 * n for u, n in counts.items() if u % 4 == 1}

    root = tempfile.mkdtemp(prefix="x112_")
    src = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)

    # phase 1: one file → one micro-batch → every user armed at once
    ev.coalesce(1).write.mode("append").parquet(src)

    name = "x112_" + uuid.uuid4().hex[:8]
    q = (
        user_running_totals(
            spark.readStream.schema("user_id long, value double")
            .parquet(src),
            idle_timeout_ms=_X112_TTL_MS,
        )
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(processingTime=_X112_TRIGGER)
        .start()
    )

    def _poll(cond, what: str) -> None:
        t0 = time.time()
        while time.time() - t0 < _X112_POLL_TIMEOUT_S:
            if cond():
                return
            time.sleep(0.3)
        raise RuntimeError(
            f"x112: {what} never observed within "
            f"{_X112_POLL_TIMEOUT_S}s — TTL eviction did not behave"
        )

    try:
        _poll(
            lambda: spark.table(name).select("user_id").distinct().count()
            == len(counts),
            "phase-1 emissions for the full cohort",
        )
        # evidence-based eviction wait: the TTL armed no later than NOW
        # (the arming batch's emissions are already visible), so once an
        # EMPTY batch has COMPLETED whose start time is past now + TTL
        # (+3 trigger intervals of clock slack), that batch checked the
        # timers — hasTimedOut fired and removed every group's state.
        evict_after = (time.time() + _X112_TTL_MS / 1000.0
                       + 3 * _X112_TRIGGER_MS / 1000.0)

        def _timers_checked() -> bool:
            for p in q.recentProgress:
                ts = datetime.datetime.fromisoformat(
                    p["timestamp"].replace("Z", "+00:00")
                ).timestamp()
                if ts >= evict_after and p["numInputRows"] == 0:
                    return True
            return False

        _poll(_timers_checked,
              "a completed empty timer batch past the TTL deadline")

        # ONE file carrying every reseen event TWICE: a single commit →
        # a single source file → a single micro-batch, so a >TTL stall
        # between triggers can never evict the re-armed state mid-restart
        # (the back-to-back two-append form had that flake-to-red window)
        reseen = ev.filter(F.col("user_id") % 4 == 1)
        reseen.union(reseen).coalesce(1).write.mode("append").parquet(src)

        def _restarted() -> bool:
            got = {
                r.user_id: r.n_events
                for r in spark.table(name)
                .filter(F.col("user_id") % 4 == 1)
                .groupBy("user_id")
                .agg(F.max("n_events").alias("n_events"))
                .collect()
            }
            return got == want_restart

        _poll(_restarted, "post-eviction RESTART counts (2·|A_u|)")
    finally:
        q.stop()
        # the result below reads the MEMORY sink, not the files — the
        # source/checkpoint scratch is dead weight once the query stops
        shutil.rmtree(root, ignore_errors=True)

    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .orderBy("user_id")
    )


QUERIES.update({"x112_stateful_ttl_eviction": x112_stateful_ttl_eviction})

ORACLE.update({
    "x112_stateful_ttl_eviction": """
        WITH base AS (
            SELECT user_id, COUNT(*) AS n,
                   SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) AS mu
            FROM events
            WHERE user_id BETWEEN 1 AND 40
            GROUP BY 1
        )
        SELECT user_id,
               CAST(CASE WHEN user_id % 4 = 1 THEN 2 * n ELSE n END
                    AS BIGINT) AS n_events,
               CAST(CASE WHEN user_id % 4 = 1 THEN 2 * mu ELSE mu END
                    AS DOUBLE) / 1e6 AS total_value
        FROM base
        ORDER BY user_id
    """,
})
