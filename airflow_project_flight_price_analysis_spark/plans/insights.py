"""Round-5 analytics extensions — iterative graph scoring, robust
statistics, corpus-distribution diagnostics, and language-quality
auditing (SURVEY.md §2.9 X4/X6 extension surface).

Same driver contract as the other plan modules: every query pairs with
DuckDB oracle SQL under identical column aliases; counts CAST to BIGINT
in the oracle; doubles ROUNDed so cross-engine libm last-ulp noise can't
break the value hash (the x39/x71 ln-parity precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.text import lang_id_expr, tokens_expr
from ..sources import load_table

QUERIES: dict = {}
ORACLE: dict = {}

# Fixed PageRank iteration count — part of the operator's definition
# (both engines run exactly K steps from the uniform vector, so the
# result is deterministic and oracle-checkable; convergence-threshold
# variants would couple the row set to FP noise).
PAGERANK_ITERS = 10
PAGERANK_DAMPING = 0.85


# --- iterative graph scoring ------------------------------------------------

def x78_event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph — the engine's
    iterative-algorithm showcase (the fixed-point sibling of x21's
    min-label propagation, but with weighted float state rather than
    label sets). Nodes are event types; edge weights are the
    row-normalized transition probabilities of x65's Markov matrix;
    ``PAGERANK_ITERS`` damped power-iteration steps from the uniform
    vector, exactly mirrored by a recursive CTE in the oracle.

    Precondition (asserted by ``tests/test_insights.py`` on every test
    SF): each event type occurs as BOTH transition source and target, so
    there is no dangling mass and no inbound-less node — the recursion
    then preserves the full node set every step in both engines without
    a second recursive self-reference (SQL recursive CTEs allow only
    one).

    Scale shape: ONE event-scale pass (the per-user lead window shared
    with x65/x71) builds the |types|² edge table; the K iterations then
    join/aggregate frames bounded by |types| rows — at 100 TB the
    iteration cost is independent of event count. No driver-side
    collect; n_nodes rides as a broadcast one-row aggregate.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    edges = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # persisted: every one of the K iterations joins
    # against p — without the persist each iteration RE-RUNS the
    # event-scale window+aggregate (measured: 22 parquet scans in the
    # executed plan vs 2 with it; the plan-shape test pins the 2).
    p = edges.withColumn(
        "p", F.col("n") / F.sum("n").over(W.partitionBy("from_type"))
    ).select("from_type", "to_type", "p").persist()

    nodes = (
        ev.select(F.col("event_type").alias("node"))
        .distinct().persist()
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("rank")
    )
    for _ in range(PAGERANK_ITERS):
        pr = (
            pr.join(p, pr.node == p.from_type)
            .groupBy(F.col("to_type").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("p")).alias("inbound"))
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (
                    (1.0 - PAGERANK_DAMPING) / F.col("n_nodes")
                    + PAGERANK_DAMPING * F.col("inbound")
                ).alias("rank"),
            )
        )
    return pr.select("node", F.round("rank", 6).alias("rank")).orderBy("node")


QUERIES["x78_event_pagerank"] = x78_event_pagerank

ORACLE["x78_event_pagerank"] = f"""
    WITH RECURSIVE pairs AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM events
    ),
    edges AS (
        SELECT from_type, to_type, COUNT(*) AS n
        FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    p AS (
        SELECT from_type, to_type,
               n * 1.0 / SUM(n) OVER (PARTITION BY from_type) AS p
        FROM edges
    ),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    pr AS (
        SELECT 0 AS k, node, 1.0 / n_nodes AS rank FROM nodes, nn
        UNION ALL
        SELECT pr.k + 1, p.to_type AS node,
               {1.0 - PAGERANK_DAMPING} / nn.n_nodes
                   + {PAGERANK_DAMPING} * SUM(pr.rank * p.p)
        FROM pr JOIN p ON pr.node = p.from_type CROSS JOIN nn
        WHERE pr.k < {PAGERANK_ITERS}
        GROUP BY pr.k + 1, p.to_type, nn.n_nodes
    )
    SELECT node, ROUND(rank, 6) AS rank
    FROM pr WHERE k = {PAGERANK_ITERS}
    ORDER BY node
"""


# --- robust statistics ------------------------------------------------------

def x79_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length-outlier screen: exact median + median
    absolute deviation, flagging documents beyond 3 scaled MADs
    (1.4826·MAD ≈ σ under normality) — the breakdown-resistant sibling
    of x43's winsorized moments (a single 10 GB document shifts a mean
    arbitrarily but moves a median by at most one rank). The curation
    use: catch sources whose length distribution has heavy-tail
    contamination before length-normalized sampling (x35) trusts it.

    Scale shape: exact grouped medians are two sort-based aggregations
    on the (source)-key — heavy but bounded shuffles (the documented
    cost of EXACT over approx; x12's approx_percentile is the cheap
    path); the deviation pass re-joins the |sources|-row median table
    broadcast-side. Output is |sources| rows.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    med = docs.groupBy("source").agg(
        F.median("n_chars").alias("med_chars")
    )
    dev = docs.join(F.broadcast(med), "source").select(
        "source", "med_chars",
        F.abs(F.col("n_chars") - F.col("med_chars")).alias("adev"),
        "n_chars",
    )
    mad = dev.groupBy("source").agg(
        F.first("med_chars").alias("med_chars"),
        F.median("adev").alias("mad_chars"),
    )
    return (
        dev.select("source", "n_chars")
        .join(F.broadcast(mad), "source")
        .withColumn(
            "is_out",
            (
                F.abs(F.col("n_chars") - F.col("med_chars"))
                > 3 * 1.4826 * F.col("mad_chars")
            ).cast("int"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.first("med_chars").alias("med_chars"),
            F.first("mad_chars").alias("mad_chars"),
            F.sum("is_out").cast("bigint").alias("n_outliers"),
        )
        .orderBy("source")
    )


QUERIES["x79_mad_outliers"] = x79_mad_outliers

ORACLE["x79_mad_outliers"] = """
    WITH med AS (
        SELECT source, median(n_chars) AS med_chars
        FROM documents GROUP BY 1
    ),
    mad AS (
        SELECT d.source, ANY_VALUE(m.med_chars) AS med_chars,
               median(abs(d.n_chars - m.med_chars)) AS mad_chars
        FROM documents d JOIN med m USING (source)
        GROUP BY 1
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ANY_VALUE(mad.med_chars) AS med_chars,
           ANY_VALUE(mad.mad_chars) AS mad_chars,
           CAST(SUM(CASE WHEN abs(d.n_chars - mad.med_chars)
                              > 3 * 1.4826 * mad.mad_chars
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM documents d JOIN mad USING (source)
    GROUP BY 1
    ORDER BY 1
"""


# --- corpus-distribution diagnostics ----------------------------------------

ZIPF_TOP_TERMS = 500


def x80_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law diagnostic: OLS fit of ln(freq) against ln(rank) over
    the top corpus terms. Natural text tracks slope ≈ −1; a corpus whose
    slope collapses toward 0 (flat head) or dives below −1.5 (template
    spam repeating a tiny vocabulary) failed collection or dedup — the
    one-number distribution-health check run before LM training trusts
    a corpus, complementing x74's token entropy (which measures the
    whole distribution, not its shape). Fit via regr_slope/intercept/r2
    on both engines (identical co-moment algebra).

    Rank determinism: freq DESC then term ASC — total order, identical
    in both engines (the x13 tie-break rule).

    Scale shape: one corpus-scale token pass → vocab-scale counts; the
    top-K head is a TakeOrdered (never a global sort), and the
    regression aggregates K rows to one. Output is one row.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    freq = (
        docs.select(
            F.explode(tokens_expr(F.lower(F.col("text")))).alias("term")
        )
        .groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    )
    top = freq.orderBy(F.desc("freq"), "term").limit(ZIPF_TOP_TERMS)
    ranked = top.select(
        F.log(
            F.row_number().over(W.orderBy(F.desc("freq"), "term")).cast("double")
        ).alias("lx"),
        F.log(F.col("freq").cast("double")).alias("ly"),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.round(F.expr("regr_slope(ly, lx)"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(ly, lx)"), 6).alias("intercept"),
        F.round(F.expr("regr_r2(ly, lx)"), 6).alias("r2"),
    )


QUERIES["x80_zipf_slope"] = x80_zipf_slope

ORACLE["x80_zipf_slope"] = rf"""
    WITH freq AS (
        SELECT term, COUNT(*) AS freq FROM (
            SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
            FROM documents WHERE trim(text) <> ''
        ) GROUP BY 1
    ),
    top AS (
        SELECT term, freq FROM freq
        ORDER BY freq DESC, term LIMIT {ZIPF_TOP_TERMS}
    ),
    ranked AS (
        SELECT ln(ROW_NUMBER() OVER (ORDER BY freq DESC, term)) AS lx,
               ln(freq) AS ly
        FROM top
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(regr_slope(ly, lx), 6) AS slope,
           ROUND(regr_intercept(ly, lx), 6) AS intercept,
           ROUND(regr_r2(ly, lx), 6) AS r2
    FROM ranked
"""


# --- language-quality audit -------------------------------------------------

def x81_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-metadata audit: confusion matrix of the declared ``lang``
    column against x05's heuristic language-ID prediction — the
    mislabeled-language detector a curation pipeline runs because
    upstream lang tags are crawler guesses, and routing zh text into an
    en-only training mix silently degrades both. Diagonal = agreement;
    off-diagonal cells name exactly which (declared → detected) flows
    need review. Composes ``lang_id_expr`` (x05) with the declared
    column; the oracle re-derives the prediction in pure SQL.

    Scale shape: one corpus pass, map-side expression scoring (zero
    Python), one |langs|²-bounded aggregate. Output ≤ |langs|² rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id_expr("text").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("lang", "pred_lang")
    )


QUERIES["x81_lang_confusion"] = x81_lang_confusion

# mirrors functions/text.lang_id_expr exactly (the x05 oracle, with the
# declared lang carried through): han-ratio > 0.2 -> zh; else argmax of
# per-language stopword hit-rate with Spark's struct-max tie-break
# (lexicographically larger lang wins a tie: fr > es > en > de); no
# hits -> und.
ORACLE["x81_lang_confusion"] = r"""
    WITH scored AS (
        SELECT lang,
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
        SELECT lang, CASE
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
    SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- bigram language-model scoring ------------------------------------------

def x82_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal per source: train an add-one-smoothed bigram
    model on the corpus itself, score every document's mean
    −ln P(wᵢ | wᵢ₋₁), and aggregate per source — the second-order
    extension of x39's unigram LM score (x39 catches odd vocabulary;
    this catches odd *sequencing*: shuffled words, concatenation
    artifacts, template glue that unigram stats cannot see). Context
    counts use bigram-start occurrences, so P sums to 1 over the
    smoothed vocabulary per context.

    Scale shape: bigrams are built map-side from the token array
    (slice+zip — no per-position window pass), counted in one shuffle
    keyed by the pair, and scored by joining the doc-bigram stream back
    to the count table on the same pair key (co-partitioned); the
    vocab-scale context table and the one-row |V| aggregate ride as
    broadcasts. Python never touches a row.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    toks = docs.select(
        "doc_id", "source", tokens_expr(F.lower(F.col("text"))).alias("t")
    ).filter(F.size("t") >= 2)
    bi = toks.select(
        "doc_id", "source",
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("pr"),
    ).select("doc_id", "source", F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
    cb = bi.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    ctx = bi.groupBy("a").agg(F.count(F.lit(1)).alias("c_a"))
    vocab = (
        docs.select(F.explode(tokens_expr(F.lower(F.col("text")))).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    scored = (
        bi.join(cb, ["a", "b"])
        .join(F.broadcast(ctx), "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id", "source",
            (-F.log((F.col("c_ab") + 1.0) / (F.col("c_a") + F.col("v")))).alias("s"),
        )
    )
    per_doc = scored.groupBy("doc_id", "source").agg(F.avg("s").alias("doc_s"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("doc_s"), 6).alias("avg_surprisal"),
        )
        .orderBy("source")
    )


QUERIES["x82_bigram_surprisal"] = x82_bigram_surprisal

ORACLE["x82_bigram_surprisal"] = r"""
    WITH toks AS (
        SELECT doc_id, source,
               string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents
        WHERE trim(text) <> ''
          AND len(string_split_regex(trim(lower(text)), '\s+')) >= 2
    ),
    bi AS (
        SELECT doc_id, source, pr[1] AS a, pr[2] AS b FROM (
            SELECT doc_id, source,
                   unnest(list_zip(list_slice(t, 1, len(t) - 1),
                                   list_slice(t, 2, len(t)))) AS pr
            FROM toks
        )
    ),
    cb AS (SELECT a, b, COUNT(*) AS c_ab FROM bi GROUP BY 1, 2),
    ctx AS (SELECT a, COUNT(*) AS c_a FROM bi GROUP BY 1),
    vocab AS (
        SELECT COUNT(DISTINCT term) AS v FROM (
            SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
            FROM documents WHERE trim(text) <> ''
        )
    ),
    scored AS (
        SELECT bi.doc_id, bi.source,
               -ln((cb.c_ab + 1.0) / (ctx.c_a + vocab.v)) AS s
        FROM bi JOIN cb USING (a, b) JOIN ctx USING (a) CROSS JOIN vocab
    ),
    per_doc AS (
        SELECT doc_id, source, AVG(s) AS doc_s FROM scored GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(doc_s), 6) AS avg_surprisal
    FROM per_doc
    GROUP BY 1
    ORDER BY 1
"""


# --- graph topology ---------------------------------------------------------

#: Broadcast the out-adjacency table while the SUPPLIER count keeps its
#: worst-case size bounded: the co-supply graph's nodes are suppliers,
#: so edges ≤ C(n_sup, 2) and the adjacency payload ≤ C(n_sup, 2) pair
#: slots ≈ 72 MB at this cap even for a COMPLETE graph — comfortably
#: broadcastable, while any larger corpus falls back to the shuffled
#: equi-join long before a 100 TB graph could OOM a broadcast. Gating
#: on the supplier table's parquet-footer row count (driver-side
#: metadata read, no Spark job) keeps the whole query ONE lazy plan —
#: an in-plan e.count() gate was measured to serialize the pipeline
#: into two jobs and give the win back.
_X83_BROADCAST_SUPPLIER_CAP = 3_000


# Promoted to the shared plans/_util.py (ADVICE r14 — x131 imported a
# private name across plan modules); the old name stays importable for
# existing callers/tests.
from ._util import parquet_num_rows as _parquet_num_rows  # noqa: E402


def x83_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier co-supply graph (suppliers joined
    by supplying the same part, thresholded to the significantly-linked
    pairs: shared-part count ≥ mean + 0.5·σ of the pair distribution —
    SF-adaptive, so the graph is non-degenerate at every test scale).
    Reports node/edge/triangle counts and global transitivity
    (3·triangles / wedges) — the clustering diagnostic run before
    trusting a similarity graph's communities (x21/x44).

    Scale shape: the Spark side counts each triangle ONCE via
    degree-ordered edge orientation — every edge points from the
    (degree, id)-smaller endpoint to the larger — then sums
    ``|N+(u) ∩ N+(v)|`` over oriented edges (the edge-iterator /
    compact-forward algorithm), so no wedge-pair table is ever
    materialized; oriented out-degree is bounded by O(√m) (the
    arboricity cap), the classic skew cap for power-law graphs. The
    oracle counts the same triangles by the naive ordered join
    (s1<s2<s3); identical totals, different physical strategy.
    """
    # r14 (guide §2.5/§2.6): the distinct (p, s) table is only a few MB
    # at bench scale, so AQE coalesces its exchange to ONE partition —
    # and the self-join + pair aggregation below (the query's heaviest
    # CPU, a ~14× row expansion) then runs as a single task on one
    # core. An explicit hash repartition on the join key pins the
    # expansion's parallelism (explicit numPartitions is exempt from
    # AQE coalescing; keyed on p, the join reuses the exchange, and the
    # few-MB shuffle is noise next to the serialized expansion it
    # unlocks). The width is DERIVED FROM THE DATA, not the box (guide
    # §2: scale-adaptive, never a local-mode constant): the pair table
    # is capped at C(n_sup, 2) rows by construction, so size partitions
    # at ~64k pair rows each, clamped to the core count — sf0.1 lands
    # at 8 (A/B at 32 cores: width 32 → 8.97 s, 16 → 6.39, 8 → 6.16,
    # 4 → 7.07 full-query medians; over-width pays per-task/GC overhead
    # on a few-MB graph), and any corpus with ≥ ~2k suppliers saturates
    # to every core. Footer unreadable ⇒ width = all cores (safe).
    # C(n_sup, 2) is an UPPER BOUND, not the realized pair count — on a
    # sparse co-supply graph it over-widens relative to the data, which
    # the clamp-to-cores makes harmless (ADVICE r14).
    n_sup = _parquet_num_rows(f"{sf_dir}/supplier.parquet")
    cores = spark.sparkContext.defaultParallelism
    n_par = (
        max(1, min(cores, (n_sup * (n_sup - 1)) // 2 // 65536 + 1))
        if n_sup else cores
    )
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
        .repartition(n_par, "p")
    )

    a, b = ps.alias("a"), ps.alias("b")
    # pairs is consumed twice — the threshold aggregate AND the edge
    # filter — and it sits downstream of the query's heaviest work (the
    # lineitem distinct + part self-join + pair group-by), so persist it:
    # without this the whole co-supply construction runs twice (r6: the
    # r5 verdict's x83 trim item). MEMORY_AND_DISK, so at 100 TB this is
    # a spill-backed materialization of |co-supply pairs| rows, strictly
    # cheaper than a second full pass over lineitem.
    pairs = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .persist()
    )
    st = pairs.agg(
        (F.avg("shared") + 0.5 * F.stddev_pop("shared")).alias("thr")
    )
    e = (
        pairs.crossJoin(F.broadcast(st))
        .filter(F.col("shared") >= F.col("thr"))
        .select("s1", "s2")
    )
    e = e.persist()
    deg = (
        e.select(F.col("s1").alias("v"))
        .unionAll(e.select(F.col("s2").alias("v")))
        .groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    )
    # orient each edge from the (degree, id)-smaller endpoint
    d1 = deg.withColumnRenamed("v", "s1").withColumnRenamed("d", "d1")
    d2 = deg.withColumnRenamed("v", "s2").withColumnRenamed("d", "d2")
    oe = (
        e.join(d1, "s1").join(d2, "s2")
        .select(
            F.when(
                (F.col("d1") < F.col("d2"))
                | ((F.col("d1") == F.col("d2")) & (F.col("s1") < F.col("s2"))),
                F.struct(F.col("s1").alias("u"), F.col("s2").alias("v")),
            ).otherwise(
                F.struct(F.col("s2").alias("u"), F.col("s1").alias("v"))
            ).alias("uv")
        )
        .select("uv.u", "uv.v")
        # same single-partition hazard as ps above: the oriented edge
        # list is ~2 MB cached, so without the pin the adjacency-
        # intersect stage (Σ |N+(u) ∩ N+(v)| — the other CPU peak)
        # would run as one task against the broadcast adjacency
        .repartition(n_par, "u", "v")
        .persist()
    )
    # Triangle count WITHOUT materializing wedge pairs (r12, r11
    # verdict item 3): tri = Σ over oriented edges (u,v) of
    # |N+(u) ∩ N+(v)|. Each triangle {a<b<c} (in the (degree,id)
    # total order) has oriented edges a→b, a→c, b→c and is counted
    # exactly once — at edge (a,b), as c ∈ N+(a) ∩ N+(b). The
    # co-supply graph is DENSE (sf0.1: 151k edges over 1000 nodes →
    # ~11M wedges for 5.3M triangles), so the former wedge-pair
    # self-join materialized and shuffled ~11M rows; the adjacency
    # form ships each out-list once per incident edge and intersects
    # JVM-side. Out-degree under the degree orientation is bounded by
    # O(√m) (the arboricity cap), so per-row arrays stay ≤ ~√edges
    # wide on ANY graph. The adjacency table totals O(m) bytes — the
    # edge list again — so when the measured edge count is small it is
    # BROADCAST (both probe joins go map-side; A/B at sf0.1:
    # wedge-join 6.2-6.9 s, shuffled intersection 6.2-6.5 s, broadcast
    # intersection ~5.7 s full-pipeline, interleaved medians), and
    # above the supplier cap it falls back to the shuffled equi-join —
    # same semantics, no driver-size bet.
    # n_sup from the single footer read above (broadcast gate)
    adj = oe.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
    a_u = adj.select(F.col("u"), F.col("nbrs").alias("nu"))
    a_v = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv"))
    if n_sup is not None and n_sup <= _X83_BROADCAST_SUPPLIER_CAP:
        a_u, a_v = F.broadcast(a_u), F.broadcast(a_v)
    tri = (
        oe.join(a_u, "u").join(a_v, "v")
        .agg(F.coalesce(
            F.sum(F.size(F.array_intersect("nu", "nv"))), F.lit(0)
        ).alias("n_triangles"))
    )
    wedges = deg.agg(
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).alias("n_wedges")
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nodes.crossJoin(n_edges).crossJoin(tri).crossJoin(wedges)
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
            F.round(
                3.0 * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("transitivity"),
        )
    )


QUERIES["x83_triangle_count"] = x83_triangle_count

ORACLE["x83_triangle_count"] = """
    WITH ps AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    pairs AS (
        SELECT a.s AS s1, b.s AS s2, COUNT(*) AS shared
        FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
        GROUP BY 1, 2
    ),
    st AS (SELECT AVG(shared) + 0.5 * stddev_pop(shared) AS thr FROM pairs),
    e AS (SELECT s1, s2 FROM pairs, st WHERE shared >= thr),
    deg AS (
        SELECT v, COUNT(*) AS d FROM (
            SELECT s1 AS v FROM e UNION ALL SELECT s2 AS v FROM e
        ) GROUP BY 1
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM e a
        JOIN e b ON a.s2 = b.s1
        JOIN e c ON a.s1 = c.s1 AND b.s2 = c.s2
    ),
    wedges AS (SELECT SUM(d * (d - 1)) / 2.0 AS n_wedges FROM deg)
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles,
           ROUND(3.0 * tri.n_triangles / wedges.n_wedges, 6) AS transitivity
    FROM tri, wedges
"""


# --- feature engineering ----------------------------------------------------

N_BINS = 10


def x84_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature binning both ways: equi-DEPTH deciles from exact
    interpolated percentile bounds (each bin ≈ equal population) and
    equi-WIDTH buckets via ``width_bucket`` (each bin equal span) over
    document length — the discretization step before categorical
    encoders or per-bin sampling (x35). Output is the 2-D contingency
    of the two binnings: its off-diagonal mass IS the skewness evidence
    (a symmetric distribution aligns the two; a heavy tail pushes
    equi-width mass into the top equi-depth bins).

    Bin-assignment convention (pinned identically in both engines):
    equi-depth bin = 1 + #{bounds b : b ≤ x} over the 9 interior decile
    bounds; equi-width follows Oracle/Spark width_bucket semantics
    (x ≥ max → n+1 overflow bucket; DuckDB mirrors the exact
    floor((x−min)/((max−min)/n))+1 arithmetic, verified bit-parity on
    integer inputs).

    Scale shape: two one-row global aggregates (percentile bounds +
    min/max) broadcast into a map-side bin assignment — no per-row
    join, no sort; then one ≤ |bins|²-group aggregate. The exact
    percentile is the documented heavy-but-bounded sort (q27); at
    100 TB swap approx_percentile in with one line.
    """
    docs = load_table(spark, sf_dir, "documents").select("n_chars")
    qs = [i / N_BINS for i in range(1, N_BINS)]
    bounds = docs.agg(
        F.percentile("n_chars", F.lit(qs)).alias("bounds"),
        F.min("n_chars").alias("lo"),
        F.max("n_chars").alias("hi"),
    )
    return (
        docs.crossJoin(F.broadcast(bounds))
        .select(
            (
                1 + F.size(F.filter("bounds", lambda b: b <= F.col("n_chars")))
            ).alias("bin_depth"),
            F.expr(f"width_bucket(n_chars, lo, hi, {N_BINS})")
            .cast("int").alias("bin_width"),
            "n_chars",
        )
        .groupBy("bin_depth", "bin_width")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bin_depth", "bin_width")
    )


QUERIES["x84_quantile_binning"] = x84_quantile_binning

ORACLE["x84_quantile_binning"] = f"""
    WITH b AS (
        SELECT quantile_cont(n_chars,
                   [{", ".join(str(i / N_BINS) for i in range(1, N_BINS))}]
               ) AS bounds,
               MIN(n_chars) AS lo, MAX(n_chars) AS hi
        FROM documents
    ),
    binned AS (
        SELECT 1 + len(list_filter(b.bounds, x -> x <= d.n_chars)) AS bin_depth,
               CASE WHEN d.n_chars >= b.hi THEN {N_BINS + 1}
                    ELSE CAST(floor((d.n_chars - b.lo)
                              / ((b.hi - b.lo) / {N_BINS}.0)) + 1 AS INTEGER)
               END AS bin_width,
               d.n_chars
        FROM documents d, b
    )
    SELECT CAST(bin_depth AS INTEGER) AS bin_depth, bin_width,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM binned
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


TARGET_SMOOTHING = 100.0


def x85_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target-mean encoding of a categorical against a numeric
    target: market segment → mean order value, shrunk toward the global
    mean with pseudo-count m={TARGET_SMOOTHING} (enc = (Σy + m·ȳ)/(n + m)
    — the empirical-Bayes estimator that keeps rare categories from
    memorizing their few targets), plus the leave-one-out envelope
    (min/max of (Σy − yᵢ)/(n − 1)) that quantifies single-row leakage
    spread. This table is the artifact a feature pipeline broadcast-joins
    back onto the fact side.

    Scale shape: one broadcast dim join (customer → segment) + one
    |segments|-group aggregate; the global mean rides as a one-row
    broadcast. LOO extremes derive from (sum, count, min, max) — no
    per-row window needed.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", "o_totalprice")
    g = j.agg(F.avg("o_totalprice").alias("gmean"))
    m = TARGET_SMOOTHING
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_totalprice").alias("s"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )
        .crossJoin(F.broadcast(g))
        .select(
            "c_mktsegment",
            "n_orders",
            F.round(F.col("s") / F.col("n_orders"), 4).alias("raw_mean"),
            F.round(
                (F.col("s") + m * F.col("gmean")) / (F.col("n_orders") + m), 4
            ).alias("smoothed"),
            F.round(
                F.try_divide(F.col("s") - F.col("mx"),
                             F.col("n_orders") - 1), 4
            ).alias("loo_min"),  # 1-order segment (ANSI /0 throws)
            F.round(
                F.try_divide(F.col("s") - F.col("mn"),
                             F.col("n_orders") - 1), 4
            ).alias("loo_max"),
        )
        .orderBy("c_mktsegment")
    )


QUERIES["x85_target_encoding"] = x85_target_encoding

ORACLE["x85_target_encoding"] = f"""
    WITH j AS (
        SELECT c.c_mktsegment, o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (SELECT AVG(o_totalprice) AS gmean FROM j)
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice) / COUNT(*), 4) AS raw_mean,
           ROUND((SUM(o_totalprice) + {TARGET_SMOOTHING} * ANY_VALUE(g.gmean))
                 / (COUNT(*) + {TARGET_SMOOTHING}), 4) AS smoothed,
           ROUND((SUM(o_totalprice) - MAX(o_totalprice)) / (COUNT(*) - 1), 4)
               AS loo_min,
           ROUND((SUM(o_totalprice) - MIN(o_totalprice)) / (COUNT(*) - 1), 4)
               AS loo_max
    FROM j, g
    GROUP BY 1
    ORDER BY 1
"""


# --- distribution drift -----------------------------------------------------

def x86_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift screen: for every source, the
    KS statistic D = max |ECDF_source − ECDF_rest| of the document-length
    distribution against the pooled remainder — the nonparametric
    complement of x48's binned KL divergence (KL needs a bin choice and
    misses tail shifts between bin edges; KS is binning-free and
    supremum-sensitive). Sources ranked by D — the top of this list is
    where a mixture rebalance (x61) looks first.

    Scale shape: ECDFs evaluated only at observed jump points — the
    value grid is |distinct lengths| × |sources|, never row-scale; one
    (source, value) count shuffle, one |values|-row global cumulative
    join, one window pass per source over the value grid, one
    |sources|-row max aggregate.
    """
    d = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    # ONE corpus scan: the (source, n_chars) counts are the bounded
    # |sources|×|distinct lengths| grain every other statistic is an
    # aggregate OF — persist them and derive n_s/cnt_g/total/the value
    # grid downstream. The original five independent aggregates of the
    # raw projection re-scanned documents 5× (r13 RepeatedScan rule).
    cnt_s = d.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("c")).persist()
    n_s = cnt_s.groupBy("source").agg(F.sum("c").alias("n_src"))
    cnt_g = cnt_s.groupBy("n_chars").agg(F.sum("c").alias("cg"))
    total = cnt_s.agg(F.sum("c").alias("n_tot"))
    grid = (
        cnt_g.select("n_chars")
        .crossJoin(F.broadcast(n_s))
        .join(cnt_s, ["source", "n_chars"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
        .join(cnt_g, "n_chars")
        .crossJoin(F.broadcast(total))
    )
    w = (
        W.partitionBy("source").orderBy("n_chars")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ecdf = grid.select(
        "source", "n_src",
        (F.sum("c").over(w) / F.col("n_src")).alias("f_src"),
        F.try_divide(
            F.sum("cg").over(w) - F.sum("c").over(w),
            F.col("n_tot") - F.col("n_src"),  # single-source corpus: 0
        ).alias("f_rest"),
    )
    return (
        ecdf.groupBy("source")
        .agg(
            F.first("n_src").cast("bigint").alias("n_docs"),
            F.round(F.max(F.abs(F.col("f_src") - F.col("f_rest"))), 6).alias("ks"),
        )
        .orderBy(F.desc("ks"), "source")
    )


QUERIES["x86_ks_drift"] = x86_ks_drift

ORACLE["x86_ks_drift"] = """
    WITH n_s AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY 1),
    cnt_s AS (
        SELECT source, n_chars, COUNT(*) AS c FROM documents GROUP BY 1, 2
    ),
    cnt_g AS (SELECT n_chars, COUNT(*) AS cg FROM documents GROUP BY 1),
    total AS (SELECT COUNT(*) AS n_tot FROM documents),
    grid AS (
        SELECT s.source, x.n_chars, s.n_src, COALESCE(cnt_s.c, 0) AS c,
               cnt_g.cg, total.n_tot
        FROM (SELECT DISTINCT n_chars FROM documents) x
        CROSS JOIN n_s s
        LEFT JOIN cnt_s ON cnt_s.source = s.source AND cnt_s.n_chars = x.n_chars
        JOIN cnt_g ON cnt_g.n_chars = x.n_chars
        CROSS JOIN total
    ),
    ecdf AS (
        SELECT source, n_src,
               SUM(c) OVER wnd * 1.0 / n_src AS f_src,
               (SUM(cg) OVER wnd - SUM(c) OVER wnd) * 1.0
                   / (n_tot - n_src) AS f_rest
        FROM grid
        WINDOW wnd AS (
            PARTITION BY source ORDER BY n_chars
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        )
    )
    SELECT source,
           CAST(ANY_VALUE(n_src) AS BIGINT) AS n_docs,
           ROUND(MAX(ABS(f_src - f_rest)), 6) AS ks
    FROM ecdf
    GROUP BY 1
    ORDER BY ks DESC, source
"""


# --- heavy-tail estimation --------------------------------------------------

HILL_K = 200


def x87_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the term-frequency tail index over the top-K
    order statistics: α̂ = (K−1) / Σᵢ(ln xᵢ − ln x_K) — the
    maximum-likelihood Pareto exponent of the frequency head, the
    parametric cross-check of x80's Zipf OLS slope (for a pure Zipf
    corpus, slope ≈ −1/α̂; divergence between the two flags a head that
    is not actually power-law, i.e. template spam or a truncated
    vocabulary). One row out; reported with the implied Zipf slope for
    the side-by-side.

    Scale shape: identical posture to x80 — corpus-scale token pass →
    vocab-scale counts → top-K TakeOrdered → one-row aggregate.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    freq = (
        docs.select(
            F.explode(tokens_expr(F.lower(F.col("text")))).alias("term")
        )
        .groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    )
    top = freq.orderBy(F.desc("freq"), "term").limit(HILL_K)
    return top.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.min("freq").cast("bigint").alias("x_k"),
        F.round(
            F.try_divide(
                F.count(F.lit(1)) - 1,
                F.sum(F.log(F.col("freq").cast("double")))
                - F.count(F.lit(1)) * F.log(F.min("freq").cast("double")),
            ),  # all-equal top-k freqs: denominator 0 (ANSI /0 throws)
            6,
        ).alias("alpha"),
        F.round(
            F.try_divide(
                -(
                    F.sum(F.log(F.col("freq").cast("double")))
                    - F.count(F.lit(1))
                    * F.log(F.min("freq").cast("double"))
                ),
                F.count(F.lit(1)) - 1,  # 1-term vocab (ANSI /0 throws)
            ),
            6,
        ).alias("implied_zipf_slope"),
    )


QUERIES["x87_hill_tail_index"] = x87_hill_tail_index

ORACLE["x87_hill_tail_index"] = rf"""
    WITH freq AS (
        SELECT term, COUNT(*) AS freq FROM (
            SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
            FROM documents WHERE trim(text) <> ''
        ) GROUP BY 1
    ),
    top AS (
        SELECT term, freq FROM freq
        ORDER BY freq DESC, term LIMIT {HILL_K}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(MIN(freq) AS BIGINT) AS x_k,
           ROUND((COUNT(*) - 1)
                 / (SUM(ln(freq)) - COUNT(*) * ln(MIN(freq))), 6) AS alpha,
           ROUND(-(SUM(ln(freq)) - COUNT(*) * ln(MIN(freq)))
                 / (COUNT(*) - 1), 6) AS implied_zipf_slope
    FROM top
"""
