"""Deduplication operators at 100 TB scale (SURVEY.md §2.9 X1-X2).

Generalizes the reference's MD5 row-hash dedup
(``dags/tasks/ingestion.py:69-90``) to the operators a training-data
pipeline needs: MinHash+LSH near-dedup, SimHash, and n-gram Jaccard
similarity dedup. Exact content dedup is one aggregate on the
normalized-content fingerprint inside ``jobs/corpus_pipeline.py``.

Scale posture:
- MinHash/LSH: banding turns O(n²) pair generation into an equi-join on
  (band, bucket-signature) — the shuffle key is the band hash, so skew is
  bounded by band-bucket size, not corpus size. The same banding screens
  new documents against stored corpus signatures
  (``screen_against_ledger``) without re-sketching the corpus.
- SimHash: 64-bit signature per doc from token-hash bit votes; candidate
  pairs via banded equi-join on signature quarters (Hamming ≤ k guarantees
  one exact quarter match for k ≤ 3 — pigeonhole).
- n-gram Jaccard: exact verification on candidate pairs only (never a full
  cross join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.text import shingles_expr, tokens_expr
from ..session import scale_out


# --------------------------------------------------------------------------
# shared shingle stage
# --------------------------------------------------------------------------

def document_grams(df: DataFrame, text_col: str, id_col: str,
                   shingle_n: int = 3, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """(id, keep_cols..., grams) with ``grams`` = distinct xxhash64 values
    of the word n-gram shingles — the shared first stage of every
    shingle-based sketch.

    Tokenize+shingle is the CPU-dominant stage of near-dedup; when one
    query needs several sketches over the same corpus (x08 runs exact
    Jaccard AND MinHash), compute this once, ``persist()`` it, and feed
    both operators. MinHash is invariant to the distinct (min over a
    multiset = min over its set), and exact Jaccard is defined on the
    set, so distinct grams serve every consumer.

    Grams are stored as 64-bit hashes, not strings: every consumer is
    hash-based anyway (MinHash seeds from ``xxhash64(shingle)``; the
    Jaccard postings join only needs equality), fixed-width longs cache
    and shuffle at a fraction of the string cost (measured 3.0s → 0.9s
    materializing sf0.1 grams), and the set semantics survive hashing up
    to 64-bit collisions — P(any collision within a d-gram doc) ≈
    d²/2⁶⁵, ~1e-9 for 10k-gram docs, and only *intra-document*
    collisions can perturb a Jaccard count. At 100 TB the persisted
    handle becomes a checkpoint table — same never-recompute-a-sketch
    rule as the signature self-joins below.

    Short docs keep an EMPTY grams array rather than being filtered:
    a trailing ``filter(size(grams) > 0)`` gets predicate-pushed through
    the projection, substituting the whole tokenize+shingle+hash tree
    into the predicate and evaluating it twice per row (measured 4.0s →
    0.66s materializing sf0.1 grams). Every consumer explodes ``grams``,
    and explode drops empty arrays for free."""
    df = scale_out(df, id_col)
    keep = [F.col(c) for c in keep_cols]
    return (
        df.select(
            F.col(id_col).alias("id"), *keep,
            tokens_expr(F.lower(F.col(text_col))).alias("toks"),
        )
        .select(
            "id", *keep_cols,
            F.array_distinct(
                F.transform(shingles_expr(F.col("toks"), shingle_n),
                            lambda s: F.xxhash64(s))
            ).alias("grams"),
        )
    )


# --------------------------------------------------------------------------
# X2a: MinHash + LSH near-dedup
# --------------------------------------------------------------------------

def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_hashes: int = 32, shingle_n: int = 3,
                       grams: DataFrame | None = None) -> DataFrame:
    """(id, signature array) per document; empty docs get no signature.

    Shape: explode shingles → ``num_hashes`` seeded xxhash64 columns →
    ``groupBy(id).agg(min, ...)``. Exploding beats computing the hashes
    over the shingle *array* (array-expression form): Catalyst's
    projection collapse would inline the shingle-building transform into
    every one of the ``num_hashes`` expressions and re-evaluate it 32×
    (measured 40s → 2s at sf0.1). The groupBy also map-side combines, so
    the only shuffle carries one partial signature per (partition, id).

    Pass ``grams`` (a :func:`document_grams` result, ideally persisted)
    to reuse a shingle table shared with other sketches — min over the
    distinct gram set equals min over the raw shingle multiset, so the
    signatures are identical either way.
    """
    if grams is None:
        grams = document_grams(df, text_col, id_col, shingle_n)
    # grams are already xxhash64(shingle) — the base hash h directly
    exploded = grams.select("id", F.explode("grams").alias("h"))
    # hash family: h_i = xxhash64(shingle, seed=i) built from the single
    # base hash via re-hash with the seed (one hash of a long, cheap)
    aggs = [
        F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return (
        exploded.groupBy("id").agg(*aggs)
        .select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))
    )


def require_band_geometry(num_hashes: int, num_bands: int) -> None:
    """``_banded`` slices signatures into ``num_bands`` bands of
    exactly 4 elements. Any other (num_hashes, num_bands) pairing is
    silently wrong: missing slots band as NULL → concat_ws('') →
    every doc shares one bucket per broken band (an O(n²) near-cross
    join; ARRAY_INDEX_OUT_OF_BOUNDS under ANSI), while extra slots are
    ignored (silent recall loss). Every banding entry point validates."""
    if num_hashes != 4 * num_bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must equal 4*num_bands "
            f"({num_bands}): _banded uses 4 signature elements per band"
        )


def _banded(sigs: DataFrame, num_bands: int) -> DataFrame:
    """Explode a signature DataFrame into (id, sig, band, bucket) rows —
    bucket = hash of the band's signature slice."""
    return sigs.select(
        "id", "sig",
        F.posexplode(
            F.array(*[
                F.xxhash64(F.concat_ws(",", *[
                    F.element_at("sig", i + 1).cast("string")
                    for i in range(b * 4, (b + 1) * 4)
                ])).alias(f"b{b}")
                for b in range(num_bands)
            ])
        ).alias("band", "bucket"),
    )


def minhash_neardup_pairs(df: DataFrame, text_col: str, id_col: str,
                          threshold: float = 0.7, num_hashes: int = 32,
                          num_bands: int = 8, shingle_n: int = 3,
                          grams: DataFrame | None = None) -> DataFrame:
    """Candidate pairs verified by estimated Jaccard (fraction of matching
    minhashes). Returns (a, b, est_jaccard ≥ threshold).

    The signatures ride along through the banding self-join, so
    verification needs no extra joins back to the signature table — and
    the signature table is persisted so the self-join's two sides share
    one computation (measured 4.4s → 1.2s at sf0.1). At 100 TB the same
    principle holds with signatures written to storage (a checkpoint
    table) instead of executor cache: never recompute a shuffle-heavy
    sketch for both sides of a self-join. A pair matching in several
    bands dedups *after* the (cheap, 32-comparison) estimate via
    distinct."""
    require_band_geometry(num_hashes, num_bands)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n,
                              grams=grams).persist()
    banded = _banded(sigs, num_bands)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"),
                F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
        .withColumn("est_jaccard", _est_jaccard(num_hashes))
        .filter(F.col("est_jaccard") >= threshold)
        .select("a", "b", F.round("est_jaccard", 6).alias("est_jaccard"))
        .distinct()
    )


def _est_jaccard(num_hashes: int) -> Column:
    """Estimated Jaccard of the ``sig_a``/``sig_b`` columns: the
    fraction of matching minhashes."""
    return (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0), lambda acc, v: acc + v,
        ) / F.lit(num_hashes)
    )


def screen_against_ledger(new_sigs: DataFrame, ledger_sigs: DataFrame,
                          *, threshold: float = 0.7,
                          num_hashes: int = 32,
                          num_bands: int = 8) -> DataFrame:
    """(id, matched_id, est_jaccard) for every new document whose
    estimated Jaccard against SOME ledger document clears the
    threshold — the incremental question "which NEW documents are
    near-duplicates of the corpus", answered without re-sketching the
    corpus: only ``new_sigs`` need computing, ``ledger_sigs`` are the
    stored corpus signatures. One row per flagged new id (best match:
    max estimate, min matched_id as the deterministic tie-break).

    Band-bucket equi-join (per-bucket joins; the |new| × |ledger| pair
    space never materializes), then est-Jaccard verify."""
    require_band_geometry(num_hashes, num_bands)
    p = _banded(new_sigs, num_bands).alias("p")
    x = _banded(ledger_sigs.select("id", "sig"), num_bands).alias("x")
    cands = (
        p.join(x, (F.col("p.band") == F.col("x.band"))
               & (F.col("p.bucket") == F.col("x.bucket")))
        .select(F.col("p.id").alias("id"), F.col("x.id").alias("cand_id"),
                F.col("p.sig").alias("sig_a"), F.col("x.sig").alias("sig_b"))
        .distinct()
        .withColumn("est_jaccard", _est_jaccard(num_hashes))
        .filter(F.col("est_jaccard") >= threshold)
    )
    best = F.struct(
        F.col("est_jaccard"), (-F.col("cand_id")).alias("neg_id")
    )
    return (
        cands.groupBy("id")
        .agg(F.max(best).alias("b"))
        .select(
            "id",
            (-F.col("b.neg_id")).cast("bigint").alias("matched_id"),
            F.round("b.est_jaccard", 6).alias("est_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# X2b: SimHash
# --------------------------------------------------------------------------

def simhash_expr(hashes: Column, bits: int = 64) -> Column:
    """64-bit SimHash as pure expressions: takes a *materialized* array of
    per-token hashes (see simhash_signatures — the ``hashes`` expression is
    referenced by all 64 bit-vote aggregates, so it must be a bound
    attribute, not an inlined ``transform``; HOF lambdas get no CSE). For
    each bit position a vote (count of tokens with bit set vs total), bit
    set in the output if votes > half. JVM-side; no Python."""
    n = F.size(hashes)

    def _vote(bit: int):  # closure factory — see _minhash_signature note
        return lambda acc, h: (
            acc + F.shiftrightunsigned(h, bit).bitwiseAND(F.lit(1)).cast("int")
        )

    bit_votes = [
        (F.aggregate(hashes, F.lit(0), _vote(b)) * 2 > n).cast("long")
        for b in range(bits)
    ]
    out = F.lit(0).cast("long")
    for b, vote in enumerate(bit_votes):
        out = out.bitwiseOR(F.shiftleft(vote, b))
    return out


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    df = scale_out(df, id_col)
    # Materialize tokens, then token-hashes, each in its own projection —
    # the downstream expression references them many times (64 bit votes)
    # and HOF lambdas get no common-subexpression elimination. The
    # empty-doc filter runs on RAW text: a size(toks) filter would
    # predicate-push the tokenize tree into the filter and run it twice.
    toks = (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col).alias("id"),
                tokens_expr(F.lower(F.col(text_col))).alias("toks"))
    )
    hashed = toks.select(
        "id", F.transform("toks", lambda t: F.xxhash64(t)).alias("hashes")
    )
    return hashed.select("id", simhash_expr(F.col("hashes")).alias("simhash"))


def simhash_candidate_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Hamming-≤k candidates via 4-quarter banding (pigeonhole: ≤3 bit
    flips leave ≥1 of 4 16-bit quarters identical), then exact Hamming
    verification with bit_count(xor)."""
    quartered = sigs.select(
        "id", "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned("simhash", q * 16).bitwiseAND(F.lit(0xFFFF))
            for q in range(4)
        ])).alias("q", "qval"),
    )
    a, b = quartered.alias("a"), quartered.alias("b")
    return (
        a.join(b, (F.col("a.q") == F.col("b.q"))
               & (F.col("a.qval") == F.col("b.qval"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"),
                F.col("a.simhash").alias("ha"), F.col("b.simhash").alias("hb"))
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# --------------------------------------------------------------------------
# X2c: n-gram Jaccard (exact, on blocked pairs)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        block_col: str, threshold: float = 0.5,
                        shingle_n: int = 3,
                        grams: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard over distinct n-gram shingles via an inverted
    shingle index: explode docs to (block, shingle) postings, equi-join
    postings with themselves, count shared shingles per pair, and derive
    ``jaccard = common / (|A| + |B| - common)``.

    Scale shape: cost is the number of *shingle collisions* — pairs are
    generated only where a shingle is actually shared, so disjoint
    documents are never paired at all (a pair with jaccard ≥ t > 0 must
    share ≥ 1 shingle ⇒ the index is lossless for any positive
    threshold). This replaces the earlier block-bounded cross join with
    per-pair array_intersect, which touched all O(n²/blocks) pairs
    (measured 12.3s → 2.0s for the x08 certification at sf0.1); the
    shuffle key is (block, shingle), and a pathological hot shingle is a
    skew key AQE's skew-join splitting handles."""
    # persisted at the grams level: the shingle computation is the
    # expensive part and is referenced by the n projection, the explode,
    # AND both sides of the self-join — without the persist, collapsed
    # projections re-evaluate it per reference (measured 8.6s → 4.7s for
    # postings materialization at sf0.1; same never-recompute-a-sketch
    # rule as minhash above). A caller-supplied
    # ``grams`` (document_grams with block_col in keep_cols, persisted by
    # the caller) lets several sketches share one shingle table.
    if grams is None:
        grams = document_grams(df, text_col, id_col, shingle_n,
                               keep_cols=(block_col,)).persist()
    docs = grams.select("id", F.col(block_col).alias("block"), "grams")
    postings = docs.select(
        "id", "block", F.size("grams").alias("n"),
        F.explode("grams").alias("shingle"),
    )
    a, b = postings.alias("a"), postings.alias("b")
    common = (
        a.join(b, (F.col("a.block") == F.col("b.block"))
               & (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("a"), F.col("b.id").alias("b"),
            F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    return common.select(
        "a", "b",
        (F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


# --------------------------------------------------------------------------
# shared prefix-filter machinery (AllPairs/PPJoin family)
# --------------------------------------------------------------------------

def prefix_filter_postings(grams: DataFrame, prefix_len,
                           block_col: str = "lang"):
    """The losslessness-critical core shared by the prefix-filtered
    set-similarity joins (x60 Jaccard, x67b containment): explode a
    ``document_grams`` table into postings, rank each document's
    shingles RARE-FIRST under one global order (document frequency
    ascending, shingle hash as the deterministic tie-break), cut each
    document to its prefix, and prune df=1 postings.

    ``prefix_len`` maps the doc-size Column ``n`` to the prefix bound
    Column — ``n − ⌈t·n⌉ + 1`` for Jaccard ≥ t (both sides) and for
    max-containment ≥ t (probe side; the lemma's overlap bound is
    ⌈t·min(na,nb)⌉, witnessed inside the SMALLER doc's prefix).

    Returns ``(prefix, full_df2)`` — prefix postings and the
    df≥2-pruned FULL postings (the containment join's index side) —
    both with columns ``(id, block_col, n, g)``. The df≥2 prune is
    lossless on BOTH: the colliding witness the prefix lemma
    guarantees is shared by two documents, so its df is ≥ 2; a
    unique shingle can never produce a candidate. Factored here
    because the two consumers' blocks had to receive the round-6
    prune separately — a future bound/tie-break fix must not be able
    to desynchronize the certified and product paths.
    """
    postings = grams.select(
        "id", block_col, F.size("grams").alias("n"),
        F.explode("grams").alias("g"),
    )
    gfreq = postings.groupBy("g").agg(F.count("*").alias("gf"))
    # SIZE-GATED broadcast (r7 review + the x16 conf-gate pattern):
    # gfreq has one row per DISTINCT shingle — billions at corpus
    # scale, where a forced hint would OOM the driver; but dropping
    # the hint entirely makes small corpora pay the postings side's
    # map-shuffle write before AQE broadcast-converts (measured +0.7 s
    # on x60 at sf0.1). Default ON for the test/bench scales; corpus
    # deployments flip ``spark.graft.prefix.broadcastGramFreq`` to
    # false and get the shuffle join AQE would have to pick anyway.
    bc = grams.sparkSession.conf.get(
        "spark.graft.prefix.broadcastGramFreq", "true"
    ) == "true"
    with_freq = postings.join(F.broadcast(gfreq) if bc else gfreq, "g")
    prefix = (
        with_freq
        .withColumn(
            "rk", F.row_number().over(W.partitionBy("id").orderBy("gf", "g"))
        )
        .filter(F.col("rk") <= prefix_len(F.col("n")))
        .filter(F.col("gf") >= 2)
        .select("id", block_col, "n", "g")
    )
    full_df2 = with_freq.filter(F.col("gf") >= 2) \
        .select("id", block_col, "n", "g")
    return prefix, full_df2
