"""Similarity search over embedding columns (SURVEY.md §2.9 X3).

Two tiers, mirroring how a 100 TB pipeline actually runs ANN:

1. **Brute-force cosine top-k** — the exactness baseline. Query set ⋈
   corpus with the dot product as a JVM fold (``zip_with`` +
   ``aggregate``), per-query top-k via a window. Cost is |Q|·|C|; right
   when |Q| is small (the broadcast side) or as the verification pass.
2. **LSH-bucketed top-k** — random-hyperplane signatures (the same
   xxhash64-seeded JVM-expression trick as MinHash) bucket the corpus;
   candidates come from the query's bucket ± probing, then exact cosine
   re-ranks. Shuffle key = bucket, so the pair space never materializes.
   (pyspark.ml's BucketedRandomProjectionLSH offers the same shape; this
   implementation keeps everything in plain DataFrame expressions so it
   composes with the rest of the engine and needs no Vector conversion.)

Norms are precomputed once per side — never inside the pair loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def dot_expr(a: Column | str, b: Column | str) -> Column:
    """Dot product of two float-array columns as a sequential JVM fold
    (deterministic order — engine-portable values)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
    ))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self-matches).

    Output: (query_id, neighbor_id, rank, cosine) — cosine rounded to 6dp
    and used (rounded) as the ranking key with id tie-break, so ordering
    is stable across engines and float summation orders.

    The query side is broadcast: at scale queries ≪ corpus, so the plan
    is a broadcast nested-loop with no corpus shuffle; per-partition
    top-k candidates then combine in the window stage.

    Zero-norm vectors (padding rows, failed encodes) are DROPPED on
    both sides: they have no direction, their cosine is 0/0 = NaN, and
    Spark sorts NaN ABOVE every real double — one all-zero corpus row
    would otherwise become the rank-1 "neighbor" of every query.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_expr(vec_col).alias("c_norm"),
    ).filter(F.col("c_norm") > 0)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_expr(vec_col).alias("q_norm"),
    ).filter(F.col("q_norm") > 0)
    sim = F.round(
        dot_expr("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm")), 6
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# --------------------------------------------------------------------------
# LSH tier: random-hyperplane signatures without leaving DataFrame land
# --------------------------------------------------------------------------

def _hyperplane_bit(vec: Column, seed: int, dim: int) -> Column:
    """Sign bit of <vec, h_seed> where h_seed is a pseudo-random ±1
    hyperplane derived from xxhash64(index, seed) — deterministic,
    storage-free, computed as a JVM fold over the vector."""
    proj = F.aggregate(
        F.zip_with(
            vec,
            F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda i: (F.pmod(F.xxhash64(i, F.lit(seed)), F.lit(2)) * 2 - 1).cast("double")),
            lambda x, h: x * h,
        ),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    return (proj >= 0).cast("int")


def lsh_bucket_expr(vec: Column | str, num_bits: int = 8, dim: int = 64,
                    table: int = 0) -> Column:
    """Bucket id = packed sign bits of ``num_bits`` random projections.
    ``table`` offsets the hyperplane seeds so each hash table draws an
    independent set of hyperplanes (OR-amplification)."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    out = F.lit(0)
    for s in range(num_bits):
        out = out * 2 + _hyperplane_bit(vec, table * num_bits + s, dim)
    return out


def _lsh_tables(df: DataFrame, id_alias: str, vec_col: str,
                num_bits: int, num_tables: int, dim: int,
                id_col: str, keep_vec: bool) -> DataFrame:
    """Explode each vector into one (table_id, bucket) row per hash table."""
    cols = [
        F.col(id_col).alias(id_alias),
        F.posexplode(F.array(*[
            lsh_bucket_expr(vec_col, num_bits, dim, table=t)
            for t in range(num_tables)
        ])).alias("table_id", "bucket"),
    ]
    if keep_vec:
        cols += [F.col(vec_col).alias(f"{id_alias[0]}_vec"),
                 norm_expr(vec_col).alias(f"{id_alias[0]}_norm")]
    return df.select(*cols)


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             num_bits: int = 8, dim: int = 64, num_tables: int = 8) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH (OR-amplification): a
    candidate needs to share the query's bucket in ANY of ``num_tables``
    independent hash tables — recall ≈ 1-(1-p^b)^L instead of a single
    table's p^b (measured: one 4-bit table gave 0.14 recall@5 on the
    driver embeddings; 8 tables give ≥0.7). Candidates dedup across
    tables *before* the exact re-rank so each pair's cosine is computed
    once. The equi-join on (table_id, bucket) is the scale win — shuffle
    keyed by bucket, never a broadcast nested loop; storage cost is the
    L-way candidate explosion, the classic LSH trade."""
    c = _lsh_tables(corpus, "neighbor_id", vec_col, num_bits, num_tables,
                    dim, id_col, keep_vec=False)
    q = _lsh_tables(queries, "query_id", vec_col, num_bits, num_tables,
                    dim, id_col, keep_vec=False)
    cand = (
        q.join(c, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # zero-norm guard: same rationale as cosine_topk (NaN sorts first)
    cv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("c_vec"),
                       norm_expr(vec_col).alias("c_norm")) \
        .filter(F.col("c_norm") > 0)
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("q_vec"),
                        norm_expr(vec_col).alias("q_norm")) \
        .filter(F.col("q_norm") > 0)
    sim = F.round(
        dot_expr("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm")), 6
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", sim.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# --------------------------------------------------------------------------
# IVF tier: inverted-file ANN (coarse quantizer + per-bucket exact search)
# --------------------------------------------------------------------------

def ivf_assign(corpus: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign every vector to its nearest centroid (the IVF coarse
    quantizer). Centroids are broadcast (there are K ≪ |corpus| of them);
    argmin via row_number over the K candidate distances. Returns
    (id, vec, norm, centroid_id)."""
    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
        norm_expr(vec_col).alias("cent_norm"),
    )
    v = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm_expr(vec_col).alias("vnorm"),
    ).filter(F.col("vnorm") > 0)  # zero-norm guard (NaN sorts first)
    sim = dot_expr("vec", "cent_vec") / (F.col("vnorm") * F.col("cent_norm"))
    w = W.partitionBy("id").orderBy(F.desc("csim"), F.asc("centroid_id"))
    return (
        v.join(F.broadcast(c))
        .withColumn("csim", sim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "vec", "vnorm", "centroid_id")
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_centroids: int = 8, n_probe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF ANN: bucket the corpus by nearest centroid; each query probes
    its ``n_probe`` nearest centroid buckets and re-ranks exactly inside.

    Centroid 'training' is deterministic for reproducibility: the
    ``n_centroids`` smallest-id corpus vectors act as seeds (a
    k-means|| pass would slot in here unchanged). Seed selection is
    ``orderBy(id).limit(n)`` — NOT ``filter(id < n)``, which assumes
    dense 0-based ids and silently yields zero centroids (and an empty
    result) for 1-based or hash-surrogate ids. Zero-norm vectors are
    excluded from SEEDS too (r7 review): a zero-norm centroid makes
    every assignment csim 0/0 = NaN, which sorts FIRST under desc and
    collapses the whole index into that one bucket — turning the
    per-probe corpus/K cost guarantee into a full scan. The probe
    join's key is centroid_id — the pair space is corpus/K per probe,
    not the full corpus.
    """
    centroids = (
        corpus.filter(norm_expr(vec_col) > 0)
        .orderBy(F.col(id_col)).limit(n_centroids)
    )
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)

    cq = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
        norm_expr(vec_col).alias("cent_norm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_expr(vec_col).alias("q_norm"),
    ).filter(F.col("q_norm") > 0)  # zero-norm guard (NaN sorts first)
    qsim = dot_expr("q_vec", "cent_vec") / (F.col("q_norm") * F.col("cent_norm"))
    wq = W.partitionBy("query_id").orderBy(F.desc("qsim"), F.asc("centroid_id"))
    probes = (
        F.broadcast(q).join(F.broadcast(cq))
        .withColumn("qsim", qsim)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "q_vec", "q_norm", "centroid_id")
    )

    sim = F.round(
        dot_expr("q_vec", "vec") / (F.col("q_norm") * F.col("vnorm")), 6
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        probes.join(assigned, "centroid_id")
        .filter(F.col("query_id") != F.col("id"))
        .select("query_id", F.col("id").alias("neighbor_id"), sim.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# --------------------------------------------------------------------------
# Int8 quantization tier: 4x-smaller vectors, exact-integer scoring
# --------------------------------------------------------------------------

def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        qvec_col: str = "qvec", scale_col: str = "qscale",
                        bits: int = 8) -> DataFrame:
    """Per-vector symmetric linear quantization of a float embedding
    column to ``bits``-bit signed integers (default int8): per row,
    ``scale = max|x_i| / (2^(bits-1) - 1)`` and ``q_i = clamp(round(
    x_i / scale))``, stored as a ``byte`` array next to ``scale``.

    Why at 100 TB: embeddings dominate a similarity pipeline's bytes —
    int8 cuts scan/shuffle/cache volume 4x vs float32 while keeping
    cosine ranking nearly intact (certified by the x115 face, not
    assumed). Scoring needs no dequantization: for COSINE the
    per-vector scale cancels (a positive per-vector scalar doesn't
    change direction), so similarity is computed on the integer arrays
    alone; for raw dot products multiply by ``scale_a * scale_b``.
    Integer dots are also EXACT (sums of |q|<=127 products stay far
    inside double's 2^53 integer range), so quantized scores are
    bit-reproducible across engines, run layouts, and summation orders
    — the float fold's ulp caveats (x06/x107 adjudications) vanish on
    this path.

    Zero vectors (no direction) get ``scale = 0`` and an all-zero
    ``qvec`` — consumers keep excluding them exactly as ``cosine_topk``
    does. Everything is a map-side Catalyst projection: zero shuffles,
    zero UDFs.
    """
    if not 2 <= int(bits) <= 8:
        raise ValueError(f"bits must be in [2, 8], got {bits}")
    clash = [c for c in df.columns if c in (qvec_col, scale_col)]
    if clash:
        raise ValueError(
            f"input columns {clash} collide with quantize_embeddings "
            "outputs — rename them first (bloom.py reserved-name rule)"
        )
    levels = 2 ** (int(bits) - 1) - 1
    v = F.col(vec_col)
    # NULL-element guard (r11 ADVICE): Spark's greatest/least SKIP
    # nulls, so without this check a NULL element would silently fold
    # to absmax=0-or-wrong and round(NULL/scale) → NULL → clamp →
    # -levels, corrupting the vector. Raise-on-malformed, matching the
    # repo discipline; a NULL VECTOR still propagates to NULL
    # qvec/scale (forall over NULL is NULL → the when falls through).
    absmax = F.when(
        ~F.forall(v, lambda x: x.isNotNull()),
        F.raise_error(F.lit(
            f"quantize_embeddings: NULL element in '{vec_col}' — "
            "repair or filter malformed vectors upstream"
        )),
    ).otherwise(F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    ))
    out = df.withColumn(scale_col, absmax / F.lit(float(levels)))
    q = F.transform(
        v,
        lambda x: F.least(
            F.lit(levels).cast("double"),
            F.greatest(F.lit(-levels).cast("double"),
                       F.round(x.cast("double") / F.col(scale_col))),
        ).cast("byte"),
    )
    zeros = F.transform(v, lambda x: F.lit(0).cast("byte"))
    return out.withColumn(
        qvec_col, F.when(F.col(scale_col) > 0, q).otherwise(zeros)
    )


def quantized_cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          bits: int = 8) -> DataFrame:
    """``cosine_topk`` over the int8-quantized vectors — the
    4x-smaller scan/shuffle path. Same output contract and ranking
    discipline (cosine rounded to 6dp, id tie-break, zero-norm rows
    dropped on both sides); the dots/norms run on the integer arrays
    (exact — see quantize_embeddings), widened to double per element
    BEFORE multiplying: tinyint*tinyint stays tinyint, so 127*127
    overflows — an ANSI error under the session default (and a silent
    wrap with ANSI off; wrong either way).
    """
    widen = F.transform(F.col("qvec"), lambda x: x.cast("double"))
    qc = quantize_embeddings(corpus, vec_col=vec_col, bits=bits).select(
        F.col(id_col), widen.alias("__qd")
    )
    qq = quantize_embeddings(queries, vec_col=vec_col, bits=bits).select(
        F.col(id_col), widen.alias("__qd")
    )
    return cosine_topk(qc, qq, k=k, id_col=id_col, vec_col="__qd")
