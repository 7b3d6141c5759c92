"""IVF ANN recall and operator edge cases: vector search, band
geometry, sampling, range joins, bloom and ledger guards."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_project_flight_price_analysis_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
)


def _double_emb(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    )


def test_ivf_recall_against_brute_force(spark):
    emb = _double_emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, queries, k=5).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=3).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"
    # every query produced k results (buckets are never empty with probes)
    assert len(ivf) == 50


def test_zero_norm_vectors_never_pollute_topk(spark):
    """A padding/failed-encode all-zero vector has cosine 0/0 = NaN,
    and Spark sorts NaN ABOVE every real double — before the guard it
    became the rank-1 neighbor of every query."""
    from airflow_project_flight_price_analysis_spark.operators.similarity import (
        cosine_topk,
    )

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
        (3, [0.0, 0.0]),  # degenerate
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_topk(df, df.filter(F.col("vec_id") == 0), k=3)
    by_rank = {r.rank: r.neighbor_id for r in out.collect()}
    assert 3 not in by_rank.values()
    assert by_rank[1] == 1  # the real nearest neighbor holds rank 1


def test_ivf_seed_selection_survives_non_zero_based_ids(spark):
    """Seed selection is orderBy(id).limit(n); the old filter(id < n)
    yielded ZERO centroids (hence zero results) for 1000-based ids."""
    from airflow_project_flight_price_analysis_spark.operators.similarity import (
        ivf_topk,
    )

    rows = [(1000 + i, [float(i % 7), float((i * 3) % 5), 1.0])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ivf_topk(df, df.limit(3), k=2, n_centroids=4, n_probe=4)
    assert out.count() > 0


def test_band_geometry_is_validated(spark):
    import pytest

    from airflow_project_flight_price_analysis_spark.operators.dedup import (
        minhash_neardup_pairs,
        require_band_geometry,
    )

    with pytest.raises(ValueError, match="4\\*num_bands"):
        require_band_geometry(16, 8)
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="4\\*num_bands"):
        minhash_neardup_pairs(df, "text", "doc_id",
                              num_hashes=16, num_bands=8)


def test_exact_dedup_is_not_separator_injectable(spark):
    """('x|y','z') and ('x','y|z') concatenate identically under plain
    concat_ws — the length-prefixed encoding must keep them distinct, so
    an exact dedup on the row hash keeps both rows."""
    from airflow_project_flight_price_analysis_spark.functions.cleaning import (
        row_hash_expr,
    )

    df = spark.createDataFrame(
        [(1, "x|y", "z"), (2, "x", "y|z")], "id long, a string, b string")
    hashed = df.withColumn("row_hash", row_hash_expr(["a", "b"]))
    assert hashed.dropDuplicates(["row_hash"]).count() == 2


def test_stratified_sample_keeps_null_stratum(spark):
    from airflow_project_flight_price_analysis_spark.operators.sampling import (
        stratified_threshold_sample,
    )

    rows = [(i, "s" if i % 2 else None) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, src string")
    out = stratified_threshold_sample(df, fraction=0.5, key_col="k",
                                      strata_col="src")
    null_kept = out.filter(F.col("src").isNull()).count()
    # ~fraction of the 200 NULL-stratum rows; 0 was the bug
    assert 60 <= null_kept <= 140


def test_banded_range_join_exact_offset_band(spark):
    """lower == upper (exact-offset join): the old 1e-9 width clamp
    pushed bucket ids past double's 2^53 integer range; the 1 s floor
    must keep exact matches joinable."""
    import datetime

    from airflow_project_flight_price_analysis_spark.operators.asof import (
        banded_range_join,
    )

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, base)], "lid long, lts timestamp")
    right = spark.createDataFrame(
        [(2, base + datetime.timedelta(seconds=60))],
        "rid long, rts timestamp")
    out = banded_range_join(left, right, key_cols=[], left_ts="lts",
                            right_ts="rts", lower_seconds=60,
                            upper_seconds=60)
    assert out.count() == 1


def test_bloom_rejects_mixed_key_types(spark):
    import pytest

    from airflow_project_flight_price_analysis_spark.operators.bloom import (
        bloom_semi_join,
    )

    probe = spark.createDataFrame([(5,)], "k int")
    build = spark.createDataFrame([(5.0,)], "k double")
    with pytest.raises(TypeError, match="type mismatch"):
        bloom_semi_join(probe, build, "k", "k", expected_items=4)


def test_ledger_schema_drift_fails_loud(spark, tmp_path):
    """A bronze written without ``row_hash`` (before bronze kept its
    hash) is schema drift, not a first run: ingesting over it must fail,
    not re-ingest every row."""
    import pytest

    from airflow_project_flight_price_analysis_spark.operators.star import (
        BRONZE_COLS,
        ingest_increment,
    )

    incoming = spark.createDataFrame([tuple(f"v{i}" for i in range(17))],
                                     ", ".join(f"{c} string" for c in BRONZE_COLS))
    bronze = str(tmp_path / "bronze")
    incoming.withColumn("load_timestamp", F.current_timestamp()).write.parquet(bronze)
    with pytest.raises(Exception, match="schema drift"):
        ingest_increment(spark, incoming, bronze)


# --- r7: epoch shuffle + temperature mixture (operators/sampling.py) -------

def test_epoch_shuffle_reproducible_and_partition_invariant(spark):
    """epoch_shard is a pure function of (key, seed, n) — identical
    across runs AND input partitionings — shards are reasonably
    balanced, and the shard-major training order is a permutation that
    changes with the seed and walks the epoch hash in order (shards are
    contiguous hash bands)."""
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.sampling import (
        epoch_shuffle,
        md5_epoch_hash,
    )

    def training_order(df, seed):
        """(shard of each key, shard-major concatenation of the shards'
        in-partition orders) — what a loader reading the
        ``partitionBy("epoch_shard")`` files in shard order sees."""
        rows = epoch_shuffle(df, "k", seed=seed, n_shards=4).collect()
        per_shard: dict[int, list[int]] = {}
        for r in rows:
            per_shard.setdefault(r.epoch_shard, []).append(r.k)
        order = [k for s in sorted(per_shard) for k in per_shard[s]]
        return {r.k: r.epoch_shard for r in rows}, order, per_shard

    df = spark.range(0, 500).withColumnRenamed("id", "k")
    assign1, o1, per_shard = training_order(df, 7)
    assign2, o2, _ = training_order(df.repartition(17), 7)
    assert assign1 == assign2            # deterministic shard mapping
    assert o1 == o2                      # layout-independent order
    assert sorted(o1) == list(range(500))  # a permutation
    _, o3, _ = training_order(df, 8)
    assert o3 != o1                      # epochs differ
    sizes = [len(ks) for ks in per_shard.values()]
    assert len(sizes) == 4 and min(sizes) > 50
    # shards are CONTIGUOUS hash bands: the shard-major order visits
    # the epoch hash in non-decreasing order, so every hash in shard s
    # lies below every hash in shard s+1
    h = {r.k: r.h for r in
         df.select("k", md5_epoch_hash(F.col("k"), 7).alias("h")).collect()}
    seq = [h[k] for k in o1]
    assert seq == sorted(seq)


def test_md5_shard_helpers_match_epoch_shuffle_assignment(spark):
    """The x113 face computes shard ids via the exported
    ``md5_epoch_hash``/``md5_shard_expr`` helpers WITHOUT running the
    clustering shuffle — pin that the map-side assignment equals the
    operator's own ``epoch_shard`` output exactly, for both seeds the
    face uses, so the face can never certify a desynced copy."""
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.sampling import (
        epoch_shuffle,
        md5_epoch_hash,
        md5_shard_expr,
    )

    df = spark.range(0, 500).withColumnRenamed("id", "k")
    for seed in (7, 8):
        via_op = {
            r.k: r.epoch_shard
            for r in epoch_shuffle(df, "k", seed=seed,
                                   n_shards=8).collect()
        }
        via_expr = {
            r.k: r.s
            for r in df.select(
                "k", md5_epoch_hash(F.col("k"), seed).alias("__h")
            ).select("k", md5_shard_expr("__h", 8).alias("s")).collect()
        }
        assert via_op == via_expr


def test_temperature_mixture_flattens_small_sources(spark):
    """T=1 ≡ plain proportional sampling; T>1 keeps a LARGER fraction
    of the minority source than of the majority one; selection is
    deterministic and nested across base fractions."""
    from airflow_project_flight_price_analysis_spark.operators.sampling import (
        temperature_mixture_sample,
    )
    from pyspark.sql import functions as F

    rows = [(i, "big") for i in range(1800)] + \
           [(10_000 + i, "small") for i in range(200)]
    df = spark.createDataFrame(rows, "k long, source string")

    t1 = temperature_mixture_sample(df, "source", "k", 1.0, 0.3)
    by_src = {r.source: r.n for r in
              t1.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # T=1: every source keeps ~base_fraction
    assert abs(by_src["big"] / 1800 - 0.3) < 0.06
    assert abs(by_src["small"] / 200 - 0.3) < 0.12

    t3 = temperature_mixture_sample(df, "source", "k", 3.0, 0.3)
    by3 = {r.source: r.n for r in
           t3.groupBy("source").agg(F.count("*").alias("n")).collect()}
    frac_small, frac_big = by3["small"] / 200, by3["big"] / 1800
    assert frac_small > frac_big         # flattened toward uniform
    assert frac_small > 0.45             # minority upsampled vs base

    # nested: the 15% sample is a subset of the 30% sample
    t3_small = temperature_mixture_sample(df, "source", "k", 3.0, 0.15)
    keys30 = {r.k for r in t3.collect()}
    keys15 = {r.k for r in t3_small.collect()}
    assert keys15 <= keys30 and keys15


# --- r11: group-cohesive holdout split (operators/sampling.py) --------------

def test_holdout_split_cohesive_exhaustive_and_stable(spark):
    """Every row gets exactly one split label; rows sharing a group
    share a label (cohesion); the assignment is layout-independent and
    STABLE under corpus growth (old rows keep their split when new
    groups arrive); NULL groups cohere into one band."""
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.sampling import (
        holdout_split,
    )

    fr = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    df = spark.range(0, 600).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 50 == 49, None)
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 50)))
        .alias("grp"),
    )
    out = holdout_split(df, "grp", fr, seed=3)
    rows = out.collect()
    assert len(rows) == 600 and all(
        r.split in ("train", "val", "test") for r in rows
    )
    # cohesion: one label per group (NULL groups included)
    per_group = {}
    for r in rows:
        per_group.setdefault(r.grp, set()).add(r.split)
    assert all(len(s) == 1 for s in per_group.values())
    # layout-independence
    again = {r.row_id: r.split
             for r in holdout_split(df.repartition(13), "grp", fr,
                                    seed=3).collect()}
    assert again == {r.row_id: r.split for r in rows}
    # growth stability: adding new groups never moves an existing row
    grown = df.union(
        spark.range(600, 700).select(
            F.col("id").alias("row_id"),
            F.concat(F.lit("new"), F.col("id")).alias("grp"),
        )
    )
    grown_assign = {r.row_id: r.split
                    for r in holdout_split(grown, "grp", fr,
                                           seed=3).collect()}
    assert {k: v for k, v in grown_assign.items() if k < 600} == {
        r.row_id: r.split for r in rows
    }
    # a different seed produces a different carve
    other = {r.row_id: r.split
             for r in holdout_split(df, "grp", fr, seed=4).collect()}
    assert other != {r.row_id: r.split for r in rows}


def test_holdout_split_validates_spec(spark):
    import pytest

    from airflow_project_flight_price_analysis_spark.operators.sampling import (
        holdout_split,
        holdout_thresholds,
    )

    df = spark.range(5).withColumnRenamed("id", "g")
    with pytest.raises(ValueError, match="sum to 1"):
        holdout_split(df, "g", [("a", 0.5), ("b", 0.4)], seed=1)
    with pytest.raises(ValueError, match="at least 2"):
        holdout_split(df, "g", [("a", 1.0)], seed=1)
    with pytest.raises(ValueError, match="duplicate"):
        holdout_split(df, "g", [("a", 0.5), ("a", 0.5)], seed=1)
    with pytest.raises(ValueError, match="> 0"):
        holdout_split(df, "g", [("a", 1.1), ("b", -0.1)], seed=1)
    with pytest.raises(ValueError, match="collides"):
        holdout_split(df.withColumn("split", df.g), "g",
                      [("a", 0.5), ("b", 0.5)], seed=1)
    # bounds are exact integers, strictly increasing, inside the space
    b = holdout_thresholds([("a", 0.8), ("b", 0.1), ("c", 0.1)])
    assert b == sorted(b) and len(b) == 2 and 0 < b[0] < b[1] < 2 ** 60


# --- r11: int8 embedding quantization (operators/similarity.py) -------------

def test_quantize_embeddings_contract(spark):
    """Scale/clamp/zero-vector semantics; cosine ranking is preserved
    under quantization on an exactly-representable fixture; reserved
    output names are guarded."""
    import pytest
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0]), (3, [-2.0, 2.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    # per-vector scale = absmax/127; absmax element hits +-127 exactly
    assert rows[1].qvec == [127, -64, 32]   # round(63.5) HALF_UP -> 64
    assert rows[3].qvec == [-127, 127, 64]  # round(63.5) -> 64
    assert rows[1].qscale == 1.0 / 127
    # zero vector: scale 0, all-zero qvec (consumers drop it by qscale)
    assert rows[2].qscale == 0.0 and rows[2].qvec == [0, 0, 0]
    with pytest.raises(ValueError, match="collide"):
        quantize_embeddings(df.withColumn("qvec", F.lit(1)))
    with pytest.raises(ValueError, match="bits"):
        quantize_embeddings(df, bits=16)
    # NULL ELEMENT inside a vector raises (r11 ADVICE: greatest/least
    # skip nulls, so it would otherwise silently quantize to -127);
    # a NULL VECTOR still propagates to NULL qvec/qscale.
    nullel = spark.createDataFrame(
        [(1, [1.0, None, 0.5])], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="NULL element"):
        quantize_embeddings(nullel).collect()
    nullvec = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>")
    r = quantize_embeddings(nullvec).collect()[0]
    assert r.qvec is None and r.qscale is None


def test_quantized_cosine_topk_matches_float_ranking(spark):
    """On well-separated vectors the int8 ranking equals the float
    ranking exactly; quantized scores are within the declared x115
    bound of the float scores."""
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.similarity import (
        cosine_topk,
        quantized_cosine_topk,
    )

    import math
    import random

    rng = random.Random(7)
    data = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 3)
    exact = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
             for r in cosine_topk(df, q, k=3).collect()}
    quant = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
             for r in quantized_cosine_topk(df, q, k=3).collect()}
    assert set(exact) == set(quant)
    for key, (nid, cos) in exact.items():
        qnid, qcos = quant[key]
        assert math.isclose(qcos, cos, abs_tol=0.01)


def test_holdout_split_on_neardup_clusters_prevents_leakage(spark):
    """The composition x114 exists for: split by the dedup CLUSTER id
    (operators/graph.py) and no near-duplicate pair can straddle the
    train/test boundary — every cluster lands whole on one side."""
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.operators.graph import (
        neardup_clusters,
    )
    from airflow_project_flight_price_analysis_spark.operators.sampling import (
        holdout_split,
    )

    docs = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    # near-dup pairs chain consecutive ids within blocks of 5, so the
    # clusters are 60 five-doc components
    pairs = (
        spark.range(0, 300)
        .filter((F.col("id") % 5 != 4))
        .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    )
    clustered = neardup_clusters(docs, pairs, "doc_id")
    out = holdout_split(clustered, "cluster_id",
                        [("train", 0.8), ("val", 0.1), ("test", 0.1)],
                        seed=2)
    rows = out.collect()
    assert len(rows) == 300
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert len(by_cluster) == 60
    assert all(len(s) == 1 for s in by_cluster.values())
    # and specifically: no PAIR straddles the boundary
    split_of = {r.doc_id: r.split for r in rows}
    for p in pairs.collect():
        assert split_of[p.a] == split_of[p.b]
