"""Plan-shape + rewrite-correctness tests for the round-3 curation
queries (x38-x40, q48, q49): pin the scale posture (hash-keyed shuffle,
broadcast stats, no windows over low-cardinality keys) and prove the
salted-join rewrite is result-identical to the plain join."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_project_flight_price_analysis_spark.plans import all_queries
from airflow_project_flight_price_analysis_spark.sources import load_table
from tests.conftest import SF_SMALL, session_conf

_Q = all_queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_x38_shuffles_hash_not_span_string(spark):
    """The first-occurrence window must partition on the 64-bit span
    hash, never the span string (fixed-width shuffle keys at scale)."""
    plan = _plan(_Q["x38_span_dedup"](spark, SF_SMALL))
    assert "hashpartitioning(span_h" in plan, plan
    assert "hashpartitioning(span," not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_x38_single_explode(spark):
    plan = _plan(_Q["x38_span_dedup"](spark, SF_SMALL))
    assert plan.count("Generate") == 1, plan


def test_x39_vocab_joins_broadcast(spark):
    """Vocab and total-token count ride back as broadcasts — the corpus
    side must never shuffle on term."""
    plan = _plan(_Q["x39_unigram_lm_score"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_x40_stats_broadcast_no_window(spark):
    """Per-type stats must come back as a broadcast hash join, not a
    window over ~5 giant event_type partitions."""
    plan = _plan(_Q["x40_event_anomalies"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_q48_salted_equals_unsalted(spark):
    """The salt rewrite is a pure plan transformation: its result must
    be row-identical to the plain join it replaces."""
    salted = {
        r["o_orderpriority"]: (r["n_items"], r["gross_revenue"])
        for r in _Q["q48_salted_skew_join"](spark, SF_SMALL).collect()
    }
    li = load_table(spark, SF_SMALL, "lineitem")
    orders = load_table(spark, SF_SMALL, "orders")
    plain = {
        r["o_orderpriority"]: (r["n_items"], r["gross_revenue"])
        for r in (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_items"),
                F.round(F.sum("l_extendedprice"), 2).alias("gross_revenue"),
            )
        ).collect()
    }
    assert salted == plain


def test_q48_replicates_build_side(spark):
    plan = _plan(_Q["q48_salted_skew_join"](spark, SF_SMALL))
    assert "Generate explode" in plan, plan


def test_q49_single_aggregation_no_window(spark):
    """Co-moment aggregates are one map-side-combined shuffle; any
    Window or extra Exchange is a regression."""
    plan = _plan(_Q["q49_stat_suite"](spark, SF_SMALL))
    assert "Window" not in plan
    n_exch = plan.count("Exchange")
    assert n_exch <= 3, f"q49 has {n_exch} exchanges:\n{plan}"


def test_x41_window_is_per_block_not_global(spark):
    """The neighborhood sort must partition by the block key — a global
    (empty-partition) window would serialize the corpus."""
    plan = _plan(_Q["x41_sorted_neighborhood"](spark, SF_SMALL))
    assert "Window" in plan
    assert "hashpartitioning(lang" in plan, plan
    assert "SinglePartition" not in plan, "global window detected"
    assert "CartesianProduct" not in plan


def test_x42_histogram_broadcasts_bounds(spark):
    plan = _plan(_Q["x42_value_histogram"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_x43_percentile_bounds_broadcast(spark):
    plan = _plan(_Q["x43_winsorized_stats"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_x44_survivor_window_partitioned_by_cluster(spark):
    plan = _plan(_Q["x44_cluster_survivors"](spark, SF_SMALL))
    assert "hashpartitioning(cluster_id" in plan, plan
    assert "SinglePartition" not in plan


def test_q50_window_partitioned_not_global(spark):
    plan = _plan(_Q["q50_rank_suite"](spark, SF_SMALL))
    assert "hashpartitioning(o_orderpriority" in plan, plan
    assert "SinglePartition" not in plan, "global window detected"


def test_x46_no_self_join(spark):
    """The (i,j) pair expansion is map-side HOF algebra — a self-join of
    the embedding table would shuffle the payload twice."""
    plan = _plan(_Q["x46_embedding_covariance"](spark, SF_SMALL))
    assert "Join" not in plan, plan
    assert plan.count("Generate") == 1


def test_x47_postings_join_not_cartesian(spark):
    plan = _plan(_Q["x47_split_leakage"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_x48_vocab_and_totals_broadcast(spark):
    plan = _plan(_Q["x48_source_drift_kl"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_x49_single_pass_aggregate(spark):
    """All four constraint metrics reduce in one aggregate over the
    table — no per-constraint rescans."""
    plan = _plan(_Q["x49_quality_constraints"](spark, SF_SMALL))
    assert plan.count("FileScan") == 1, plan


# --- round 4: x53 / x54 / q52 plan shapes -----------------------------------

def test_x53_no_allpairs_and_pruned_postings(spark):
    """The pair space must come from the posting-index equi-join (never a
    cartesian/nested-loop all-pairs), with the df table broadcast."""
    plan = _plan(_Q["x53_tfidf_cosine_pairs"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    # nested-loop joins are allowed only against the one-row n_docs
    # aggregate (a broadcast constant riding into the df-prune — its
    # subtree prints once per consumer of the shared postings frame);
    # any OTHER nested-loop join would be a pair-space explosion
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "n_docs" in line, line
    assert "BroadcastHashJoin" in plan  # df/idf table rides as broadcast
    assert "EvalPython" not in plan


def test_x53_posting_cap_bounds_per_term_pair_space(spark):
    """r4 brief item 4: a term whose posting list exceeds TFIDF_POSTING_CAP
    must be dropped BEFORE the pair join even when it survives the 25%-df
    fraction prune — per-term pair space is bounded by a constant, not by
    corpus fraction. Synthetic corpus: 16 docs, 3 share the term
    'shared' (df=3 <= 0.25*16, so the fraction prune keeps it); with
    cap=2 the capped prune drops it and NO pair can form; with cap=4 the
    three sharing docs pair up."""
    from airflow_project_flight_price_analysis_spark.plans.curation import (
        tfidf_cosine_pairs,
    )

    rows = [(i, f"shared uniq{i}") for i in range(3)]
    rows += [(i, f"uniq{i}") for i in range(3, 16)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = tfidf_cosine_pairs(docs, posting_cap=2, threshold=0.3).collect()
    assert capped == [], f"cap=2 must prune the df=3 term: {capped}"
    uncapped = tfidf_cosine_pairs(docs, posting_cap=4, threshold=0.3).collect()
    assert {(r.d1, r.d2) for r in uncapped} == {(0, 1), (0, 2), (1, 2)}


def test_x54_merge_equals_direct_aggregate(spark):
    """merge(partial(history), partial(delta)) must equal the one-pass
    aggregate over the full table — the algebraic-mergeability contract."""
    merged = {
        r["l_returnflag"]: (r["n_rows"], r["avg_qty"], r["std_qty"],
                            r["min_price"], r["max_price"], r["revenue"])
        for r in _Q["x54_incremental_agg_merge"](spark, SF_SMALL).collect()
    }
    li = load_table(spark, SF_SMALL, "lineitem")
    direct = {
        r["l_returnflag"]: (r["n"], round(r["s"] / r["n"], 6),
                            round(((r["ss"] - r["s"] * r["s"] / r["n"])
                                   / (r["n"] - 1)) ** 0.5, 6),
                            r["mn"], r["mx"], round(r["sp"], 2))
        for r in li.groupBy("l_returnflag").agg(
            F.count("*").alias("n"), F.sum("l_quantity").alias("s"),
            F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("ss"),
            F.min("l_extendedprice").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
            F.sum("l_extendedprice").alias("sp"),
        ).collect()
    }
    assert merged == direct


def test_q52_decorrelated_single_lineitem_window(spark):
    """The correlated avg must run as ONE window over l_partkey (lineitem
    scanned once), with part joined by broadcast — no re-scan, no
    shuffle-join of lineitem against itself."""
    plan = _plan(_Q["q52_decorrelated_avg_filter"](spark, SF_SMALL))
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("FileScan parquet") == 2, plan  # lineitem once + part once
    assert "SortMergeJoin" not in plan


def test_x56_no_global_sort_window(spark):
    """Bucket assignment must be map-side against broadcast boundaries —
    not an ntile window (a single-partition global sort at scale)."""
    plan = _plan(_Q["x56_range_partition_planner"](spark, SF_SMALL))
    # ntile-free: ntile only exists inside a Window operator, so Window
    # absence covers it ("ntile" as a substring would false-match
    # "percentile", the function this plan is SUPPOSED to use)
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_x57_sketches_not_python(spark):
    """HLL sketch/union/estimate are JVM DataSketches aggregates — no
    Python stage, no window; exact path is a plain distinct aggregate."""
    plan = _plan(_Q["x57_hll_merge_profile"](spark, SF_SMALL))
    assert "hll_sketch_agg" in plan or "hll_union_agg" in plan, plan
    assert "EvalPython" not in plan
    assert "Window" not in plan


def test_x58_single_copartitioned_fullouter(spark):
    """CDC classification rides ONE full-outer join on the business key
    (both sides shuffle-partitioned the same way) — no window, no
    nested-loop, classification map-side."""
    plan = _plan(_Q["x58_snapshot_diff_cdc"](spark, SF_SMALL))
    assert "FullOuter" in plan, plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_x59_single_events_scan_window_per_user(spark):
    """Retention reads raw events ONCE; the cohort day is a min-window
    partitioned by user_id (high cardinality) — a join-back formulation
    would plan a second full scan+distinct of events."""
    plan = _plan(_Q["x59_cohort_retention"](spark, SF_SMALL))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Window" in plan
    assert "hashpartitioning(user_id" in plan, plan
    assert "SinglePartition" not in plan, "global window detected"
    assert "Join" not in plan


def test_x60_prefix_postings_not_allpairs(spark):
    """Candidates must come from the prefix-posting equi-join — no
    cartesian pair space; the prefix rank window partitions by doc id.
    The gram-frequency broadcast is CONF-GATED (r7 review: |distinct
    shingles| rows would OOM the driver at corpus scale): default-on
    for test scales, and flipping spark.graft.prefix.broadcastGramFreq
    must remove every BroadcastHashJoin from the g-keyed join path."""
    # earlier tests may have persisted a document_grams frame with the
    # same subplan; the CacheManager would substitute InMemoryTableScan
    # and change this plan's string — pin the UNCACHED shape
    spark.catalog.clearCache()
    plan = _plan(_Q["x60_prefix_filtered_jaccard"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # default: gate on, hint applied
    assert "hashpartitioning(id" in plan, plan
    assert "EvalPython" not in plan
    # corpus mode: with the gate off AND cost-based auto-broadcast
    # disabled (mimicking a too-big-to-broadcast size estimate), no
    # FORCED hint may remain on the g-keyed join — the plan must be
    # free to shuffle-join gfreq (auto-broadcast from small size stats
    # stays legitimate, which is why the threshold must be pulled to
    # isolate the hint)
    # session_conf restores the session's threshold (unset would fall
    # back to Spark's 10MB built-in — r8 review); the graft conf's
    # unset correctly restores its code-side default
    try:
        spark.conf.set("spark.graft.prefix.broadcastGramFreq", "false")
        with session_conf(spark, "spark.sql.autoBroadcastJoinThreshold",
                          "-1"):
            spark.catalog.clearCache()
            plan2 = _plan(_Q["x60_prefix_filtered_jaccard"](spark, SF_SMALL))
            g_bhj = [ln for ln in plan2.splitlines()
                     if "BroadcastHashJoin" in ln and "[g#" in ln]
            assert not g_bhj, plan2
            assert ("SortMergeJoin" in plan2
                    or "ShuffledHashJoin" in plan2), plan2
    finally:
        spark.conf.unset("spark.graft.prefix.broadcastGramFreq")


def test_x61_replication_is_mapside_explode(spark):
    """Epoch replication must be explode after a broadcast repeat-plan
    join — the corpus itself never shuffles; the only nested-loop join
    allowed is the one-row token-max constant."""
    plan = _plan(_Q["x61_mixture_upsampling"](spark, SF_SMALL))
    assert "Generate explode" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "tok_max" in line or line.strip().endswith("BuildRight, Cross"), line


def test_x62_one_pass_per_key_no_window(spark):
    """Each key's frequency profile is a groupBy + one-row reduce — no
    window, no join, nothing shuffles more than the key frequencies."""
    plan = _plan(_Q["x62_skew_diagnostics"](spark, SF_SMALL))
    assert "Window" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_x63_window_partitioned_by_event_type(spark):
    """The interval derivation is ONE lead-window partitioned by
    event_type (the q19 shuffle shape) — no self-join on time."""
    plan = _plan(_Q["x63_time_weighted_avg"](spark, SF_SMALL))
    assert "Window" in plan
    assert "hashpartitioning(event_type" in plan, plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_x64_conditional_agg_no_join_no_window(spark):
    """Funnel timing must be ONE conditional aggregation per user — a
    per-step self-join or a window over the event stream is the shape
    this query exists to avoid."""
    plan = _plan(_Q["x64_conversion_lag"](spark, SF_SMALL))
    assert "Join" not in plan, plan
    assert "Window" not in plan
    assert "hashpartitioning(user_id" in plan, plan


def test_x65_sequence_window_then_tiny_normalizer(spark):
    """The sequence window shuffles ONCE on user_id; the probability
    normalizer windows only the |types|^2 aggregate. No join anywhere —
    a per-user self-join on adjacent rows is the shape lead() replaces."""
    plan = _plan(_Q["x65_event_transitions"](spark, SF_SMALL))
    assert "Join" not in plan
    assert "hashpartitioning(user_id" in plan, plan
    assert "EvalPython" not in plan


def test_x66_mapside_keys_single_source_window(spark):
    """Weighted-sample keys are map-side arithmetic; the only shuffle is
    the per-source top-k window. No join, no Python, no global sort."""
    plan = _plan(_Q["x66_weighted_sample"](spark, SF_SMALL))
    assert "Join" not in plan
    assert "hashpartitioning(source" in plan, plan
    assert "EvalPython" not in plan


def test_x67_postings_join_not_cartesian(spark):
    """Containment pairs come from the inverted-postings equi-join —
    never a cartesian/broadcast-nested-loop all-pairs product."""
    plan = _plan(_Q["x67_containment_pairs"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_x68_single_history_window_no_join(spark):
    """Attribution must be the ignorenulls filtered-history window —
    one user_id shuffle — never a purchases×events self-join."""
    plan = _plan(_Q["x68_last_touch_attribution"](spark, SF_SMALL))
    assert "Join" not in plan
    assert "hashpartitioning(user_id" in plan, plan
    assert "EvalPython" not in plan


def test_x69_broadcast_bounds_no_user_window(spark):
    """RFM scores come from broadcast quartile bounds — no ntile window
    over user-scale data, both cross-joins are broadcasts."""
    plan = _plan(_Q["x69_rfm_segmentation"](spark, SF_SMALL))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds broadcast
    assert "EvalPython" not in plan


def test_x70_pure_mapside_codegen(spark):
    """All four lambdas must stay JVM-side expressions in one scan —
    no shuffle except the output sort, no Python, no join."""
    plan = _plan(_Q["x70_array_lambda_suite"](spark, SF_SMALL))
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert plan.count("FileScan") == 1, plan
    assert "Window" not in plan


def test_x71_matrix_is_broadcast_scoring_join(spark):
    """The Markov matrix joins back as a BROADCAST — the event-scale
    side never shuffles on (from_type, to_type)."""
    plan = _plan(_Q["x71_sequence_surprisal"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_x72_topk_is_take_ordered(spark):
    """Top-20 paths must be TakeOrderedAndProject over the ≤|types|³
    count — never a global sort; prefix selection windows on user_id."""
    plan = _plan(_Q["x72_top_event_paths"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan, plan
    assert "hashpartitioning(user_id" in plan
    assert "EvalPython" not in plan


def test_x73_explode_runs_on_deduped_user_days(spark):
    """The ×7 window fan-out must generate from the distinct (user, day)
    aggregate, not raw events: Generate sits above a HashAggregate."""
    plan = _plan(_Q["x73_dau_wau_stickiness"](spark, SF_SMALL))
    assert "Generate explode" in plan, plan
    gen = plan.find("Generate explode")
    assert "HashAggregate" in plan[gen:], plan
    assert "EvalPython" not in plan


def test_x74_totals_broadcast_no_window(spark):
    """Per-source totals ride back as a broadcast (x39 pattern) — no
    window over the (source, term) table."""
    plan = _plan(_Q["x74_token_entropy"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_x75_unigrams_broadcast_topk_take_ordered(spark):
    """Both unigram joins are broadcasts and the top-20 is TakeOrdered —
    no shuffle join on term, no global sort."""
    plan = _plan(_Q["x75_pmi_collocations"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "EvalPython" not in plan


def test_x76_single_events_pass_marginals_broadcast(spark):
    """One event-scale aggregate: all four consumers (cells, both
    marginals, total) must read the persisted contingency frame
    (InMemoryTableScan — its printed child FileScan repeats per
    reference but executes once), with marginals broadcast back."""
    plan = _plan(_Q["x76_chisq_independence"](spark, SF_SMALL))
    assert plan.count("InMemoryTableScan") >= 4, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_x77_stats_broadcast_bucket_frame_reused(spark):
    """Per-type stats come back as a broadcast onto the persisted bucket
    frame — no window, no event-scale second pass."""
    plan = _plan(_Q["x77_burst_detection"](spark, SF_SMALL))
    assert "InMemoryTableScan" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_x67_direct_and_prefix_agree_on_real_data(spark):
    """Losslessness of the prefix filter on driver testdata: the forced
    prefix plan (x67b) must produce exactly the direct plan's rows."""
    direct = sorted(map(tuple, _Q["x67_containment_pairs"](spark, SF_SMALL).collect()))
    prefix = sorted(map(tuple, _Q["x67b_containment_prefix"](spark, SF_SMALL).collect()))
    assert direct == prefix and len(direct) > 0


def _write_documents(spark, rows, sf_dir, mode="errorifexists"):
    """(doc_id, lang, text) rows as a documents table with every declared
    column: the loader rejects a table that lacks one."""
    (spark.createDataFrame(rows, "doc_id long, lang string, text string")
     .withColumns({"source": F.lit("test"), "n_chars": F.length("text").cast("long")})
     .write.mode(mode).parquet(f"{sf_dir}/documents.parquet"))


def test_x67_prefix_bound_boundary_hot_shingles(spark, tmp_path):
    """Pin the probe-side prefix bound ``n − ⌈t·n⌉ + 1`` at its exact
    boundary, in the worst case for the rare-first order: every doc is
    8 unique words + the same 4-word hot suffix, so each doc has n = 10
    distinct shingles of which exactly 2 (the corpus-hottest, sorting
    LAST under rare-first) are shared — max-containment = 2/10 = t
    exactly. The lemma places exactly ONE shared shingle at prefix
    position n − ⌈t·n⌉ + 1 = 9; a prefix one element shorter would
    return ZERO pairs instead of all C(k,2)."""
    from airflow_project_flight_price_analysis_spark.plans.curation import (
        _containment_pairs,
    )

    k = 6
    rows = [
        (i, "en", " ".join(f"u{i}w{j}" for j in range(8)) + " hot1 hot2 hot3 hot4")
        for i in range(k)
    ]
    # noise docs without the suffix (df=1 shingles only)
    rows += [(100 + i, "en", " ".join(f"z{i}n{j}" for j in range(12)))
             for i in range(3)]
    sf_dir = str(tmp_path)
    _write_documents(spark, rows, sf_dir)

    expected_pairs = {(a, b) for a in range(k) for b in range(k) if a < b}
    for strategy in ("direct", "prefix"):
        got = _containment_pairs(spark, sf_dir, strategy).collect()
        assert {(r.a, r.b) for r in got} == expected_pairs, strategy
        assert all(r.shared == 2 and abs(r.c_a_in_b - 0.2) < 1e-9 for r in got)


def test_x67b_prefix_plan_shape(spark):
    """The forced-prefix plan must rank postings (row_number window),
    never cartesian-product, and stay JVM-side."""
    plan = _plan(_Q["x67b_containment_prefix"](spark, SF_SMALL))
    assert "row_number" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_x67_auto_switches_to_prefix_above_threshold(spark, tmp_path, monkeypatch):
    """The auto strategy must route big corpora to the prefix plan (and
    memoize the per-dataset decision): with the direct-path ceiling
    monkeypatched to 1 doc, auto on a 3-doc corpus must equal the
    forced-prefix result and record the 'prefix' decision."""
    from airflow_project_flight_price_analysis_spark.plans import curation

    rows = [
        (1, "en", "alpha beta gamma delta epsilon"),
        (2, "en", "alpha beta gamma delta zeta"),
        (3, "en", "totally different words here now"),
    ]
    sf_dir = str(tmp_path)
    _write_documents(spark, rows, sf_dir)

    monkeypatch.setattr(curation, "CONTAINMENT_DIRECT_MAX_DOCS", 1)
    monkeypatch.setattr(curation, "_CONTAINMENT_STRATEGY", {})
    auto = sorted(map(tuple, curation._containment_pairs(spark, sf_dir, "auto").collect()))
    # memo is keyed by (path, mtime) so a regenerated dataset re-decides
    assert list(curation._CONTAINMENT_STRATEGY.values()) == ["prefix"]
    (memo_path, _memo_mtime), = curation._CONTAINMENT_STRATEGY
    assert memo_path == sf_dir
    forced = sorted(map(tuple, curation._containment_pairs(spark, sf_dir, "prefix").collect()))
    direct = sorted(map(tuple, curation._containment_pairs(spark, sf_dir, "direct").collect()))
    assert auto == forced == direct
    assert len(auto) == 1  # docs 1 and 2 share 2 of 3 shingles


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12),
        min_size=2,
        max_size=12,
    )
)
def test_x67_prefix_equals_direct_on_random_corpora(spark, tmp_path_factory,
                                                    word_lists):
    """Losslessness property: on ARBITRARY tiny corpora (single-letter
    words → heavy shingle collisions by construction) the prefix-
    filtered plan must return exactly the direct plan's pairs."""
    from airflow_project_flight_price_analysis_spark.plans.curation import (
        _containment_pairs,
    )

    rows = [
        (i, "en", " ".join(words)) for i, words in enumerate(word_lists)
    ]
    sf_dir = str(tmp_path_factory.mktemp("x67prop"))
    _write_documents(spark, rows, sf_dir)
    direct = sorted(map(tuple,
                        _containment_pairs(spark, sf_dir, "direct").collect()))
    prefix = sorted(map(tuple,
                        _containment_pairs(spark, sf_dir, "prefix").collect()))
    assert direct == prefix


def test_x67_auto_memo_invalidates_on_regeneration(spark, tmp_path,
                                                   monkeypatch):
    """A corpus REGENERATED at the same path must re-run the strategy
    decision — the old path-only memo kept the quadratic direct plan
    after the corpus grew past the ceiling."""
    import os

    from airflow_project_flight_price_analysis_spark.plans import curation

    sf_dir = str(tmp_path)
    small = [(1, "en", "alpha beta gamma delta")]
    _write_documents(spark, small, sf_dir)
    monkeypatch.setattr(curation, "CONTAINMENT_DIRECT_MAX_DOCS", 2)
    monkeypatch.setattr(curation, "_CONTAINMENT_STRATEGY", {})
    curation._containment_pairs(spark, sf_dir, "auto").collect()
    assert list(curation._CONTAINMENT_STRATEGY.values()) == ["direct"]

    # regenerate: 3 docs now exceed the ceiling of 2
    bigger = small + [
        (2, "en", "alpha beta gamma zeta"),
        (3, "en", "unrelated words entirely here"),
    ]
    _write_documents(spark, bigger, sf_dir, mode="overwrite")
    os.utime(f"{sf_dir}/documents.parquet", (1e9, 2e9))  # force mtime change
    curation._containment_pairs(spark, sf_dir, "auto").collect()
    assert "prefix" in curation._CONTAINMENT_STRATEGY.values()


def test_stats_queries_survive_degenerate_variance(spark, tmp_path):
    """ANSI mode turns double/0 into DIVIDE_BY_ZERO errors: a
    constant-valued event type (sigma = 0) or a single-event type
    (sigma NULL) must yield zero anomalies, not crash the query;
    likewise a constant daily series for the CUSUM/ACF queries."""
    import datetime

    from airflow_project_flight_price_analysis_spark.plans.curation import (
        x40_event_anomalies,
    )
    from airflow_project_flight_price_analysis_spark.plans.mining import (
        x92_daily_autocorrelation,
        x93_cusum_changepoint,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    base = datetime.datetime(2024, 1, 1)
    for d in range(6):  # one event per day -> constant daily count
        rows.append((d, base + datetime.timedelta(days=d, minutes=d),
                     d % 3, "heartbeat", 1.0, "{}"))
    # single-event type, on its own day so the daily count stays
    # constant at 1 (the x92/x93 zero-variance case)
    rows.append((99, base + datetime.timedelta(days=6), 0,
                 "lonely", 42.0, "{}"))
    sf = str(tmp_path)
    # pyarrow micros-ntz file, the driver-testdata layout the loader's
    # footer probe expects (a Spark write would exercise a different
    # timestamp flavor — not what this test is about)
    tbl = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows]),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows]),
    })
    pq.write_table(tbl, f"{sf}/events.parquet")

    x40 = {r.event_type: r.n_anomalies
           for r in x40_event_anomalies(spark, sf).collect()}
    assert x40 == {"heartbeat": 0, "lonely": 0}
    # constant series: acf/cusum are NULL, never an ANSI error
    assert all(r.acf is None
               for r in x92_daily_autocorrelation(spark, sf).collect())
    assert x93_cusum_changepoint(spark, sf).count() >= 0


# --- x104: content-defined-chunking span dedup (r7) ------------------------

def _write_docs(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path)
    tbl = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows]),
        "lang": pa.array(["en"] * len(rows)),
        "source": pa.array([r[2] for r in rows]),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(tbl, f"{sf}/documents.parquet")
    return sf


def test_cdc_catches_offset_shifted_copies_fixed_grid_misses(spark, tmp_path):
    """The r6 verdict's weak spot, pinned: a passage copied at an
    UNALIGNED offset shares zero fixed-grid spans with its original but
    re-chunks into identical CDC spans. Construct a 200-token passage,
    embed it in doc B at offset 3 (not a multiple of the 20-token
    grid), pad doc B's tail so the grid slices differ everywhere."""
    import random

    from airflow_project_flight_price_analysis_spark.plans.curation import (
        QUERIES,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(500)]
    passage = [vocab[rng.randrange(500)] for _ in range(200)]
    prefix = [f"p{i}x" for i in range(3)]            # shift by 3 tokens
    tail = [f"t{i}y" for i in range(37)]
    docs = [
        (1, " ".join(passage), "orig"),
        (2, " ".join(prefix + passage + tail), "copy"),
    ]
    sf = _write_docs(tmp_path, docs)

    grid = {r.source: r.n_dup_spans
            for r in QUERIES["x38_span_dedup"](spark, sf).collect()}
    cdc = {r.source: r.n_dup_spans
           for r in QUERIES["x104_cdc_span_dedup"](spark, sf).collect()}
    # fixed grid: every span of the copy is offset by 3 → all miss
    assert sum(grid.values()) == 0, grid
    # CDC: the shared interior spans hash identically → detected
    assert sum(cdc.values()) >= 5, cdc


def test_cdc_miss_bound_on_short_overlaps(spark, tmp_path):
    """Short shared runs may legitimately be missed (P(miss) <=
    (1 + L/16)·(15/16)^L) — but identical DOCUMENTS must always be
    fully flagged (boundary positions coincide trivially), and the
    dup mass must equal the span count of one copy."""
    import random

    from airflow_project_flight_price_analysis_spark.plans.curation import (
        QUERIES,
    )

    rng = random.Random(7)
    vocab = [f"v{i}" for i in range(300)]
    text = " ".join(vocab[rng.randrange(300)] for _ in range(150))
    sf = _write_docs(tmp_path, [(1, text, "a"), (2, text, "b")])
    rows = {r.source: r for r in
            QUERIES["x104_cdc_span_dedup"](spark, sf).collect()}
    assert rows["b"].n_dup_spans == rows["b"].n_spans  # total recall
    assert rows["a"].n_dup_spans == 0                  # first copy survives


def test_cdc_regroup_reuses_doc_partitioning(spark):
    """Scale shape: the (doc_id, span_id) regroup must NOT add a second
    exchange after the window's doc_id shuffle — subset-of-keys
    clustering satisfies the aggregate's distribution."""
    from airflow_project_flight_price_analysis_spark.plans.curation import (
        cdc_spans,
    )
    from tests.conftest import SF_ORACLE

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = cdc_spans(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_x51_funnel_survives_incomplete_funnels(spark, tmp_path):
    """r7 review: ANSI mode throws on [0] over an empty filtered array,
    so a single user with an incomplete funnel used to crash the whole
    query (latent: every synthetic user happens to complete the
    funnel). Constructed users — complete, click-only, signup-then-
    nothing, wrong-order — must yield the oracle's NULL semantics."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from airflow_project_flight_price_analysis_spark.plans.curation import (
        QUERIES,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        # complete funnel
        (1, t0, 10, "signup"), (2, t0 + dt.timedelta(minutes=1), 10, "click"),
        (3, t0 + dt.timedelta(minutes=2), 10, "purchase"),
        # click only — no signup: must contribute NULLs, not crash
        (4, t0, 11, "click"),
        # signup, nothing after
        (5, t0, 12, "signup"),
        # purchase BEFORE signup: t3 must stay NULL (ordering enforced)
        (6, t0, 13, "purchase"), (7, t0 + dt.timedelta(minutes=1), 13, "signup"),
    ]
    sf = str(tmp_path)
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows]),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows)),
    }), f"{sf}/events.parquet")
    row = QUERIES["x51_funnel"](spark, sf).collect()[0]
    assert row.n_users == 4
    assert row.reached_signup == 3   # users 10, 12, 13
    assert row.reached_click == 1    # only user 10 clicked after signup
    assert row.reached_purchase == 1
