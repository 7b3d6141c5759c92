"""Regenerate PLANS.md — formatted physical plans of representative queries.

Run: python tools/gen_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_project_flight_price_analysis_spark.plans import all_queries  # noqa: E402
from airflow_project_flight_price_analysis_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

# (query, one-line "what to look for" note)
SECTIONS = [
    ("q01_avg_fare_by_airline",
     "flagship KPI: broadcast dim join + one-pass aggregate"),
    ("q05_top_routes",
     "role-playing dims, TakeOrderedAndProject top-k (no global sort)"),
    ("q39_forecast_revenue",
     "window over pre-aggregated month grain — agg shuffle feeds the window sort"),
    ("q41_local_supplier_volume",
     "six-table join: Catalyst reorders, dims broadcast, one fact shuffle"),
    ("q32_asof_join",
     "as-of join as union + window last-value (no range explosion)"),
    ("x16_embedding_neardup",
     "size-gated: broadcast under the bound (shown), banded SMJ above it"),
    ("x08_minhash_neardup",
     "shared gram table feeds both sketches; banding equi-join, never all-pairs"),
    ("x26_repetition_signals",
     "map-side array metrics (run-length fold, no Generate/explode); "
     "single per-language aggregation shuffle"),
    ("x28_boilerplate_ngrams",
     "per-doc distinct grams -> explode -> count -> TakeOrdered top-20"),
    ("x09_simhash_pairs",
     "banded equi-join is the full-corpus path; brute-force certification "
     "bounded to the in-plan capped sample (filter on id % smod)"),
    ("x34_sequence_packing_sharded",
     "window partitioned by (source, shard) — per-shard parallel packing, "
     "no per-source serialization"),
    ("x38_span_dedup",
     "span-level exact-substring dedup: one explode, first-occurrence rank "
     "shuffles on xxhash64(span) — fixed-width keys, never span strings"),
    ("x45_gapfill_resample",
     "dense hour spine from a one-row bounds agg (sequence+explode); LOCF "
     "window per type over the filled grid"),
    ("x46_embedding_covariance",
     "map-side nested-transform (i,j) expansion — zero joins; one "
     "mergeable co-moment aggregate shuffle"),
    ("q48_salted_skew_join",
     "probe-side deterministic salt + build-side explode replication; "
     "equi-join on (key, salt) splits hot keys across reducers"),
    ("x78_event_pagerank",
     "iterative fixed point: every power-iteration step reads the "
     "persisted |types|-scale transition table (InMemoryTableScan), "
     "never the event-scale source"),
    ("x83_triangle_count",
     "degree-ordered triangle census: adjacency-intersection count "
     "(sum of |N+(u) ∩ N+(v)| over oriented edges — no wedge table); "
     "adjacency broadcast under the supplier-footer gate, shuffled "
     "equi-join above it"),
    ("x120_count_min_heavy_hitters",
     "count-min sketch: explode x depth feeds a partial-agg-capped "
     "shuffle (<= depth*width rows); probe = depth broadcast joins of "
     "the counter table, zero shuffles"),
    ("x121_token_budget_waterfill",
     "waterfill budget allocation: corpus-scan token aggregate feeds "
     "|langs|-row rank/prefix windows + one-row stat broadcasts"),
    ("x122_kmv_distinct",
     "KMV bottom-k distinct sketch: integer prefilter at the scan, "
     "map-side-deduped distinct, TakeOrdered caps everything at k "
     "rows; one persisted survivor table feeds sketch + parity-half "
     "merge check"),
    ("x123_sampled_quantiles",
     "hash-sample quantiles: prefilter-pushed bottom-k sample; ONE "
     "corpus scan computes all five CDF counts in a single partial "
     "aggregate with the sorted sample array on a one-row broadcast"),
    ("x125_weighted_systematic_sample",
     "weighted systematic pick: x110-style two-phase banded prefix "
     "(|bands|-row offsets window + partition-bounded in-band "
     "cumulative), integer target arithmetic, <= n_picks output rows"),
    ("x128_stream_sample_quantiles",
     "streaming sampled quantiles: per-micro-batch bottom-k fold "
     "(k-row driver state), then x123's one-scan CDF certification "
     "with the sorted sample array on a one-row broadcast"),
    ("x129_kmv_set_algebra",
     "KMV theta set algebra: one prefiltered survivor pass persisted, "
     "per-set bottom-k slices, union-sketch membership aggregate — "
     "all post-scan work capped at k rows; exact side is the "
     "certification scan"),
    ("x130_priority_sample",
     "priority sampling: TakeOrderedAndProject top-(k+1) on the "
     "w/u priority (no corpus shuffle), boundary/tau via one-row "
     "sort-aggregate broadcast, quantized integer subset sums"),
    ("x131_fk_containment",
     "FK/containment discovery: one melted scan per table into a "
     "persisted keyspace, per-column bottom-k windows, pair phase "
     "joins <= k-row sketches only"),
    ("x132_rrf_fusion",
     "hybrid RRF fusion: BM25 posting-scale TakeOrdered + one-row "
     "cosine probe broadcast; fusion = full-outer join of two <= 50-"
     "row pools + TakeOrdered 20"),
    ("x134_cms_join_size",
     "AMS join-size estimate: one persisted base scan feeds both CMS "
     "builds (explode x depth, partial-agg-capped shuffle) and the "
     "exact harness; sketch-vs-sketch inner product joins on (i, b) — "
     "bounded by sketch geometry, not data"),
    ("x135_weighted_quantiles",
     "weighted quantiles from the priority sample: TakeOrdered "
     "top-(k+1), crossing search on the persisted <= k-row sample, "
     "one-scan exact weighted-CDF probe for all quantiles"),
    ("x84_quantile_binning",
     "one-row percentile-bounds aggregate broadcast into map-side bin "
     "assignment (BroadcastNestedLoopJoin of a single row) — no per-row "
     "shuffle before the |bins|-squared aggregate"),
    ("x88_bm25_ranking",
     "BM25 tf/dl computed map-side (size(filter(tokens)) — no Generate); "
     "corpus stats one-row broadcast; TakeOrdered top-k over posting-"
     "scale survivors"),
    ("q64_pareto_frontier",
     "skyline: broadcast bucket suffix-max prune drops dominated points "
     "before the sweep window, so the global sort input is survivor-"
     "scale, not |customers|"),
    ("q65_volume_shipping",
     "TPC-H Q7 shape: two-nation filter pushed into both role-played "
     "dim branches; lineitem joins pre-filtered broadcast dims, one "
     "fact shuffle for the orders FK"),
    ("x96_entity_resolution",
     "block -> match -> cluster -> survive: (noun, type) equi-join "
     "blocking bounds the levenshtein matcher's pair space; min-label "
     "closure iterations read node-scale frames"),
    ("x97_dq_expectations",
     "8-check battery folded into one sum(CASE) aggregate per table; "
     "the two referential checks share one column-pruned join each"),
    ("x67b_containment_prefix",
     "prefix-filtered containment (the forced 100 TB path): rare-first "
     "rank window bounds probe postings to n - ceil(t*n) + 1; candidate "
     "equi-join pairs probe prefixes with full index postings, exact "
     "verification touches candidates only — never the corpus square"),
    ("x100_bloom_decontaminate",
     "bloom semi-join: one-row map<int,bigint> bitset broadcast "
     "(BroadcastNestedLoopJoin of a single row), membership evaluated "
     "map-side on the probe, exact left_semi verify on survivors only"),
    ("q75_disjunctive_pushdown",
     "Q19 discipline: hand-derived per-table weakenings of the "
     "mixed-table OR reach BOTH scans as PushedFilters; shrunken part "
     "broadcasts; zero hash exchanges before the scalar aggregate"),
    ("q77_qualified_suppliers",
     "Q20 chain decorrelated: broadcast part-prune pushed to scan, ONE "
     "(suppkey,partkey) conditional aggregate with map-side combine, "
     "ratio filter, distinct, LeftSemi back to supplier"),
    ("x101_zorder_profile",
     "Morton z-value as a whole-stage-codegen'd shift/AND/OR chain in "
     "one Project; 1024-ary bucket aggregate map-side combines"),
    ("x102_incremental_neardup",
     "incremental screen certification: banded batch-vs-ledger "
     "equi-join + est-Jaccard verify on one side, exact postings "
     "truth on the other, joined into one certification row"),
    ("q78_preshipped_orders",
     "Q4 discipline: NOT EXISTS(inequality correlate) collapsed to one "
     "MAX reduction — single lineitem scan, partial_max map-side "
     "combine, one (orderkey, max_ship) row per order shuffled"),
    ("q79_event_echo_pairs",
     "general banded range join: inequality join rewritten as an "
     "equi-join on (user_id, time-bucket) + residual BETWEEN; left "
     "rows explode to 2 buckets, pair space bounded per bucket"),
    ("q80_min_cost_supplier",
     "Q2 shape: correlated scalar min decorrelated to a WINDOW MIN "
     "over the region-restricted bridge — one lineitem scan, one "
     "p_partkey shuffle, all dims broadcast, no grouped-min join-back"),
    ("q81_profit_by_nation_year",
     "Q9 shape: p_name LIKE filter at the part scan prunes lineitem "
     "via broadcast BEFORE the orders join; one 2-key aggregate with "
     "micro-unit exact sums on the long fast path"),
    ("q82_large_volume_customers",
     "Q18 shape: grouped-HAVING subquery and per-order quantity from "
     "ONE lineitem aggregate (single scan); heavy-order survivors "
     "broadcast back to orders"),
    ("x103_wav_decode_stats",
     "real stdlib WAV decode: payload exists only inside the fused "
     "MapInArrow chain — the only exchanges carry doc_id (8 bytes) "
     "and fixed-width stats with map-side combine"),
    ("x104_cdc_span_dedup",
     "content-defined chunking: boundary flags prefix-summed in ONE "
     "doc_id window shuffle; the (doc, span) regroup reuses that "
     "partitioning (subset-of-keys), cross-doc rank on xxhash64(span)"),
    ("x110_pack_concat_chunks",
     "exact global packing: hash-band two-phase prefix scan — band is "
     "a pure projection (no RangePartitioning, no sampling job), "
     "offsets side is a map-side partial agg (|bands| rows shuffle), "
     "data shuffles ONCE for the per-band window; segment explode "
     "via Generate(sequence)"),
    ("q63_pivot_revenue_matrix",
     "pivot with exact money cells: per-(cust,month) hi/lo LONG part "
     "sums below the customer join; pivot re-folds the parts (long "
     "sums associative under any fold order); cents materialize once "
     "per cell in the final Project"),
    ("x113_multi_epoch_shard_matrix",
     "multi-epoch shuffle audit: ONE 1-column scan computes both "
     "epochs' hashes in a single codegen Project (auditing E epochs "
     "is one pass with E hash columns, not E sorts); the only "
     "exchange is the <=64-row map-side-combined aggregate"),
    ("x114_group_holdout_split",
     "group-cohesive holdout split: the hash + band CASE is one "
     "map-side codegen Project over the scan — ZERO shuffles before "
     "the |sources|-row census aggregate; splitting a 100 TB corpus "
     "is a single pass"),
    ("x115_quantized_ann",
     "int8-quantized ANN: the quantizer is a pure projection (no "
     "UDF); probe-set broadcasts on both the float-baseline and "
     "quantized sides (<=10 rows); all one-row certification "
     "aggregates attach via bounded BNLJ"),
    ("x116_bmp_resize_stats",
     "real NN resize: build -> resize -> re-parse fused into ONE "
     "MapInArrow chain (payloads never shuffle); grouping dims are "
     "a codegen projection of media_id, not a second codec pass"),
    ("x117_frame_sample_stats",
     "real video frame sampling: demux walk + per-frame decode with "
     "the row explosion INSIDE the Arrow batch — the exchange carries "
     "fixed-width per-frame stats, never payload bytes"),
    ("x118_wav_resample_stats",
     "real audio resample: build -> resample -> re-parse fused into "
     "ONE MapInArrow chain; grouping key replays the law on media_id "
     "instead of a second builder pass"),
    ("x119_png_decode_stats",
     "real compressed PNG decode: CRC-verified chunk walk + zlib "
     "inflate + five-filter reconstruction in one fused Arrow "
     "pipeline; payloads never shuffle"),
]

HEADER = """# PLANS — formatted physical plans of representative queries

Generated by `python tools/gen_plans.py` (`spark.explain('formatted')` at
sf0.01; plan shapes are scale-invariant; AQE may re-plan sizes at
runtime). What to look for: `PushedFilters`/`ReadSchema` on scans
(pushdown + pruning), `BroadcastHashJoin` on every dimension join (zero
fact shuffle), `TakeOrderedAndProject` for top-k (no global sort), and
the absence of `BatchEvalPython` anywhere in the relational core
(asserted by tests/test_plan_shapes.py).
"""


def main() -> None:
    # try/finally (r7 review): one failing section used to discard every
    # already-generated plan AND leak the 8g-driver JVM; now whatever
    # rendered is written and the session always stops
    spark = get_spark(app_name="gen-plans")
    out = io.StringIO()
    out.write(HEADER)
    try:
        _render(spark, out)
    finally:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "PLANS.md"), "w") as f:
            f.write(out.getvalue())
        print("wrote PLANS.md:", len(out.getvalue()), "chars")
        spark.stop()


def _render(spark, out: io.StringIO) -> None:
    queries = all_queries()
    for name, note in SECTIONS:
        df = queries[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # queries that persist() intermediates replay the full cached
        # subplan inside every InMemoryRelation dump — cap each section
        # so one such query can't balloon the doc by 300 KB
        if len(plan) > 20_000:
            plan = plan[:20_000] + (
                f"\n... [truncated at 20k chars of {len(plan)} — "
                "InMemoryRelation dumps replay the cached subplan per "
                "consumer; run .explain('formatted') for the full text]"
            )
        out.write(f"\n## {name}\n\n{note}\n\n```\n{plan.rstrip()}\n```\n")


if __name__ == "__main__":
    main()
