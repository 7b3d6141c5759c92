"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Per-query timing = full plan execution into the ``noop`` sink (all
operators run, nothing materializes driver-side). Before timing, every
headline query runs once at sf0.001 (~100× smaller): that populates the
JVM JIT + whole-stage-codegen compilation caches, so the sf0.1 numbers
measure steady-state execution, not first-compile. A real cluster
amortizes compile over minutes-long scans — charging it to a sub-second
local query would make the numbers measure Janino, not the engine
(measured ~6s of compile across the 21 queries, e.g. x04 1.8s → 0.56s).

Each query is measured ``ITERS`` (≥3) times and the MEDIAN reported
(r2 ADVICE: n=2 made ±25% swings unattributable). The executor cache is
cleared between iterations so queries that ``persist()`` intermediates
(x08, x16) are charged their full pipeline every time — cross-iteration
cache reuse would otherwise flatter exactly the queries that cache the
most. The query DataFrame is rebuilt fresh each iteration, so plan
construction + analysis rides along in the number (it's part of running
a query; it's milliseconds).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from airflow_project_flight_price_analysis_spark.plans import all_queries  # noqa: E402
from airflow_project_flight_price_analysis_spark.session import get_spark  # noqa: E402
from airflow_project_flight_price_analysis_spark.sources.testdata import load_table  # noqa: E402

HEADLINE = [
    "q01_avg_fare_by_airline",
    "q02_booking_count_by_airline",
    "q03_fare_trend",
    "q04_seasonal_fare_variation",
    "q05_top_routes",
    "q16_fact_flights",
    "q18_top_orders_per_customer",
    "q19_sessionization",
    "q32_asof_join",
    "q35_range_join",
    "q36_window_suite",
    "q37_pricing_summary",
    "q41_local_supplier_volume",
    "x01_exact_dedup_docs",
    "x04_fingerprints",
    "x06_cosine_topk",
    "x08_minhash_neardup",
    "x16_embedding_neardup",
    "x21_neardup_clusters",
    "x26_repetition_signals",
    "x28_boilerplate_ngrams",
    # round-3 additions
    "x38_span_dedup",
    "x45_gapfill_resample",
    "x47_split_leakage",
    # round-4 additions
    "x53_tfidf_cosine_pairs",
    "x54_incremental_agg_merge",
    "q52_decorrelated_avg_filter",
    # round-5 additions (r4 brief item 5): the round-4 heavy families
    # carry perf accountability, not just correctness
    "x60_prefix_filtered_jaccard",
    "x67_containment_pairs",
    # round-6: the forced-prefix containment plan (the 100 TB path)
    # carries its own perf accountability next to the direct plan
    "x67b_containment_prefix",
    "x73_dau_wau_stickiness",
    "x76_chisq_independence",
    "x77_burst_detection",
    # round-5 additions: x83 is the repo's heaviest single query (5.3M
    # triangles at sf0.1 — measured 4.3s standalone after the
    # degree-ordered wedge halving); it carries the graph family's perf
    # accountability. x86 covers the window-heavy ECDF/drift family.
    "x83_triangle_count",
    "x86_ks_drift",
    # round-5 batch 2: x88 carries the map-side BM25 corpus pass, x95 the
    # corpus explode + two-consumer persist, q65 the heaviest new
    # multi-join (lineitem x orders x customer with role-played nations),
    # q64 the bucket-pruned skyline sweep.
    "x88_bm25_ranking",
    "x95_vocab_oov",
    "q65_volume_shipping",
    "q64_pareto_frontier",
    # round-5 batch 3/4: the ER closure (iterative), the double-join DQ
    # battery, and the lineitem-scale island window
    "x96_entity_resolution",
    "x97_dq_expectations",
    "q69_interval_merge",
    # round-6 additions: the bloom runtime-filter pattern, the Q21
    # decorrelation (countDistinct-heavy per-order aggregate), and the
    # Q13 outer-join histogram
    "x100_bloom_decontaminate",
    "q73_waiting_suppliers",
    "q71_order_count_histogram",
    # round-6 batch 2: the Q19 derived-pushdown disjunction and the Q20
    # nested-semi-join chain (one-pass conditional aggregate)
    "q75_disjunctive_pushdown",
    "q77_qualified_suppliers",
    # round-6 batch 3: z-order curve certification (layout operator)
    "x101_zorder_profile",
    # round-6 batch 4: the GENERAL banded range-join operator's
    # driver-certified face (q35 benches the fused special case)
    "q79_event_echo_pairs",
    # round-7: the new TPC-H shapes with real join weight (Q2's window
    # min over the 5-way bridge, Q9's 5-way profit rollup, Q18's
    # single-scan heavy-order screen), the real-codec WAV decode
    # (mapInPandas round-trip), and the CDC span-dedup window+explode
    "q80_min_cost_supplier",
    "q81_profit_by_nation_year",
    "q82_large_volume_customers",
    "x103_wav_decode_stats",
    "x104_cdc_span_dedup",
    # round-8: the r7 library operators' new driver faces carry perf
    # accountability from day one — the filesystem-roundtrip face
    # (q86 MERGE: real parquet writes) and the three sampling faces
    # (map-side hash filters + one clustered sort for the shuffle)
    "x106_epoch_shuffle_shards",
    "x107_temperature_mixture",
    "x108_stratified_threshold",
    "q86_merge_roundtrip",
    # round-9: the new faces carry perf accountability from day one —
    # the exact global packer (two-phase prefix scan + segment explode)
    # and the applyInPandasWithState running totals (per-micro-batch
    # Arrow round-trip through the state store); plus the converted
    # decimal-sum shapes so the micro-unit speedup is visible in the
    # round-over-round record (q63 two-level pivot re-fold, q66 ratio,
    # q67 argmax, q72 threshold, q76 scalar ratio, q83 top-20)
    "x110_pack_concat_chunks",
    "x111_stateful_running_totals",
    # q38 carries the LATE-CENTS many-group discipline (exact_parts
    # through the aggregate, cents for the top-k survivors only — the
    # form that erased the one conversion regression the r9 A/B found)
    "q38_shipping_priority",
    "q63_pivot_revenue_matrix",
    "q66_market_share",
    "q67_top_supplier",
    "q72_important_parts",
    "q76_promo_revenue_share",
    "q83_returned_item_customers",
    # round-11: the multi-epoch shard matrix (one scan, two md5 hash
    # columns, a 64-row aggregate — the cheapest multi-epoch audit shape)
    "x113_multi_epoch_shard_matrix",
    # round-11: the group-cohesive holdout split (zero-shuffle map-side
    # band projection + a |sources|-row aggregate)
    "x114_group_holdout_split",
    # round-11: int8-quantized ANN with recall/error certification
    # (exact baseline + quantized brute force + the integer invariant)
    "x115_quantized_ann",
    # round-11: real NN resize kernel (fused Arrow pipeline over the
    # synthetic BMP corpus — the codec-throughput probe)
    "x116_bmp_resize_stats",
    # round-11: real video frame sampling (demux walk + per-frame
    # decode, per-frame rows exploded inside the Arrow batch)
    "x117_frame_sample_stats",
    # round-11: real audio sample-rate conversion (fused Arrow
    # pipeline; the rate-normalization throughput probe)
    "x118_wav_resample_stats",
    # round-11: real compressed PNG decode (zlib inflate + filter
    # reconstruction — the compressed-codec throughput probe)
    "x119_png_decode_stats",
    # round-12: count-min heavy hitters — the bounded-shuffle sketch
    # build (explode x depth -> partial-agg-capped shuffle) + the
    # zero-shuffle depth-broadcast probe path
    "x120_count_min_heavy_hitters",
    # round-12: token-budget water-filling — one corpus-scan token
    # aggregate + |langs|-row window math (the epoch-planning shape)
    "x121_token_budget_waterfill",
    # round-13: KMV bottom-k distinct sketch — prefilter-pushed scan +
    # map-side-deduped distinct + TakeOrdered cap (the value-certified
    # distinct-count path next to HLL's envelope-only x12)
    "x122_kmv_distinct",
    # round-13: hash-sample quantile estimation — prefilter-pushed
    # bottom-k sample + one-scan multi-quantile CDF certification (the
    # sampled profiling path; value-certified where x12's KLL is
    # envelope-only)
    "x123_sampled_quantiles",
    # round-13: streaming KMV maintenance — per-micro-batch bottom-k
    # fold through foreachBatch (builder runs the availableNow stream
    # eagerly, like x111; build time lands in the builder column)
    "x124_stream_kmv_merge",
    # round-13: weighted systematic selection — the x110 two-phase
    # banded prefix scan driving an exact token-proportional pick
    "x125_weighted_systematic_sample",
    # round-13: snapshot CDC — three real MERGE commits + the
    # time-travel diff join (builder does the writes, like q86)
    "q87_snapshot_diff",
    # round-13: per-group KMV — distinct-per-group estimation via one
    # deduped shuffle + a group-partitioned rank window
    "x126_kmv_by_group",
    # round-13: streaming CMS maintenance — counter-wise foreachBatch
    # fold (eager builder, x111/x124 class; r14: durable
    # versioned-watermark state + in-band crash-replay exercise)
    "x127_stream_cms_merge",
    # round-14: streaming sampled-quantile maintenance — bottom-k row
    # sample folded through foreachBatch (the third streaming sketch;
    # eager builder, x111/x124 class)
    "x128_stream_sample_quantiles",
    # round-14 session 2: the sketch-algebra trio — cross-corpus set
    # algebra from bottom-k sketches (x129), priority sampling for
    # subset sums (x130, TakeOrdered top-(k+1) + one certification
    # scan), and pairwise FK/containment discovery over per-column
    # sketches (x131, one scan per table + sketch-sized pair phase)
    "x129_kmv_set_algebra",
    "x130_priority_sample",
    "x131_fk_containment",
    # round-14 session 2: hybrid retrieval — RRF fusion of the BM25
    # and cosine top-50 lists (pool-sized fusion phase)
    "x132_rrf_fusion",
    # round-14 session 2: streaming overlap monitor — two KMV folds
    # composed through the set algebra (eager builder, x124 class)
    "x133_stream_overlap_monitor",
    # round-14 session 2: AMS join-size estimation from CMS inner
    # products (one persisted base scan, sketch-geometry-bounded join)
    "x134_cms_join_size",
    # round-14 session 2: weighted quantiles from the priority sample
    # (TakeOrdered sample + one-scan CDF certification)
    "x135_weighted_quantiles",
    # round-10: x112 (stateful TTL eviction) is deliberately NOT here —
    # its runtime is dominated by designed wall-clock sleeps (the TTL
    # gap that makes eviction deterministic), so it would measure the
    # test harness, not the engine. q66/q76 above carry the r10
    # integer-ratio-law change; q24's exact_mean conversion rides the
    # same few-group aggregate shape q21 already benches.
]


#: Reference ambient-control seconds, pinned on the r12 controlled box
#: (median of 6 interleaved control runs there). The control workload
#: below is ENGINE-INDEPENDENT (spark.range → modulo keys → hash
#: aggregate; no repo code, no test data), so round-over-round drift in
#: ``control_sec`` measures box weather, not engine changes — and
#: ``value_control_normalized = value * CONTROL_REF_SEC / control_sec``
#: rescales the headline total to reference-box conditions (r11 verdict
#: item 5: driver-box noise was the largest term in round deltas).
CONTROL_REF_SEC = 0.55


def _control_run(spark) -> float:
    """One timed run of the fixed control workload."""
    t0 = time.perf_counter()
    (spark.range(0, 20_000_000)
     .selectExpr("id % 997 AS k", "id")
     .groupBy("k").agg({"id": "sum", "*": "count"})
     .write.mode("overwrite").format("noop").save())
    return time.perf_counter() - t0


def measure(spark, build, sf_dir: str,
            iters: int) -> tuple[list[float], list[float]]:
    """Time ``iters`` runs of one query; returns (run seconds, build
    seconds) per iteration.

    Each iteration clears the executor cache, then builds the DataFrame
    and runs it into the noop sink. The builder is timed SEPARATELY:
    most builders are pure plan construction (~0.5 s of Catalyst/py4j),
    but the iterative/roundtrip operators (x96's ER closure, x21's
    cluster propagation, q86's real parquet writes, x111's
    availableNow stream) execute genuine engine work eagerly during
    build — folding it into the run timing would break every prior
    round's comparability, hiding it entirely would misdirect perf
    accountability (r11 found x96's true cost is ~19 s at sf0.1, not its
    0.5 s write).

    After the query, one driver-side GC and a 0.3 s settle: hundreds of
    accumulated broadcast variables / shuffle registrations only get
    cleaned when a JVM GC triggers the ContextCleaner, and an idle heap
    may not GC for the whole run — measured up to 3-4x inflation on
    late-list queries (x16: 0.75s clean vs 3.2s after 20 queries of
    accumulated state). The cleaner itself is ASYNC: give it a beat to
    drain before the next query's timing starts, or its unpersist/remove
    RPCs contend with the measured run (x06 medians 1.0s mid-bench vs
    0.62s standalone without the settle)."""
    runs: list[float] = []
    builds: list[float] = []
    for _ in range(iters):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = build(spark, sf_dir)
        builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        runs.append(time.perf_counter() - t0)
    spark._jvm.System.gc()
    time.sleep(0.3)
    return runs, builds


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(app_name="fpa-bench")
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM/codegen warm-up
    # Warm the parquet datasource path, broadcast machinery, and the
    # Janino codegen compiler with a join+agg over the two tiny dimension
    # tables (5 + 25 rows) so the first measured query isn't charged
    # one-time framework initialization. No benchmark table data is
    # pre-read or cached by this.
    from pyspark.sql import functions as F  # noqa: PLC0415
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    (nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
     .groupBy("r_name").agg(F.avg("n_nationkey")).collect())

    queries = all_queries()
    # steady-state warm-up: run each query once at the tiny sf so codegen
    # compile isn't charged to the measured sf (see module docstring)
    warm_dir = sf_dir.replace(f"sf{m.group(1)}", "sf0.001") if m else sf_dir
    for name in HEADLINE:
        queries[name](spark, warm_dir).write.mode("overwrite").format("noop").save()

    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "5"))
    # ambient control, INTERLEAVED (r13 verdict item 3: a single scalar
    # probe can't adjudicate 10-20% swings): 2 runs before the sweep,
    # 2 at the midpoint, 2 after — all six raw samples are recorded in
    # order (`control_samples`), so the hand-off can attribute a drift
    # in any query GROUP to the nearest-in-time ambient reading without
    # a second full run. `control_sec` stays the median of all samples
    # (round-over-round comparable with r12/r13).
    controls = [_control_run(spark) for _ in range(2)]
    mid_at = len(HEADLINE) // 2
    timings: dict[str, float] = {}
    builds: dict[str, float] = {}
    raw_samples: dict[str, list[float]] = {}
    for qi, name in enumerate(HEADLINE):
        if qi == mid_at:
            controls += [_control_run(spark) for _ in range(2)]
        samples, bsamples = measure(spark, queries[name], sf_dir, iters)
        timings[name] = round(statistics.median(samples), 3)
        builds[name] = statistics.median(bsamples)
        raw_samples[name] = samples

    controls += [_control_run(spark) for _ in range(2)]
    # Outlier re-measurement (r14 verdict item 3: the 32-core driver
    # window recorded x116 at 5.1 s — median of 5! — vs 0.5-2.1 s in
    # four other records of identical code, and 16 phantom regressions
    # landed in PERF_r14; the interleaved control DETECTS the weather
    # but nothing ACTED on it). A query whose in-sweep samples are
    # self-inconsistent — median > 2× its own best sample, or spread
    # > 3× — was measured through a contended window, not a plan: its
    # own minimum is an existence proof that the code runs that fast.
    # Re-run the full ITERS loop for those names after the sweep (the
    # tail of the sweep is a different window) through the same
    # measurement, record BOTH medians in ``requeued``, and report the
    # retry: taking min(first, retry) would bias the number downward
    # whatever the window. A clean sweep requeues nothing. Capped at 16
    # names (severity-ordered) so a fully contended box cannot double
    # the sweep.
    suspect = sorted(
        (name for name, secs in timings.items()
         if secs > 2 * min(raw_samples[name])
         or max(raw_samples[name]) > 3 * min(raw_samples[name])),
        key=lambda n: -(timings[n] / min(raw_samples[n])),
    )[:16]
    requeued: dict[str, list[float]] = {}
    for name in suspect:
        samples, _ = measure(spark, queries[name], sf_dir, iters)
        retry = round(statistics.median(samples), 3)
        requeued[name.split("_", 1)[0]] = [timings[name], retry]
        timings[name] = retry
    control_sec = round(statistics.median(controls), 3)
    total = round(sum(timings.values()), 3)
    # The driver records only a ~2 KB window of stdout (every BENCH_r*.json
    # through r10 landed with "parsed": null and the JSON clipped mid-key —
    # r10 verdict item 5). Emit COMPACT json, put the headline total before
    # the per-query dict, and key the dict by the short query id (the
    # "q01"/"x67b" prefix — unique across HEADLINE, asserted below) so the
    # whole line fits any 2 KB capture window.
    short = {}
    for name, sec in timings.items():
        key = name.split("_", 1)[0]
        assert key not in short, f"duplicate short bench key {key}"
        short[key] = sec
    # builder-side accountability: total eager-build seconds across the
    # set, plus the per-query medians above 1 s (the iterative/roundtrip
    # operators whose real work happens before the timed write; the
    # sub-second rest is plan construction). Kept OUT of "value" so
    # round-over-round totals stay comparable.
    build_total = round(sum(builds.values()), 3)
    heavy_builds = {
        name.split("_", 1)[0]: round(sec, 3)
        for name, sec in builds.items() if sec >= 1.0
    }
    print(json.dumps({
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(short),
        "control_sec": control_sec,
        # raw interleaved samples: [0:2] pre-sweep, [2:4] mid-sweep,
        # [4:6] post-sweep
        "control_samples": [round(c, 3) for c in controls],
        "value_control_normalized": round(
            total * CONTROL_REF_SEC / control_sec, 3) if control_sec else None,
        "build_total_sec": build_total,
        "heavy_builds": heavy_builds,
        # queries whose in-sweep samples tripped the contended-window
        # rule: {short_name: [first_median, retry_median]}; the
        # reported number is the retry. Empty on a clean sweep.
        "requeued": requeued,
        "queries": short,
    }, separators=(",", ":")), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
