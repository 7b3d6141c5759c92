"""Plan-shape regression tests: lock in the physical-plan properties the
100 TB design depends on (broadcasts, pushdown, top-k without global sort,
column pruning). A change that silently degrades one of these passes value
checks but fails here."""

from __future__ import annotations

from airflow_project_flight_price_analysis_spark.plans import all_queries
from tests.conftest import SF_ORACLE, session_conf

_Q = all_queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """The AQE-FINAL physical plan: runs the query so adaptive
    re-planning (runtime broadcast conversion, skew splits) has
    happened, then reads the live plan. Use for assertions about
    strategies deliberately LEFT to AQE — the static plan shows the
    pre-adaptive choice (e.g. SortMergeJoin on a join output whose
    size estimate is unknown), which is exactly what AQE replaces.
    Only the '== Final Plan ==' section is returned (the printed tree
    repeats every node in '== Initial Plan ==', which would double
    scan counts)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_q01_broadcasts_dim(spark):
    plan = _plan(_Q["q01_avg_fare_by_airline"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    # the fact side must not shuffle before the join
    pre_join = plan.split("BroadcastHashJoin")[-1]
    assert "lineitem" in pre_join


def test_q03_q04_partial_aggregation(spark):
    """r4 brief item 6: both fare aggregates must run partial→final
    HashAggregate (map-side combine before the group-key shuffle), with
    no sort-merge join — the lineitem side flows straight from the scan
    through the broadcast join into the partial aggregate, so the only
    hash exchange carries |groups| partial rows, not lineitem rows."""
    for name in ("q03_fare_trend", "q04_seasonal_fare_variation"):
        plan = _plan(_Q[name](spark, SF_ORACLE))
        # r7: the mean is a decimal-exact partial_sum + partial_count
        # (see kpi._avg_fare_exact) — still map-side combined
        assert "partial_sum" in plan, f"{name}: no map-side combine\n{plan}"
        assert "partial_count" in plan, f"{name}: no map-side combine\n{plan}"
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        # exactly one hash-partitioned exchange (the partial-agg shuffle);
        # the broadcast and the final rangepartitioning sort don't count
        n_hash_ex = plan.count("hashpartitioning")
        assert n_hash_ex == 1, f"{name}: {n_hash_ex} hash exchanges\n{plan}"


def test_q05_topk_is_take_ordered(spark):
    plan = _plan(_Q["q05_top_routes"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan


def test_q39_predicates_pushed_to_scan(spark):
    plan = _plan(_Q["q39_forecast_revenue"](spark, SF_ORACLE))
    assert "PushedFilters:" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln][0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"


def test_q01_scan_prunes_columns(spark):
    plan = _plan(_Q["q01_avg_fare_by_airline"](spark, SF_ORACLE))
    read = [ln for ln in plan.splitlines()
            if "ReadSchema" in ln and "l_extendedprice" in ln][0]
    # 16-column lineitem must scan only the 4 referenced columns
    assert "l_comment" not in read and "l_partkey" not in read
    for col in ("l_suppkey", "l_extendedprice", "l_discount", "l_tax"):
        assert col in read


def test_customer_join_strategy_left_to_aqe(spark):
    """customer is a *scaling* dimension (150k·sf rows): q05/q16 must not
    force-broadcast it. With the auto-broadcast threshold disabled, only
    the explicitly-hinted fixed-size dims (supplier + 2× nation role-playing
    views) may broadcast — a forced customer hint would survive the
    disabled threshold and show a 4th BroadcastExchange."""
    with session_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        for name in ("q05_top_routes", "q16_fact_flights"):
            plan = _plan(_Q[name](spark, SF_ORACLE))
            n_bcast = plan.count("BroadcastExchange")
            assert n_bcast == 3, f"{name}: {n_bcast} BroadcastExchange (want 3 hinted dims)"


def test_x16_broadcast_is_size_gated(spark):
    """Below the gate x16 broadcasts the build side; above it the plan
    must contain NO BroadcastExchange — it falls back to a co-partitioned
    self-join so a 100 TB corpus can't OOM the driver/executors."""
    try:
        spark.conf.set("spark.graft.neardup.broadcastMaxRows", "1")
        plan = _plan(_Q["x16_embedding_neardup"](spark, SF_ORACLE))
        assert "BroadcastExchange" not in plan, "gate ignored: still broadcasting"
        assert "Exchange hashpartitioning(label" in plan
    finally:
        spark.conf.unset("spark.graft.neardup.broadcastMaxRows")
    plan = _plan(_Q["x16_embedding_neardup"](spark, SF_ORACLE))
    assert "BroadcastExchange" in plan  # small corpus keeps the fast path


def test_x26_single_shuffle(spark):
    """x26's repetition metrics are map-side array expressions: exactly
    one aggregation Exchange (the per-language rollup) plus the
    scale_out repartition — an explode-based regression would add
    (doc, gram) shuffles."""
    plan = _plan(_Q["x26_repetition_signals"](spark, SF_ORACLE))
    # shuffles: scale_out REPARTITION_BY_NUM + groupBy(lang) + final sort
    n_exch = plan.count("Exchange ")
    assert n_exch <= 3, f"x26 has {n_exch} exchanges:\n{plan}"
    assert "Generate" not in plan, "x26 must not explode tokens"


def test_x28_topk_is_take_ordered(spark):
    plan = _plan(_Q["x28_boilerplate_ngrams"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan


def test_x27_no_python_udf(spark):
    plan = _plan(_Q["x27_pii_redaction"](spark, SF_ORACLE))
    assert "EvalPython" not in plan


def test_x30_no_shuffle_before_sort(spark):
    """Chunking is a per-doc Generate; the only exchange is the output
    range partitioning for the oracle-parity sort (plus scale_out)."""
    plan = _plan(_Q["x30_chunking"](spark, SF_ORACLE))
    n_exch = plan.count("Exchange ")
    assert n_exch <= 3, f"x30 has {n_exch} exchanges:\n{plan}"
    assert "Generate" in plan


def test_q53_window_runs_on_daily_aggregate(spark):
    """q53's RANGE frame may single-partition — but only AFTER the
    per-day aggregation has reduced orders to |days| rows: the
    HashAggregate must sit below the Window in the plan, and the
    orders-scale shuffle must be the aggregate's, not the window's."""
    plan = _plan(_Q["q53_rolling_range_frame"](spark, SF_ORACLE))
    assert "Window" in plan
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # executedPlan prints top-down: the Window node appears BEFORE the
    # aggregate feeding it, so the window consumes the daily rollup.
    assert win_pos < agg_pos, plan


def test_q54_is_null_aware_anti_join(spark):
    """NOT IN must plan as the single-column null-aware anti join
    (BroadcastHashJoin LeftAnti with the NAAJ flag), with the quantity
    predicate pushed to the lineitem scan — not a nested-loop product."""
    plan = _plan(_Q["q54_not_in_null_aware"](spark, SF_ORACLE))
    join_lines = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert join_lines and "BroadcastHashJoin" in join_lines[0], plan
    assert join_lines[0].rstrip().endswith("true"), join_lines[0]  # isNullAware
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "GreaterThanOrEqual(l_quantity,50.0)" in plan, plan


def test_q54_null_sentinel_flows_through_naaj(spark):
    """The probe-side NULL sentinel must be EXCLUDED (NULL NOT IN set
    is UNKNOWN) while real suppliers survive — the result is non-empty
    and never contains the sentinel, so the three-valued path is
    exercised by data, not just planned (ADVICE r4)."""
    rows = _Q["q54_not_in_null_aware"](spark, SF_ORACLE).collect()
    assert rows, "tightened predicate should leave some suppliers"
    assert all(r.s_suppkey is not None for r in rows)
    assert not any(r.s_name == "NULL-KEY SENTINEL" for r in rows)


def test_not_in_null_subquery_empties_result(spark):
    """The dual branch q54 cannot show in its output: one NULL in the
    SUBQUERY set makes ``x NOT IN (...)`` UNKNOWN for every probe row,
    so the whole result must be empty under three-valued logic."""
    n = spark.sql("""
        SELECT COUNT(*) AS n FROM (
            SELECT * FROM VALUES (1), (2), (3) AS probe(k)
            WHERE k NOT IN (SELECT v FROM VALUES (9), (CAST(NULL AS INT)) AS s(v))
        )
    """).collect()[0].n
    assert n == 0


def test_q56_lateral_decorrelates_to_window_group_limit(spark):
    """The LATERAL-with-LIMIT must decorrelate into the window top-k
    machinery with WindowGroupLimit pre-pruning — never a per-customer
    nested-loop re-execution of the subquery."""
    plan = _plan(_Q["q56_lateral_topk"](spark, SF_ORACLE))
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q65_nation_filter_pushed_into_dim_branches(spark):
    """The two-nation restriction must reach both dimension branches as
    broadcast joins (supplier side fully broadcast), so the lineitem
    scan is never joined against the unfiltered dims."""
    plan = _plan(_Q["q65_volume_shipping"](spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BatchEvalPython" not in plan


def test_q66_share_is_single_aggregate(spark):
    """SUM(CASE)/SUM must compute inside one partial→final aggregate —
    no second pass over the join for the denominator."""
    plan = _plan(_Q["q66_market_share"](spark, SF_ORACLE))
    # exactly one partial + one final HashAggregate for the year groups
    # — a denominator computed by a second aggregation joined back
    # would add another pair (and an exchange)
    assert plan.count("HashAggregate") == 2, plan
    assert "Union" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_q67_shipdate_pushed_to_scan_and_max_broadcast(spark):
    """The quarter filter must reach the parquet scan (PushedFilters),
    and the MAX attaches as a broadcast one-row join, not a self-join
    shuffle."""
    df = _Q["q67_top_supplier"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    scan = plan[plan.index("FileScan"):]
    assert "l_shipdate" in scan.split("PushedFilters")[1][:300], plan


def test_q68_anti_join_on_pruned_orders_projection(spark):
    """The never-ordered test must be a left-anti hash join whose orders
    side scans ONLY o_custkey (column pruning)."""
    plan = _plan(_Q["q68_dormant_rich_customers"](spark, SF_ORACLE))
    assert "LeftAnti" in plan, plan
    import re
    orders_scans = [
        seg for seg in plan.split("FileScan") if "orders" in seg[:200]
    ]
    assert any(
        "o_custkey" in seg[:400] and "o_totalprice" not in seg[:400]
        for seg in orders_scans
    ), plan


def _q67_revenue_frame(spark, sf_dir):
    from pyspark.sql import functions as F

    from airflow_project_flight_price_analysis_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    return li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("raw_rev")
    )


def test_q67_precondition_argmax_gap_exceeds_float_noise(spark):
    """q67 compares each engine's own MAX to its own sums (exact within
    an engine), but cross-engine agreement needs the ARGMAX supplier to
    be unambiguous: if the top two revenues differed only at float-noise
    scale, DuckDB's and Spark's different summation orders could elect
    different winners. Pin that the gap is many orders of magnitude
    above double ulp at both driver SFs."""
    from tests.conftest import SF_ORACLE, SF_SMALL

    for sf_dir in (SF_SMALL, SF_ORACLE):
        top2 = [
            r.raw_rev
            for r in _q67_revenue_frame(spark, sf_dir)
            .orderBy("raw_rev", ascending=False)
            .limit(2)
            .collect()
        ]
        assert len(top2) == 2
        rel_gap = (top2[0] - top2[1]) / abs(top2[0])
        assert rel_gap > 1e-9, (
            f"top-supplier revenue gap at {sf_dir} is {rel_gap:.2e} — "
            "within cross-engine float noise; q67's argmax is ambiguous"
        )


def test_q75_weakenings_reach_both_scans(spark):
    """Q19 discipline: the mixed-table OR cannot be pushed by Catalyst,
    so the plan must carry hand-derived per-table weakenings — the
    quantity-range disjunction on the lineitem scan and the brand/size
    disjunction on the part scan — and broadcast the shrunken part
    side. No shuffle may touch lineitem before the scalar aggregate."""
    plan = _plan(_Q["q75_disjunctive_pushdown"](spark, SF_ORACLE))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln]
    li_pushed = [ln for ln in pushed if "l_quantity" in ln]
    p_pushed = [ln for ln in pushed if "p_brand" in ln]
    assert li_pushed and "Or(" in li_pushed[0], f"lineitem OR not pushed\n{plan}"
    assert p_pushed and "Or(" in p_pushed[0], f"part OR not pushed\n{plan}"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # only the scalar-aggregate SinglePartition exchange remains
    assert plan.count("hashpartitioning") == 0, plan


def test_q77_single_pass_conditional_aggregate(spark):
    """Q20 discipline: the nested IN + correlated SUM decorrelates to
    ONE pass over lineitem — a single (suppkey, partkey) aggregate
    computing both conditional and total sums with map-side combine,
    behind a broadcast part-prune pushed to the part scan."""
    plan = _plan(_Q["q77_qualified_suppliers"](spark, SF_ORACLE))
    assert "StringStartsWith(p_name,red " in plan, plan
    assert plan.count("partial_sum") == 2, plan
    # lineitem is scanned exactly once
    assert plan.count("lineitem.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_q78_correlate_collapses_to_max_reduction(spark):
    """Q4 discipline: NOT EXISTS(inequality correlate) must run as one
    MAX reduction over lineitem — single scan, map-side partial_max,
    no anti join, and the post-reduction shuffle carries one row per
    order."""
    plan = _plan(_Q["q78_preshipped_orders"](spark, SF_ORACLE))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "partial_max" in plan, plan
    assert "LeftAnti" not in plan, plan


def test_q80_correlated_min_is_window_over_single_scan(spark):
    """Q2 discipline: the correlated scalar MIN decorrelates to a
    window min over the bridge — ONE lineitem scan, one shuffle on
    p_partkey, no grouped-min + join-back, never a per-part rescan.
    The filtered part/supplier joins are AQE-chosen (r8: hints dropped
    — they're sf-proportional), so the no-SortMergeJoin assertion runs
    on the AQE-FINAL plan: at this scale the runtime sizes fit the
    threshold and AQE must have converted both to broadcast."""
    plan = _final_plan(_Q["q80_min_cost_supplier"](spark, SF_ORACLE))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "Window" in plan and "min(price" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q81_part_filter_pushed_below_joins(spark):
    """Q9 discipline: the p_name LIKE filter must sit AT the part scan
    (a Contains filter on the line feeding the part relation), BELOW
    every join in the printed tree — never a post-join residual.

    (r7 review rewrite: the first version asserted a literal regex
    string was absent — vacuously true — and never used its computed
    positions.)"""
    plan = _plan(_Q["q81_profit_by_nation_year"](spark, SF_ORACLE))
    lines = plan.splitlines()
    join_lines = [i for i, ln in enumerate(lines)
                  if "BroadcastHashJoin" in ln or "SortMergeJoin" in ln
                  or "ShuffledHashJoin" in ln]
    contains_lines = [i for i, ln in enumerate(lines)
                      if "Contains(p_name" in ln or "Contains(p_name#"
                      in ln or ("Filter" in ln and "red" in ln)
                      or ("part.parquet" in ln and "red" in ln)]
    assert join_lines, plan
    assert contains_lines, f"p_name LIKE filter not found\n{plan}"
    # tree prints parents above children: the filter must sit strictly
    # BELOW the topmost join (i.e. on a later line), and no residual
    # Filter with the predicate may sit ABOVE the first join
    assert min(contains_lines) > min(join_lines), plan
    residual_above = [i for i in contains_lines
                      if i < min(join_lines) and "Filter" in lines[i]
                      and "parquet" not in lines[i]]
    assert not residual_above, plan


def test_q82_single_lineitem_scan(spark):
    """Q18 discipline: the grouped-HAVING subquery and the per-order
    quantity both come from ONE lineitem aggregate — one scan, not the
    naive IN + re-join + re-aggregate double read."""
    plan = _plan(_Q["q82_large_volume_customers"](spark, SF_ORACLE))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "partial_sum" in plan, plan


def test_q84_blacklist_is_broadcast_anti_join(spark):
    """Q16 discipline: NOT IN over a non-nullable key runs as a
    broadcast LEFT ANTI join (blacklist is |suppliers|-bounded), and
    the part attribute filters reach the part scan."""
    plan = _plan(_Q["q84_supplier_cnt_by_part_attr"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q85_single_pass_conditional_counts(spark):
    """Q12 discipline: both CASE counts live in ONE partial aggregate;
    the returnflag + shipdate filters push to the lineitem scan."""
    plan = _plan(_Q["q85_priority_line_counts"](spark, SF_ORACLE))
    assert "partial_sum" in plan, plan
    i = plan.find("lineitem.parquet")
    li_scan = plan[max(0, i - 3000): i + 3000]  # whole FileScan line
    assert "PushedFilters" in li_scan and "l_returnflag" in li_scan, plan


def test_x103_x105_payloads_never_shuffle(spark):
    """Media-decode scale discipline: the binary payload must exist
    only inside the fused MapInArrow chain — every Exchange carries
    either the 8-byte doc_id (pre-synth repartition) or fixed-width
    stats (post-decode aggregate), and the documents scan reads ONLY
    doc_id."""
    for name in ("x103_wav_decode_stats", "x105_bmp_decode_stats"):
        plan = _plan(_Q[name](spark, SF_ORACLE))
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "payload" not in line, f"{name}: payload shuffles\n{line}"
        scan = next(l for l in plan.splitlines() if "documents.parquet" in l)
        assert "ReadSchema: struct<doc_id:bigint>" in scan, scan
        assert "partial_sum" in plan, plan  # map-side combine on stats


def test_q80_q82_scaling_sides_left_to_aqe(spark):
    """r7 verdict item 5: q82's `heavy` set (~1.5% of orders) and q80's
    filtered part / EUROPE-supplier sets are sf-PROPORTIONAL — their
    join strategy must be AQE-chosen, never hint-forced. With the
    auto-broadcast threshold disabled, only q80's fixed-size dimension
    hints (region into nation, nation⋈region into supplier) may
    broadcast; q82 must show none."""
    with session_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        plan = _plan(_Q["q82_large_volume_customers"](spark, SF_ORACLE))
        n = plan.count("BroadcastExchange")
        assert n == 0, f"q82: {n} BroadcastExchange (heavy/cust forced)"
        plan = _plan(_Q["q80_min_cost_supplier"](spark, SF_ORACLE))
        n = plan.count("BroadcastExchange")
        assert n == 2, f"q80: {n} BroadcastExchange (want 2 fixed dims)"


def test_late_cents_topk_stays_take_ordered(spark):
    """q38/q83 (r9 late-cents rework): ranking on the recombined micro
    double and projecting cents AFTER the limit must still compile to
    TakeOrderedAndProject — a global Sort before the limit would mean
    the projection-through-limit pushout broke and the many-group
    aggregate is paying a full cluster sort for a top-k."""
    for name in ("q38_shipping_priority", "q83_returned_item_customers"):
        plan = _plan(_Q[name](spark, SF_ORACLE))
        assert "TakeOrderedAndProject" in plan, f"{name}:\n{plan}"
        assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), (
            f"{name} pays a global sort:\n{plan}"
        )


def test_post_exec_jlint_flags_known_anti_patterns(spark):
    """ADVICE r12 (medium x2): the post-exec lint axis was vacuous —
    AdaptiveSparkPlanExec is a LEAF node, so the JVM walk saw one node
    and returned [] for every face, and the noop-sink execution never
    finalized the df's own QueryExecution anyway. Pin the fix from both
    ends: a deliberately bad plan (global no-partition window over a
    data-grain table = SinglePartition funnel) must be FLAGGED, and a
    known-clean shuffling aggregate must not. Both execute via
    collect() first, exactly as tools/plan_lint.py --post-exec does."""
    import sys

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sys.path.insert(0, "/root/repo")
    from tools.plan_lint import _jlint, _jwalk

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")

    bad = li.withColumn(
        "rn", F.row_number().over(Window.orderBy("l_orderkey")))
    bad.collect()
    root = bad._jdf.queryExecution().executedPlan()
    if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        assert "isFinalPlan=true" in root.toString().splitlines()[0]
    # the unwrap must expose the whole tree, not the AQE leaf alone
    assert sum(1 for _ in _jwalk(root)) > 3
    findings = _jlint(root)
    assert any(f.startswith("SinglePartition->") for f in findings), findings

    good = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    good.collect()
    assert _jlint(good._jdf.queryExecution().executedPlan()) == []


def test_repeated_scan_rule_counts_real_reads_only(spark):
    """r13 lint rule: a shared subtree consumed per branch without a
    persist re-scans its sources once per consumer. Pin both
    directions: six unpersisted aggregate branches of one scan ARE
    flagged (> MAX_SCANS_PER_RELATION), and the same composition over
    a persisted frame is NOT — cached relations materialize once, so
    their consumers must not be charged."""
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, "/root/repo")
    from tools.plan_lint import MAX_SCANS_PER_RELATION, _jlint, _jscan_counts

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select(
        "l_suppkey", "l_quantity")

    def six_branches(src):
        aggs = [
            src.agg(F.sum("l_quantity").alias("v")),
            src.agg(F.count(F.lit(1)).alias("v")),
            src.agg(F.max("l_quantity").alias("v")),
            src.agg(F.min("l_quantity").alias("v")),
            src.agg(F.avg("l_quantity").alias("v")),
            src.agg(F.sum(F.col("l_quantity") * 2).alias("v")),
        ]
        out = aggs[0]
        for a in aggs[1:]:
            out = out.unionByName(a.select(F.col("v").cast("double")))
        return out

    bad = six_branches(li)
    bad.collect()
    counts = _jscan_counts(bad._jdf.queryExecution().executedPlan())
    assert max(counts.values()) > MAX_SCANS_PER_RELATION, counts
    assert any(f.startswith("RepeatedScan->") for f in
               _jlint(bad._jdf.queryExecution().executedPlan()))

    cached = li.persist()
    try:
        good = six_branches(cached)
        good.collect()
        counts = _jscan_counts(good._jdf.queryExecution().executedPlan())
        assert max(counts.values()) <= 1, counts
        assert not any(f.startswith("RepeatedScan->") for f in
                       _jlint(good._jdf.queryExecution().executedPlan()))
    finally:
        cached.unpersist()
