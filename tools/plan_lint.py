"""Registry-wide physical-plan lint — sweep EVERY registered query's
plan for the scale anti-patterns the 100 TB design forbids.

Run: python tools/plan_lint.py [--post-exec]   (prints one line per
finding, then a summary; exit 1 if any un-allowlisted finding)

What it flags and why:

- ``CartesianProduct`` — an unbounded cross join: O(|L|·|R|) rows with
  no equi-key to shuffle on. Never acceptable at scale.
- ``BroadcastNestedLoopJoin`` — the non-equi broadcast loop. Legitimate
  ONLY when the broadcast side is a bounded statistic (one row, or a
  few-row threshold table) attached to every row; those sites are
  allowlisted BY QUERY NAME below with the bounded side documented.
- ``SinglePartition`` feeding a ``Sort`` or ``Window`` — the
  single-partition funnel: ALL rows through one task. (The same
  exchange under a grand-total ``HashAggregate(keys=[])`` is fine —
  each upstream partition contributes one partial row, so the funnel
  carries |partitions| rows, not |data|.)
- ``*EvalPython*`` — a Python UDF evaluated per row (``BatchEvalPython``)
  or per Arrow batch (``ArrowEvalPython``, a scalar ``pandas_udf``). The
  tree is supposed to contain ZERO (``mapInArrow``/``applyInPandas``
  show as ``MapInArrow``/``FlatMapGroupsInPandas`` and are fine where
  used).
- ``RepeatedScan`` — one source relation scanned more than
  ``MAX_SCANS_PER_RELATION`` times. Final plans only (see ``_jlint``).

One implementation, ``_jlint``, walks the JVM plan tree. Its callers:

- the default sweep lints each plan before any job runs (``executedPlan``
  is then the AQE initial plan). AQE can only IMPROVE on it at runtime
  (broadcast conversion, skew splits), so a clean initial plan is the
  conservative bar;
- ``--post-exec`` additionally EXECUTES every bench HEADLINE face once
  at sf0.001 (``collect()``, which drives the df's OWN QueryExecution — a
  noop ``write()`` spawns a separate one and leaves this plan
  un-finalized) and lints the FINAL adaptive plan (``isFinalPlan=true``
  — what actually ran). This catches a funnel that only materializes at
  runtime (e.g. an AQE coalesce collapsing a window's input to one
  partition) that the initial plan cannot show;
- ``tests/test_queries_vs_oracle.py`` lints every registered face's plan
  before executing it against its oracle.
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_project_flight_price_analysis_spark.plans import all_queries  # noqa: E402
from airflow_project_flight_price_analysis_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

#: (query, pattern) pairs adjudicated legitimate. Every entry documents
#: WHY the flagged node is bounded. Grep-audited when added; a new
#: finding outside this list fails the lint. (BNLJs whose build side is
#: a grand ``keys=[]`` aggregate — the one-row statistic attachment —
#: are auto-accepted by ``_jbnlj_is_bounded`` and never reach here.)
ALLOWLIST: dict[tuple[str, str], str] = {
    # --- BNLJ with a bounded (but not provably-one-row) build side ---
    ("x37_nearest_centroid", "BroadcastNestedLoopJoin"):
        "broadcasts |labels| collect_list'd centroids (k-bounded)",
    ("q28_levenshtein_pairs", "BroadcastNestedLoopJoin"):
        "non-equi edit-distance over dim x dim: broadcast side is the "
        "25-row nation scan",
    ("x86_ks_drift", "BroadcastNestedLoopJoin"):
        "broadcasts per-source counts (|sources| rows)",
    ("x06_cosine_topk", "BroadcastNestedLoopJoin"):
        "broadcasts the <=10-row probe set (vec_id < 10 filter) — the "
        "brute-force ANN design: broadcast probes, scan corpus once",
    ("x07_lsh_topk", "BroadcastNestedLoopJoin"):
        "same probe-set broadcast as x06 (<=10 rows)",
    ("x15_ivf_topk", "BroadcastNestedLoopJoin"):
        "probe-set broadcast (<=10 rows) + TakeOrdered(limit=8) "
        "centroid broadcast — both k-bounded",
    ("x115_quantized_ann", "BroadcastNestedLoopJoin"):
        "same probe-set broadcast as x06 (<=10 rows), on both the "
        "float-baseline and the quantized side",
    ("x132_rrf_fusion", "BroadcastNestedLoopJoin"):
        "the cosine_topk probe broadcast (ONE row: vec_id = 0), the "
        "x06 pattern",
    # --- SinglePartition sort/window over a post-aggregate bounded
    # grain: the funnel carries |grain| rows, not |data| ---
    ("q30_sql_running_total", "SinglePartition"):
        "running total over the year-month grain (<=|months| rows)",
    ("q53_rolling_range_frame", "SinglePartition"):
        "rolling frame over the daily aggregate (<=|days| rows; "
        "tests/test_plan_shapes.py::test_q53_window_runs_on_daily_"
        "aggregate pins that the window input is the agg)",
    ("q60_new_vs_returning", "SinglePartition"):
        "day-grain cumulative window (<=|days| rows)",
    ("x110_pack_concat_chunks", "SinglePartition"):
        "the two-phase prefix scan's OFFSETS side: |bands| rows "
        "(operators/packing.py — the data side shuffles by band, "
        "never through one partition)",
    ("x90_benford_digits", "SinglePartition"):
        "window over the 9 leading-digit rows",
    ("x92_daily_autocorrelation", "SinglePartition"):
        "lag window over the daily series (<=|days| rows)",
    ("x93_cusum_changepoint", "SinglePartition"):
        "cumulative deviation over the daily series (<=|days| rows)",
    ("x94_mutual_information", "SinglePartition"):
        "window over the joint-distribution cells (|X|x|Y| rows)",
    ("q64_pareto_frontier", "SinglePartition"):
        "skyline sweep over the bucket-PRUNED survivor set plus the "
        "suffix-max over the bucket table (operators/frontier.py — "
        "pruning bounds the sorted set by frontier size + slack)",
    ("x98_seasonal_decomposition", "SinglePartition"):
        "moving-average/detrend windows over the daily series "
        "(<=|days| rows, three window passes on the same grain)",
    ("x121_token_budget_waterfill", "SinglePartition"):
        "waterfill rank/prefix windows over the per-language capacity "
        "table (|langs| rows — operators/sampling.waterfill_allocate; "
        "the corpus-scale work is the upstream token aggregate)",
    ("x132_rrf_fusion", "SinglePartition"):
        "rank windows over the <= 50-row per-modality candidate pools "
        "(post-TakeOrdered bounded frames; fusion cost is pool size, "
        "not corpus size)",
    ("x125_weighted_systematic_sample", "SinglePartition"):
        "band-offsets window over the |bands|=8-row per-band totals "
        "(operators/sampling.weighted_systematic_sample — the x110 "
        "two-phase prefix-scan OFFSETS side; the data-scale cumulative "
        "runs partition-bounded windows keyed by band)",
}


# --- the JVM plan-tree walk ------------------------------------------------
# A FINAL adaptive plan's toString interleaves query-stage and
# cached-plan reprints whose indentation resets mid-tree, so a walk of
# the text misreads it (x83's one-row statistic BNLJs were false-flagged
# 70x from one plan). The lint walks the actual SparkPlan tree via py4j —
# query stages, reused exchanges, and in-memory relations are unwrapped
# structurally, not textually.

def _jchildren(node) -> list:
    cname = node.getClass().getSimpleName()
    if cname == "AdaptiveSparkPlanExec":
        # AQE's root (and any nested root inside a cached relation) is
        # a LEAF node (children().size() == 0) — without this unwrap
        # the walk sees exactly one node and the lint is vacuous
        # (ADVICE r12: the whole post-exec axis silently passed).
        return [node.executedPlan()]
    if cname.endswith("QueryStageExec"):
        return [node.plan()]
    if cname == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    if cname == "ReusedExchangeExec":
        return [node.child()]
    cs = node.children()
    return [cs.apply(i) for i in range(cs.size())]


def _jwalk(node):
    yield node
    for c in _jchildren(node):
        yield from _jwalk(c)


def _jbnlj_is_bounded(node) -> bool:
    """Build side reduces to a grand (keys=[]) aggregate somewhere in
    its subtree — the one-row statistic-attachment pattern."""
    side = 1 if "BuildRight" in node.buildSide().toString() else 0
    build = _jchildren(node)[side]
    return any(
        # keys=[] (hash/objecthash) or key=[] (sort) — both one-row
        "Aggregate(keys=[]" in n.simpleString(10)
        or "Aggregate(key=[]" in n.simpleString(10)
        for n in _jwalk(build)
    )


def _jthrough(node):
    """Descend through transparent wrappers (query stages, AQE shuffle
    reads, exchange reuse, codegen collapse) to the first
    materially-executing node."""
    while True:
        cname = node.getClass().getSimpleName()
        if cname == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
        elif cname.endswith("QueryStageExec"):
            node = node.plan()
        elif cname == "ReusedExchangeExec":
            node = node.child()
        elif cname in ("AQEShuffleReadExec", "WholeStageCodegenExec",
                       "InputAdapter"):
            node = node.children().apply(0)
        else:
            return node


#: Max times ONE source relation may be scanned in a single final
#: adaptive plan. The r13 x120 lesson: a shared subtree consumed per
#: branch without a persist re-scans its sources once per consumer —
#: 17 lineitem scans where 2 were intended, an ~8× corpus-re-read
#: multiplier invisible to every other rule (each individual subtree
#: was well-shaped). ReusedExchange/InMemoryTableScan consumers don't
#: count (that's the fix working); only distinct physical FileScans of
#: the same root path do.
MAX_SCANS_PER_RELATION = 4


def _jscan_counts(root) -> dict[str, int]:
    """Physical FileScan count per source root path in the plan tree.
    Reused exchanges are NOT re-walked (a ReusedExchangeExec consumer
    shares the original's single execution), so the count reflects
    real re-reads."""
    counts: dict[str, int] = {}
    seen_reuse: set[int] = set()

    def walk(node):
        cname = node.getClass().getSimpleName()
        if cname == "ReusedExchangeExec":
            # NEVER descend: the referenced exchange subtree sits at its
            # own position in this same tree and is walked there — a
            # first-reuse descent would charge its FileScans twice
            # (ADVICE r13). The walk-once-then-skip pattern below is
            # only for InMemoryTableScanExec, whose cached build plan
            # appears nowhere else in the tree.
            return
        if cname == "InMemoryTableScanExec":
            # a cached relation MATERIALIZES once; its build subtree's
            # scans must not be charged once per cache consumer
            ident = node.relation().cachedPlan().hashCode()
            if ident in seen_reuse:
                return
            seen_reuse.add(ident)
        if cname == "FileSourceScanExec":
            try:
                roots = node.relation().location().rootPaths()
                path = ";".join(
                    roots.apply(i).toString() for i in range(roots.size()))
            except Exception:  # noqa: BLE001 — fall back to the text form
                m = re.search(r"Location:[^\[]*\[([^\]]*)",
                               node.simpleString(3))
                path = m.group(1) if m else node.nodeName()
            counts[path] = counts.get(path, 0) + 1
        for c in _jchildren(node):
            walk(c)

    walk(root)
    return counts


def _is_initial(root) -> bool:
    """True iff ``root`` is an AQE plan that has not run yet."""
    return (root.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
            and "isFinalPlan=false" in root.simpleString(10))


def _jlint(root) -> list[str]:
    """The findings for the plan tree under ``root``. RepeatedScan is
    checked on a final plan only: AQE reuses an exchange only as it
    creates query stages, so an initial plan still shows one scan per
    consumer of a shared subtree (x07, x15, x61, x108 and x121 would
    flag there and pass on the plan that runs)."""
    found: list[str] = []
    for n in _jwalk(root):
        cname = n.getClass().getSimpleName()
        if cname == "CartesianProductExec":
            found.append("CartesianProduct")
        elif cname == "BroadcastNestedLoopJoinExec" and not _jbnlj_is_bounded(n):
            found.append("BroadcastNestedLoopJoin")
        elif "EvalPython" in cname:
            found.append(cname.removesuffix("Exec"))
        elif cname in ("SortExec", "WindowExec", "WindowGroupLimitExec"):
            # the funnel: this operator's input IS a single-partition
            # shuffle
            feeder = _jthrough(_jchildren(n)[0])
            if "Exchange" in feeder.getClass().getSimpleName() and \
                    "SinglePartition" in feeder.simpleString(10):
                found.append(
                    f"SinglePartition->({cname.removesuffix('Exec')})")
    if not _is_initial(root):
        for path, cnt in _jscan_counts(root).items():
            if cnt > MAX_SCANS_PER_RELATION:
                found.append(f"RepeatedScan->({cnt}x {path[:50]})")
    return found


def verdicts(name: str, df) -> list[tuple[str, str | None]]:
    """Each finding in ``df``'s current physical plan, paired with its
    ``ALLOWLIST`` reason for face ``name`` (None: not allowlisted)."""
    return [(pat, ALLOWLIST.get((name, pat.split("->")[0])))
            for pat in _jlint(df._jdf.queryExecution().executedPlan())]


def main(post_exec: bool = False) -> int:
    spark = get_spark(app_name="fpa-plan-lint")
    post_exec_faces: set[str] = set()
    if post_exec:
        from bench import HEADLINE  # noqa: PLC0415

        post_exec_faces = set(HEADLINE)
    failures: list[str] = []
    n_linted = n_post = 0
    for name, fn in all_queries().items():
        t0 = time.time()
        df = fn(spark, SF_DIR)
        n_linted += 1
        checks = [("", verdicts(name, df))]
        if name in post_exec_faces:
            # run the face once via collect(): a write()/noop sink
            # spawns a SEPARATE QueryExecution, leaving THIS df's plan
            # un-executed (isFinalPlan=false); collect() drives the
            # df's own QueryExecution, matching tests/test_plan_shapes.py::
            # _final_plan. sf0.001 keeps the collected sets tiny.
            df.collect()
            assert not _is_initial(df._jdf.queryExecution().executedPlan()), (
                f"{name}: post-exec plan did not finalize")
            checks.append(("post-exec ", verdicts(name, df)))
            n_post += 1
        for axis, found in checks:
            for pat, why in found:
                if why is not None:
                    print(f"allow  {axis}{name}: {pat}  [{why}]")
                else:
                    print(f"FLAG   {axis}{name}: {pat}")
                    failures.append(f"{axis}{name}: {pat}")
        dt = time.time() - t0
        if dt > 10:
            print(f"slow-build {name}: {dt:.1f}s (builder runs side effects)")
    print(f"\nlinted {n_linted} query plans "
          f"({n_post} post-exec final plans); "
          f"{len(failures)} un-allowlisted findings")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(post_exec="--post-exec" in sys.argv[1:]))
