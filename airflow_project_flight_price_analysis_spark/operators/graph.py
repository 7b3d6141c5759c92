"""Distributed connected components — transitive closure for near-dup
groups: the pairs ``operators/dedup.py::minhash_neardup_pairs`` finds
become exact duplicate clusters (``dedup_transitive``), not a greedy
pair-drop that only approximates them.

Algorithm: HYBRID (introsort-style). Phase 1 runs up to
``PROPAGATION_BUDGET`` rounds of min-label propagation — the cheapest
possible round (one edge⋈labels shuffle), which converges outright on
the shallow clusters near-dup graphs actually produce. If the budget
expires unconverged (a deep component — e.g. a gradually-mutating
boilerplate chain makes the pair graph a PATH), phase 2 contracts the
graph by the phase-1 labels (every label is reachable from its node,
so supernode edges preserve connectivity and the component minimum
labels itself) and finishes with alternating large-star / small-star
edge contraction (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC 2014), whose round count is O(log²n) REGARDLESS of
diameter (measured: 7 rounds on two 30-node paths glued end-to-end, 11
on a 1000-node path, vs 33+ for propagation even with a
pointer-jumping shortcut — a freshly-merged region re-propagates the
new minimum one edge per round). Final component = star-component of
the phase-1 label. The hybrid keeps the common case at propagation
cost while the adversarial case is round-bounded — pinned by tests
against a union-find reference on glued paths, stars, cycles, and real
near-dup graphs.

Scale notes:
- All rounds are pure joins/aggregations; per-node neighborhood minima
  come from ``groupBy().min`` joined back, never a ``collect_set`` of
  neighbor arrays — a star center's neighborhood at convergence IS its
  whole component, and a million-node array in one row is exactly the
  skew this formulation avoids.
- ``localCheckpoint`` each round truncates lineage — without it the plan
  doubles per iteration and planning time explodes. On a cluster with
  HDFS, ``checkpoint`` (reliable) replaces it.
- Star-phase convergence: one scalar aggregate per round (count + exact
  decimal hash-sum signature); a signature match is CONFIRMED by an
  exact anti-join before declaring the fixed point. The driver sees
  only scalars, never data.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: min-label propagation rounds before the star phase takes over.
#: Propagation breaks at ``changed == 0``, so a larger budget costs
#: nothing on graphs that converge sooner: curate_corpus, x21 and x44
#: converge in 2-3 rounds, x96's part-variant chains (diameter ~8-10)
#: in 5 (sf0.01 and sf0.1). Under a 4-round budget x96 fell through to
#: the star phase, whose contraction setup and signature rounds cost
#: more than the remaining propagation (A/B warm at sf0.1: 3.85 s at 4
#: rounds, 2.89 s at 12, full closure). Exactness does not depend on
#: the phase.
PROPAGATION_BUDGET = 12


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: for each node u, point every neighbor v > u at
    m = min(Γ(u) ∪ {u}). Input/output: undirected edge set (any
    orientation); output edges satisfy first > second."""
    sym = e.select("u", "v").union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    # no distinct here: duplicate (v, m) rows are harmless to
    # small-star's min aggregate and get canonicalized by its final
    # distinct — skipping the dedup saves one shuffle per round
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("u"),
            F.least(F.col("mn"), F.col("u")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient edges high→low, then for each node u fold its
    below-u neighborhood onto m = min(Γ⁻(u)): emit (v, m) for every
    other below neighbor plus (u, m)."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    folded = (
        d.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    centers = mins.select("u", F.col("m").alias("v"))
    return (
        folded.union(centers)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_components(e: DataFrame, max_iter: int) -> DataFrame:
    """(node, component) over the nodes of edge set ``e`` (columns u, v;
    self-loops already removed) via alternating star contraction."""
    cur = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = cur.select(F.col("u").alias("node")).union(
        cur.select(F.col("v").alias("node"))
    ).distinct()
    prev_sig = None
    for _ in range(max_iter):
        new = _small_star(_large_star(cur)).localCheckpoint()
        # one aggregate per round: (count, order-free checksum). A
        # matching signature short-lists the round for the EXACT
        # equality check (the anti-join), which then runs at most once
        # per signature match — exactness is preserved, the per-round
        # cost is a single scalar job.
        sig = tuple(
            new.agg(
                F.count(F.lit(1)),
                # decimal sum: exact and overflow-free under ANSI
                # (full-range long hashes overflow a BIGINT sum)
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            ).collect()[0]
        )
        converged = (
            sig == prev_sig
            and new.join(cur, ["u", "v"], "left_anti").count() == 0
        )
        prev_sig = sig
        cur = new
        if converged:
            # fixed point = disjoint stars: every non-root node has
            # exactly one edge to its component minimum
            comp = cur.select(
                F.col("u").alias("node"), F.col("v").alias("component")
            )
            return nodes.join(comp, "node", "left").select(
                "node",
                F.coalesce("component", F.col("node")).alias("component"),
            )
    raise RuntimeError(
        f"connected_components: star phase unconverged in {max_iter} rounds"
    )


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """(node, component) for every node in ``edges`` (columns ``a``,
    ``b``); component = min node id reachable. Phase 1: up to
    ``PROPAGATION_BUDGET`` rounds of min-label
    propagation (cheap; converges for shallow clusters). Phase 2 (only
    if unconverged): star contraction on the label-contracted graph.
    Raises if the star phase exhausts ``max_iter`` rounds (it needs
    O(log²n) — a graph that exhausts 25 is astronomically large, not
    merely long)."""
    sym = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = sym.select(F.col("u").alias("node")).distinct() \
        .withColumn("label", F.col("node"))
    try:
        converged = False
        for _ in range(PROPAGATION_BUDGET):
            nb = (
                sym.join(labels.select(F.col("node").alias("v"), "label"), "v")
                .groupBy("u").agg(F.min("label").alias("nb_label"))
                .select(F.col("u").alias("node"), "nb_label")
            )
            # carry the pre-step label THROUGH the checkpoint so the
            # convergence check is a filter+count over already-
            # materialized rows — the previous form re-joined
            # new_labels against labels, a whole extra shuffle join
            # per round (r11: ~25% of the x96 closure's wall time)
            stepped = (
                labels.join(nb, "node", "left")
                .select(
                    "node",
                    F.col("label").alias("__old"),
                    F.least(
                        F.col("label"),
                        F.coalesce("nb_label", F.col("label")),
                    ).alias("label"),
                )
                .localCheckpoint()
            )
            changed = stepped.filter(
                F.col("label") != F.col("__old")
            ).count()
            labels = stepped.select("node", "label")
            if changed == 0:
                converged = True
                break
        if converged:
            return labels.select("node", F.col("label").alias("component"))
        # phase 2: contract by labels — each label is reachable from its
        # node, so supernode edges preserve connectivity, and the true
        # component minimum labels ITSELF (labels never increase and
        # start at self), so the star phase's minima are the real ones
        lab_u = labels.select(F.col("node").alias("u"), F.col("label").alias("lu"))
        lab_v = labels.select(F.col("node").alias("v"), F.col("label").alias("lv"))
        contracted = (
            sym.join(lab_u, "u").join(lab_v, "v")
            .select(F.col("lu").alias("u"), F.col("lv").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        super_comp = _star_components(contracted, max_iter).select(
            F.col("node").alias("label"), F.col("component").alias("super_comp")
        )
        return (
            labels.join(super_comp, "label", "left")
            .select(
                "node",
                F.coalesce("super_comp", F.col("label")).alias("component"),
            )
        )
    finally:
        sym.unpersist()


def neardup_clusters(df: DataFrame, pairs: DataFrame,
                     id_col: str) -> DataFrame:
    """Assign every row its duplicate-cluster id: the min id of its
    connected component in the near-dup pair graph (columns ``a``,
    ``b``); singletons (no pair) are their own cluster. Exact transitive
    semantics — the closure a greedy drop-one-of-each-pair rule only
    approximates."""
    comp = connected_components(pairs)
    return (
        df.join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce("component", F.col(id_col)))
        .drop("component")
    )


def dedup_transitive(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Keep exactly one row (the min id) per duplicate cluster."""
    clustered = neardup_clusters(df, pairs, id_col)
    return (
        clustered.filter(F.col(id_col) == F.col("cluster_id"))
        .drop("cluster_id")
    )
