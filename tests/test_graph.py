"""Connected components / transitive near-dup closure (operators/graph.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_project_flight_price_analysis_spark.operators.dedup import (
    minhash_neardup_pairs,
)
from airflow_project_flight_price_analysis_spark.operators.graph import (
    connected_components,
    dedup_transitive,
    neardup_clusters,
)
from airflow_project_flight_price_analysis_spark.sources import load_table
from tests.conftest import SF_SMALL


def test_connected_components_known_graph(spark):
    # chain 1-2-3-4, pair 10-11, triangle 20-21-22 (+ redundant edge)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["a", "b"],
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}


def test_neardup_clusters_and_transitive_dedup(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    pairs = minhash_neardup_pairs(docs, "text", "doc_id", threshold=0.5)
    clustered = neardup_clusters(docs, pairs, "doc_id")
    assert clustered.count() == docs.count()
    # cluster_id is always ≤ the member id, and is a member of the cluster
    assert clustered.filter(F.col("cluster_id") > F.col("doc_id")).count() == 0
    survivors = dedup_transitive(docs, pairs, "doc_id")
    n_clusters = clustered.select("cluster_id").distinct().count()
    assert survivors.count() == n_clusters
    # paired docs collapse: survivors < total when any pair exists
    if pairs.count() > 0:
        assert survivors.count() < docs.count()
    # transitivity: both endpoints of every pair share a cluster
    c = clustered.select("doc_id", "cluster_id")
    pa = pairs.join(c.withColumnRenamed("doc_id", "a"), "a") \
              .withColumnRenamed("cluster_id", "ca")
    pb = pa.join(c.withColumnRenamed("doc_id", "b"), "b") \
           .withColumnRenamed("cluster_id", "cb")
    assert pb.filter(F.col("ca") != F.col("cb")).count() == 0


def test_connected_components_long_path_converges_fast(spark):
    """A 60-node path (the boilerplate-chain shape) must converge well
    inside the round budget: plain min-label propagation needs
    O(diameter) ≈ 60 rounds and would raise; the large-star/small-star
    contraction needs O(log²n). Ids are laid out so the component min
    sits at one END of the path (the worst case for propagation
    distance)."""
    n = 60
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["a", "b"]
    )
    comp = {r.node: r.component
            for r in connected_components(edges, max_iter=12).collect()}
    assert comp == {i: 1 for i in range(1, n + 1)}


def test_connected_components_matches_union_find(spark):
    """The star contraction must equal a union-find reference on a batch
    of adversarial shapes: two long paths glued at one end (the shape
    that defeats pointer-jumped label propagation — a freshly-merged
    region re-propagates the new minimum one edge per round), a star, a
    cycle, and scattered pairs — one Spark job for all."""
    edge_list = (
        [(i, i + 1) for i in range(100, 130)]          # path A
        + [(i, i + 1) for i in range(200, 230)]        # path B
        + [(130, 230)]                                 # glue A+B ends
        + [(300, i) for i in range(301, 311)]          # star
        + [(i, i + 1) for i in range(400, 410)] + [(410, 400)]  # cycle
        + [(500, 501), (502, 503)]                     # pairs
    )

    parent: dict[int, int] = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    for a, b in edge_list:
        union(a, b)
    # canonicalize to min-of-component
    expected = {x: find(x) for x in parent}
    mins: dict[int, int] = {}
    for x, r in expected.items():
        mins[r] = min(mins.get(r, x), x)
    expected = {x: mins[find(x)] for x in parent}

    edges = spark.createDataFrame(edge_list, ["a", "b"])
    comp = {r.node: r.component
            for r in connected_components(edges, max_iter=12).collect()}
    assert comp == expected


def test_neardup_clusters_deeper_than_propagation_budget(spark):
    """A path deeper than ``PROPAGATION_BUDGET`` falls through to star
    contraction and still yields the exact clusters: one cluster per
    component, labelled by its min id, with singletons their own."""
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, 21)], ["doc_id", "text"])
    # a 15-deep path (exceeds the 12-round budget) + a pair + singletons
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 16)] + [(17, 18)], ["a", "b"])
    got = {(r.doc_id, r.cluster_id)
           for r in neardup_clusters(docs, pairs, "doc_id").collect()}
    assert got == ({(i, 1) for i in range(1, 17)} | {(17, 17), (18, 17)}
                   | {(i, i) for i in range(19, 21)})
