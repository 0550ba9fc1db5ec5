"""The engine's one connected-components kernel
(``dedup.connected_components``): star-contraction rounds (Kiveris et al.
SoCC'14) while the canonical edge set exceeds ``_CC_DRIVER_EDGES``, then a
driver union-find.

With the budget at 0 every graph runs on the distributed rounds, whose
round count must grow ~logarithmically in component size even on a long
chain (diameter-many rounds for label propagation). A budget between 0
and the edge count tests the hand-off from the rounds to the driver. Every
path must reach the same fixpoint: each node labeled with its component's
min id.
"""

from __future__ import annotations

import random

import pytest

from thread_based_map_reduce_spark.operators import dedup
from thread_based_map_reduce_spark.operators.dedup import (
    connected_components,
    q_dedup_clusters,
)

SF = "/root/testdata/sf0.001"


def _union_find_oracle(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, edges: list[tuple[int, int]], stats: dict | None = None):
    df = spark.createDataFrame(edges, "u int, v int")
    out = connected_components(df, stats=stats)
    assert out.schema.simpleString() == "struct<node:bigint,cluster:bigint>"
    return {r.node: r.cluster for r in out.collect()}


@pytest.fixture
def rounds_only(monkeypatch):
    """Budget 0: no graph is handed to the driver."""
    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", 0)


def test_chain_worst_case_logarithmic_rounds(spark, rounds_only):
    # a 64-node chain: min-label propagation needs ~63 rounds (diameter);
    # star contraction must stay logarithmic
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    stats: dict = {}
    got = _run(spark, edges, stats)
    assert got == {i: 0 for i in range(n)}
    assert 1 <= stats["rounds"] <= 14, f"expected O(log n) rounds, got {stats['rounds']}"
    assert stats["driver_edges"] is None


def test_random_graphs_match_union_find(spark, rounds_only):
    rng = random.Random(1234)
    for trial in range(3):
        n = rng.randrange(5, 60)
        # sparse ids (non-contiguous, shuffled) — labels must be min ID,
        # not min index
        ids = rng.sample(range(1, 10_000), n)
        edges = [
            (rng.choice(ids), rng.choice(ids))
            for _ in range(rng.randrange(3, 2 * n))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        got = _run(spark, edges)
        assert got == _union_find_oracle(edges), f"trial {trial} diverged"


def test_rounds_hand_off_to_driver(spark, monkeypatch):
    # two 12-cliques (132 canonical edges) and the 64-node chain (63):
    # star contraction cannot take a component below one edge per
    # non-root node (22 + 63 = 85), so a budget of 100 is reached only
    # after at least one round, and union-find finishes the graph
    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", 100)
    cliques = [
        (base + i, base + j)
        for base in (1000, 2000)
        for i in range(12)
        for j in range(i + 1, 12)
    ]
    edges = cliques + [(i, i + 1) for i in range(63)]
    stats: dict = {}
    assert _run(spark, edges, stats) == _union_find_oracle(edges)
    assert stats["rounds"] >= 1
    assert 0 < stats["driver_edges"] <= 100


def test_small_graph_finishes_on_the_driver_without_rounds(spark):
    edges = [(i, i + 1) for i in range(63)]
    stats: dict = {}
    assert _run(spark, edges, stats) == {i: 0 for i in range(64)}
    assert stats == {"rounds": 0, "driver_edges": 63}


def test_empty_edge_set(spark, monkeypatch):
    df = spark.createDataFrame([], "u long, v long")
    for budget in (dedup._CC_DRIVER_EDGES, 0):
        monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", budget)
        out = connected_components(df)
        assert out.collect() == []
        assert out.schema.simpleString() == "struct<node:bigint,cluster:bigint>"


def test_driver_budget_does_not_change_testdata_clusters(spark, monkeypatch):
    driver = {(r.doc_id, r.cluster) for r in q_dedup_clusters(spark, SF).collect()}
    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", 0)
    stats: dict = {}
    real = dedup.connected_components
    monkeypatch.setattr(
        dedup, "connected_components", lambda e: real(e, stats=stats)
    )
    rounds = {(r.doc_id, r.cluster) for r in q_dedup_clusters(spark, SF).collect()}
    assert stats["rounds"] >= 1
    assert driver and rounds == driver


def test_bfs_hops_stays_inside_seed_component(spark, sf_dir):
    """Every BFS-reached node must share the seed's connected component
    (cross-checked against dedup_clusters), hop 0 is exactly the seed, and
    per-hop frontiers are disjoint by construction (min-hop dedup)."""
    from pyspark.sql import functions as F

    from thread_based_map_reduce_spark.operators.dedup import (
        q_dup_graph_bfs_hops,
        q_dedup_clusters,
        _lsh_verified_pairs,
    )

    hops = q_dup_graph_bfs_hops(spark, sf_dir).collect()
    by_hop = {r.hop: r for r in hops}
    assert by_hop[0].n_docs == 1
    seed_doc = by_hop[0].min_doc
    pairs = _lsh_verified_pairs(spark, sf_dir)
    assert seed_doc == pairs.agg(F.min("doc_a")).collect()[0][0]

    clusters = {
        r.doc_id: r.cluster for r in q_dedup_clusters(spark, sf_dir).collect()
    }
    seed_cluster = clusters[seed_doc]
    reached = sum(r.n_docs for r in hops)
    assert reached == sum(1 for c in clusters.values() if c == seed_cluster), (
        "4-hop BFS did not cover the seed's component (diameter > bound?)"
    )
    for r in hops:
        assert clusters[r.min_doc] == seed_cluster
        assert clusters[r.max_doc] == seed_cluster


def test_link_prediction_wedges_are_consistent(spark, sf_dir):
    """Every returned pair must share >= 1 common neighbor in the verified
    graph, the common-neighbor count must match a brute-force wedge count,
    and is_edge must agree with the verified pair set."""
    from collections import defaultdict

    from thread_based_map_reduce_spark.operators.dedup import (
        q_dup_graph_link_prediction,
        _lsh_verified_pairs,
    )

    rows = q_dup_graph_link_prediction(spark, sf_dir).collect()
    pairs = {
        (r.doc_a, r.doc_b)
        for r in _lsh_verified_pairs(spark, sf_dir).collect()
    }
    nbrs = defaultdict(set)
    for a, b in pairs:
        nbrs[a].add(b)
        nbrs[b].add(a)
    for r in rows:
        cn = len(nbrs[r.doc_a] & nbrs[r.doc_b])
        assert r.common_neighbors == cn and cn >= 1
        assert r.is_edge == ((r.doc_a, r.doc_b) in pairs)
        union = len(nbrs[r.doc_a] | nbrs[r.doc_b])
        assert abs(r.neighbor_jaccard - cn / union) < 1e-6
