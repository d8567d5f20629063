"""Random-graph differential tests: seeded generator vs single-node
numpy oracles (SURVEY.md §5 — the rebuild's replacement for the
reference's RandomGraphTestCase + multi-backend parameterization).

The numpy oracles implement the REFERENCE recurrences independently of
the Spark code (no shared helpers), so agreement pins both the math and
the distributed plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from neo4j_graph_algorithms_spark.graph import Graph
from neo4j_graph_algorithms_spark.operators.pagerank import pagerank
from neo4j_graph_algorithms_spark.operators.triangles import triangle_count
from neo4j_graph_algorithms_spark.operators.wcc import wcc

N = 60
P = 0.06
SEED = 1234


def _random_edges():
    rng = np.random.RandomState(SEED)
    a = rng.rand(N, N) < P
    np.fill_diagonal(a, False)
    return [(int(s), int(d)) for s, d in zip(*np.nonzero(a))]


def _numpy_pagerank(edges, n, damping=0.85, iters=30):
    outdeg = np.zeros(n)
    for s, _ in edges:
        outdeg[s] += 1
    rank = np.full(n, 1 - damping)
    delta = np.full(n, 1 - damping)
    for _ in range(iters):
        recv = np.zeros(n)
        for s, d in edges:
            if delta[s] > 0:
                recv[d] += damping * delta[s] / outdeg[s]
        rank += recv
        delta = recv
    return rank


def _numpy_wcc(edges, n):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return [find(i) for i in range(n)]


def _numpy_triangles(edges, n):
    und = set()
    for s, d in edges:
        if s != d:
            und.add((min(s, d), max(s, d)))
    adj = [set() for _ in range(n)]
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    per = np.zeros(n, dtype=int)
    total = 0
    for a, b in und:
        common = adj[a] & adj[b]
        for c in common:
            if c > b:  # a < b < c counted once
                per[a] += 1; per[b] += 1; per[c] += 1
                total += 1
    return total, per


@pytest.fixture(scope="module")
def rg(spark):
    edges = _random_edges()
    g = Graph.from_edge_list(spark, edges, n_nodes=N).cache()
    return edges, g


def test_pagerank_matches_numpy_oracle(spark, rg):
    edges, g = rg
    expected = _numpy_pagerank(edges, N)
    ranks, _ = pagerank(g, max_iterations=30)
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    for i in range(N):
        assert abs(got[i] - expected[i]) < 1e-9, (i, got[i], expected[i])


def test_pagerank_plans_agree(spark, rg):
    # the rebuild's analogue of the reference's 5-backend differential
    # (SURVEY.md §5): plain two-phase aggregation vs explicit salting
    _, g = rg
    base, _ = pagerank(g, max_iterations=10)
    base_v = {r["id"]: r["rank"] for r in base.collect()}
    alt, _ = pagerank(g, max_iterations=10, salt_buckets=4)
    got = {r["id"]: r["rank"] for r in alt.collect()}
    for i in range(N):
        assert abs(got[i] - base_v[i]) < 1e-9, i


def test_wcc_matches_numpy_oracle(spark, rg):
    edges, g = rg
    expected = _numpy_wcc(edges, N)
    comp, _ = wcc(g)
    got = {r["id"]: r["component"] for r in comp.collect()}
    # partition equality with deterministic min-id representative:
    # our representative IS the min id, which union-by-min also yields
    for i in range(N):
        assert got[i] == expected[i], (i, got[i], expected[i])


def test_triangles_match_numpy_oracle(spark, rg):
    edges, g = rg
    exp_total, exp_per = _numpy_triangles(edges, N)
    per_node, stats = triangle_count(g)
    assert stats["triangleCount"] == exp_total
    got = {r["id"]: r["triangles"] for r in per_node.collect()}
    assert stats["triangleCount"] * 3 == sum(got.values())
    for i in range(N):
        assert got[i] == exp_per[i], (i, got[i], exp_per[i])


@pytest.mark.parametrize("seed,p", [(7, 0.02), (99, 0.12)])
def test_wcc_matches_numpy_oracle_multiseed(spark, seed, p):
    """Extra seeds/densities guarding the frontier-based propagation:
    sparse graphs exercise long label chains + isolated nodes (frontier
    shrinks to a wavefront, pointer jumps dominate), dense graphs flood
    in 1-2 rounds (frontier is most of V)."""
    rng = np.random.RandomState(seed)
    a = rng.rand(N, N) < p
    np.fill_diagonal(a, False)
    edges = [(int(s), int(d)) for s, d in zip(*np.nonzero(a))]
    g = Graph.from_edge_list(spark, edges, n_nodes=N)
    expected = _numpy_wcc(edges, N)
    comp, stats = wcc(g)
    got = {r["id"]: r["component"] for r in comp.collect()}
    for i in range(N):
        assert got[i] == expected[i], (i, got[i], expected[i])
    assert stats["didConverge"]
