"""Triangle count / clustering coefficient vs reference fixtures
(TriangleProcTest.java:44-219, ClusteringCoefficientWikiTest.java:38-103)."""

from __future__ import annotations

import math
import random

import pytest

from neo4j_graph_algorithms_spark import fixtures as FX
from neo4j_graph_algorithms_spark.graph import Graph
from neo4j_graph_algorithms_spark.operators.triangles import triangle_count, triangle_stream


def _tri_graph(spark):
    edges = FX.name_edges_to_ids(FX.TRIANGLE_EDGES, ids=FX.TRIANGLE_NODE_IDS)
    return Graph.from_edge_list(spark, edges, n_nodes=9)


def test_three_triangles_global_and_per_node(spark):
    per_node, stats = triangle_count(_tri_graph(spark))
    assert stats["triangleCount"] == 3
    got = {r["id"]: r["triangles"] for r in per_node.collect()}
    assert got == {i: 1 for i in range(9)}  # every node in exactly one triangle


def test_three_triangles_stream_triples(spark):
    tri = triangle_stream(_tri_graph(spark))
    triples = {tuple(sorted((r["a"], r["b"], r["c"]))) for r in tri.collect()}
    ids = FX.TRIANGLE_NODE_IDS
    expected = {
        tuple(sorted((ids["a"], ids["b"], ids["c"]))),
        tuple(sorted((ids["d"], ids["e"], ids["f"]))),
        tuple(sorted((ids["g"], ids["h"], ids["i"]))),
    }
    assert triples == expected
    assert tri.count() == 3  # each triple exactly once


def test_clustering_coefficient_wiki(spark):
    g = Graph.from_edge_list(
        spark,
        FX.name_edges_to_ids(FX.CCOEF_EDGES, names=FX.CCOEF_NODES),
        n_nodes=4,
    )
    per_node, stats = triangle_count(g)
    got = {r["id"]: r["coefficient"] for r in per_node.collect()}
    for i, name in enumerate(FX.CCOEF_NODES):
        assert got[i] == pytest.approx(FX.CCOEF_EXPECTED[name], abs=1e-9)
    assert stats["averageClusteringCoefficient"] == pytest.approx(FX.CCOEF_AVG, abs=0.01)


def test_complete_graph_closed_form(spark):
    """K6: every node in C(5,2)=10 triangles, coefficient 1.0, global
    C(6,3)=20 (closed form per FIXTURES.md §9)."""
    n = 6
    edges = [(i, j) for i in range(n) for j in range(i + 1, n)]
    g = Graph.from_edge_list(spark, edges, n_nodes=n)
    per_node, stats = triangle_count(g)
    assert stats["triangleCount"] == math.comb(n, 3)
    rows = per_node.collect()
    assert all(r["triangles"] == math.comb(n - 1, 2) for r in rows)
    assert all(r["coefficient"] == pytest.approx(1.0) for r in rows)


def test_degree_oriented_plan_matches_id_oriented(spark):
    """Anti-skew orientation differential: same triangles either way."""
    g = _tri_graph(spark)
    t1 = {tuple(r) for r in triangle_stream(g, by_degree=False).collect()}
    t2 = {tuple(r) for r in triangle_stream(g, by_degree=True).collect()}
    assert t1 == t2

    per1, s1 = triangle_count(g, by_degree=False)
    per2, s2 = triangle_count(g, by_degree=True)
    assert s1["triangleCount"] == s2["triangleCount"]
    d1 = {r["id"]: r["triangles"] for r in per1.collect()}
    d2 = {r["id"]: r["triangles"] for r in per2.collect()}
    assert d1 == d2


def test_directed_duplicate_edges_collapse(spark):
    """Reciprocal + parallel edges count each unordered pair once."""
    edges = [(0, 1), (1, 0), (1, 2), (2, 0), (0, 2), (0, 1)]
    g = Graph.from_edge_list(spark, edges, n_nodes=3)
    _, stats = triangle_count(g)
    assert stats["triangleCount"] == 1


def test_triangle_count_job_budget(spark, count_jobs):
    """At small inputs the cost is Spark jobs, not rows: the count plus
    collecting its per-node frame stays within 10 jobs on a snapshot
    whose id type and node count earlier kernels have already memoized."""
    rnd = random.Random(29)
    edges = {(rnd.randrange(80), rnd.randrange(80)) for _ in range(400)}
    g = Graph.from_edge_list(spark, [e for e in edges if e[0] != e[1]]).cache()
    g.id_type()
    g.node_count()

    def run():
        per_node, stats = triangle_count(g)
        return per_node.collect(), stats

    (rows, stats), jobs = count_jobs(run)
    assert stats["triangleCount"] > 0
    assert stats["triangleCount"] * 3 == sum(r["triangles"] for r in rows)
    assert jobs <= 10, jobs


_PLANS = pytest.mark.parametrize(
    "by_degree,broadcast_degrees",
    [(True, True), (True, False), (False, True), (False, False)],
)


@_PLANS
@pytest.mark.parametrize(
    "edges,n_nodes",
    [([], 5), ([], 1), ([(0, 0), (1, 1), (2, 2)], 3)],
    ids=["no_edges", "single_node", "self_loops_only"],
)
def test_triangle_count_degenerate_inputs(spark, edges, n_nodes, by_degree, broadcast_degrees):
    g = Graph.from_edge_list(spark, edges, n_nodes=n_nodes)
    per_node, stats = triangle_count(
        g, by_degree=by_degree, broadcast_degrees=broadcast_degrees
    )
    rows = per_node.collect()
    assert sorted(r["id"] for r in rows) == list(range(n_nodes))
    assert all(r["triangles"] == 0 and r["coefficient"] == 0.0 for r in rows)
    assert stats["triangleCount"] == 0
    assert stats["averageClusteringCoefficient"] == 0.0


@_PLANS
def test_triangle_count_giant_hub(spark, by_degree, broadcast_degrees):
    """Hub 0 with 200 leaves; leaves 1–20 are paired by 10 disjoint
    leaf–leaf edges, each closing one triangle with the hub."""
    leaves = 200
    edges = [(0, v) for v in range(1, leaves + 1)]
    edges += [(v, v + 1) for v in range(1, 21, 2)]
    g = Graph.from_edge_list(spark, edges, n_nodes=leaves + 1)
    per_node, stats = triangle_count(
        g, by_degree=by_degree, broadcast_degrees=broadcast_degrees
    )
    got = {r["id"]: (r["triangles"], r["coefficient"]) for r in per_node.collect()}
    assert got[0][0] == 10
    assert got[0][1] == pytest.approx(20 / (leaves * (leaves - 1)))
    for v in range(1, 21):
        assert got[v] == (1, pytest.approx(1.0))
    for v in range(21, leaves + 1):
        assert got[v] == (0, 0.0)
    assert stats["triangleCount"] == 10
