"""PageRank correctness vs the reference's own fixtures.

Fixture values and tolerances from
/root/reference/tests/.../impl/PageRankTest.java:130-174 (tol 1e-2 vs
hand values) and PageRankWikiTest.java:61-141 (dangling-node law);
1e-6 self-convergence per the north rule.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from neo4j_graph_algorithms_spark import fixtures as FX
from neo4j_graph_algorithms_spark.graph import Graph
from neo4j_graph_algorithms_spark.operators.pagerank import pagerank


def _numpy_pagerank(n, edges, damping=0.85, iterations=40):
    """Reference-faithful single-node oracle: init 1-d, push
    d*delta/outdeg, dangling nodes emit nothing."""
    outdeg = np.zeros(n)
    for s, d in edges:
        outdeg[s] += 1
    rank = np.full(n, 1 - damping)
    delta = np.full(n, 1 - damping)
    for _ in range(iterations):
        recv = np.zeros(n)
        for s, d in edges:
            if delta[s] > 0:
                recv[d] += damping * delta[s] / outdeg[s]
        rank += recv
        delta = recv
    return rank


def _run_fixture(spark, names, edges, expected, **kw):
    g = Graph.from_edge_list(
        spark, FX.name_edges_to_ids(edges, names=names), n_nodes=len(names)
    )
    ranks, stats = pagerank(g, damping=0.85, max_iterations=40, **kw)
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    for i, name in enumerate(names):
        assert got[i] == pytest.approx(expected[name], abs=1e-2), (
            name,
            got[i],
            expected[name],
        )
    return got, stats


def test_pagerank_reference_fixture(spark):
    _run_fixture(spark, FX.PAGERANK_NODES, FX.PAGERANK_EDGES, FX.PAGERANK_EXPECTED)


def test_pagerank_wiki_dangling_fixture(spark):
    got, _ = _run_fixture(
        spark, FX.PAGERANK_WIKI_NODES, FX.PAGERANK_WIKI_EDGES, FX.PAGERANK_WIKI_EXPECTED
    )
    # dangling-node law: sinks with no in-edges keep exactly 1-d
    for name in "ghijk":
        assert got[FX.PAGERANK_WIKI_NODES.index(name)] == pytest.approx(0.15, abs=1e-12)


def test_pagerank_salted_matches_plain(spark):
    names, edges = FX.PAGERANK_NODES, FX.PAGERANK_EDGES
    g = Graph.from_edge_list(
        spark, FX.name_edges_to_ids(edges, names=names), n_nodes=len(names)
    )
    r1, _ = pagerank(g, max_iterations=10)
    r2, _ = pagerank(g, max_iterations=10, salt_buckets=4)
    d1 = {r["id"]: r["rank"] for r in r1.collect()}
    d2 = {r["id"]: r["rank"] for r in r2.collect()}
    for i in d1:
        assert d1[i] == pytest.approx(d2[i], abs=1e-12)


def test_pagerank_tolerance_convergence(spark):
    names, edges = FX.PAGERANK_NODES, FX.PAGERANK_EDGES
    g = Graph.from_edge_list(
        spark, FX.name_edges_to_ids(edges, names=names), n_nodes=len(names)
    )
    ranks, stats = pagerank(g, max_iterations=200, tolerance=1e-6)
    assert stats["didConverge"]
    assert stats["iterations"] < 200
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    # converged scores still match the 40-iteration hand values at 1e-2
    for i, name in enumerate(names):
        assert got[i] == pytest.approx(FX.PAGERANK_EXPECTED[name], abs=1e-2)
    # and the last superstep moved less than 1e-6
    assert stats["history"][-1]["max_delta"] < 1e-6


def test_pagerank_random_graph_vs_numpy_oracle(spark):
    rng = np.random.default_rng(42)
    n = 60
    edges = set()
    for _ in range(240):
        s, d = int(rng.integers(0, n)), int(rng.integers(0, n))
        if s != d:
            edges.add((s, d))
    edges = sorted(edges)
    g = Graph.from_edge_list(spark, [(s, d) for s, d in edges], n_nodes=n)
    ranks, _ = pagerank(g, damping=0.85, max_iterations=40)
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    oracle = _numpy_pagerank(n, edges, iterations=40)
    for i in range(n):
        assert got[i] == pytest.approx(oracle[i], abs=1e-9)


def test_pagerank_checkpoint_resume(spark, tmp_path):
    """Kill-and-resume: a run checkpointed every 2 supersteps restarted
    from its latest durable snapshot must finish with identical ranks."""
    names, edges = FX.PAGERANK_WIKI_NODES, FX.PAGERANK_WIKI_EDGES
    g = Graph.from_edge_list(
        spark, FX.name_edges_to_ids(edges, names=names), n_nodes=len(names)
    )
    full, _ = pagerank(g, max_iterations=10)
    d_full = {r["id"]: r["rank"] for r in full.collect()}

    ckpt = str(tmp_path / "pr_ckpt")
    # phase 1: run only 6 supersteps, durable checkpoint every 2
    pagerank(g, max_iterations=6, checkpoint_dir=ckpt, checkpoint_every=2)
    # phase 2: resume to 10
    resumed, stats = pagerank(
        g, max_iterations=10, checkpoint_dir=ckpt, checkpoint_every=2, resume=True
    )
    d_res = {r["id"]: r["rank"] for r in resumed.collect()}
    for i in d_full:
        assert d_full[i] == pytest.approx(d_res[i], abs=1e-12)
    # per-partition lineage metrics recorded in the durable step's metadata
    meta = json.load(open(os.path.join(ckpt, "step_000010", "meta.json")))
    assert meta["superstep"] == 10 and meta["partitions"]
