"""PageRank correctness vs the reference's own fixtures.

Fixture values and tolerances from
/root/reference/tests/.../impl/PageRankTest.java:130-174 (tol 1e-2 vs
hand values) and PageRankWikiTest.java:61-141 (dangling-node law);
1e-6 self-convergence per the north rule.
"""

from __future__ import annotations

import json
import os
from functools import partial

import numpy as np
import pytest

from neo4j_graph_algorithms_spark import fixtures as FX
from neo4j_graph_algorithms_spark.graph import Graph
from neo4j_graph_algorithms_spark.operators.pagerank import pagerank
from neo4j_graph_algorithms_spark.plans.checkpointing import IterationCache


def _numpy_delta_push(n, edges, steps, rank=None, delta=None, damping=0.85):
    """Reference-faithful single-node oracle: init 1-d (or any given
    (rank, delta) state, signed deltas included), push d*delta/outdeg,
    dangling nodes emit nothing. Returns the (rank, delta) after each
    of ``steps``."""
    outdeg = np.zeros(n)
    for s, d in edges:
        outdeg[s] += 1
    rank = np.full(n, 1 - damping) if rank is None else rank.copy()
    delta = np.full(n, 1 - damping) if delta is None else delta.copy()
    states = []
    for _ in range(steps):
        recv = np.zeros(n)
        for s, d in edges:
            recv[d] += damping * delta[s] / outdeg[s]
        rank = rank + recv
        delta = recv
        states.append((rank, delta))
    return states


def _random_edges(n=60, m=240, seed=42):
    rng = np.random.default_rng(seed)
    edges = set()
    for _ in range(m):
        s, d = int(rng.integers(0, n)), int(rng.integers(0, n))
        if s != d:
            edges.add((s, d))
    return sorted(edges)


def _tolerance_stopping_at(states, k):
    """A tolerance that the run first meets after superstep ``k``."""
    tops = [np.abs(delta).max() for _rank, delta in states]
    assert tops[k - 1] < min(tops[: k - 1]), tops
    return float(np.sqrt(tops[k - 1] * min(tops[: k - 1])))


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
    n, edges = 60, _random_edges()
    g = Graph.from_edge_list(spark, [(s, d) for s, d in edges], n_nodes=n)
    ranks, _ = pagerank(g, damping=0.85, max_iterations=40)
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    oracle, _delta = _numpy_delta_push(n, edges, 40)[-1]
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


FOLD_CASES = [
    # max_iterations=7 is a multiple of none of the fuse values
    *(pytest.param(dict(fuse=f, salt_buckets=b), id=f"fuse{f}-salt{b}")
      for f in (1, 2, 3, 5) for b in (1, 4)),
    # stops on tolerance at superstep 3, inside the first fuse=5 block
    *(pytest.param(dict(fuse=5, salt_buckets=b, stop_at=3), id=f"tolerance-salt{b}")
      for b in (1, 4)),
    # warm start: signed deltas
    pytest.param(dict(fuse=3, warm=True), id="init_ranks"),
]


@pytest.mark.parametrize("case", FOLD_CASES)
def test_fold_cadence_matches_numpy_delta_push(spark, monkeypatch, case):
    """Every fold absorbs exactly the delta frames pushed since the last
    one: at each folded superstep the materialized state's rank equals
    the numpy twin's after that superstep, and its delta equals the
    deltas that superstep pushed (the last frame's delta survives the
    fold); folds land every ``fuse`` supersteps and on the last one."""
    case = dict(case)
    stop_at = case.pop("stop_at", None)
    warm = case.pop("warm", False)
    kw = dict(case, max_iterations=7)
    n, edges = 60, _random_edges()
    g = Graph.from_edge_list(spark, edges, n_nodes=n)
    push = partial(_numpy_delta_push, n, edges)
    if warm:
        # residual pass: rank = α + d·Mᵀ·r0 and delta = rank − r0, then 7 pushes
        r0 = np.random.default_rng(7).uniform(0.1, 2.0, n)
        ((recv, _),) = push(1, rank=np.zeros(n), delta=r0)
        states = push(7, rank=0.15 + recv, delta=0.15 + recv - r0)
        kw["init_ranks"] = spark.createDataFrame(
            [(i, float(r)) for i, r in enumerate(r0)], "id long, rank double"
        )
    else:
        states = push(7)
    if stop_at is not None:
        kw.update(max_iterations=20, tolerance=_tolerance_stopping_at(states, stop_at))
    last = stop_at or 7

    folded = {}
    real_step = IterationCache.step

    def step(self, df, superstep, *a, **k):
        out = real_step(self, df, superstep, *a, **k)
        folded[superstep] = {r.id: (r.rank, r.delta) for r in out.collect()}
        return out

    monkeypatch.setattr(IterationCache, "step", step)
    ranks, stats = pagerank(g, **kw)
    got = {r.id: r.rank for r in ranks.collect()}

    assert stats["iterations"] == last
    fuse = case["fuse"]
    want_folds = [k for k in range(1, last + 1) if k % fuse == 0 or k == last]
    assert [h["superstep"] for h in stats["history"] if h["folded"]] == want_folds
    assert sorted(folded) == [0, *want_folds]
    for k in want_folds:
        rank, delta = states[k - 1]
        for i in range(n):
            assert folded[k][i][0] == pytest.approx(rank[i], abs=1e-9), (k, i)
            assert folded[k][i][1] == pytest.approx(delta[i], abs=1e-12), (k, i)
    rank = states[last - 1][0]
    for i in range(n):
        assert got[i] == pytest.approx(rank[i], abs=1e-9), i


def test_pagerank_job_budget(spark, count_jobs):
    """A push superstep is one Spark job and a fold one more: a run that
    converges after 5 supersteps (one fuse=5 block, one fold) stays
    within 12 jobs including its set-up, and 5 more supersteps cost
    about one job each plus their fold."""
    n, edges = 60, _random_edges()
    g = Graph.from_edge_list(spark, edges, n_nodes=n)
    g.id_type(), g.node_count()  # memoized graph facts, outside the counts
    states = _numpy_delta_push(n, edges, 10)

    def jobs_to_converge(k):
        tol = _tolerance_stopping_at(states, k)
        (_ranks, stats), jobs = count_jobs(
            lambda: pagerank(g, tolerance=tol, max_iterations=50, fuse=5)
        )
        assert stats["iterations"] == k and stats["didConverge"]
        return jobs

    five, ten = jobs_to_converge(5), jobs_to_converge(10)
    assert five <= 12, five
    assert ten - five <= 7, (five, ten)
