"""Durable superstep checkpoints: per-partition lineage metrics in
meta.json, bit-identical resume from the latest snapshot, refusal of a
damaged snapshot, release of in-memory states, kill-and-resume of every
resumable kernel, and cancellation of the kernels that do not resume."""

import json
import os

import pytest
from pyspark.sql import functions as F

from neo4j_graph_algorithms_spark.graph import Graph
from neo4j_graph_algorithms_spark.operators.betweenness import betweenness
from neo4j_graph_algorithms_spark.operators.kcore import core_decomposition
from neo4j_graph_algorithms_spark.operators.label_propagation import label_propagation
from neo4j_graph_algorithms_spark.operators.louvain import louvain
from neo4j_graph_algorithms_spark.operators.msbfs import ms_bfs_depths
from neo4j_graph_algorithms_spark.operators.mst import mst
from neo4j_graph_algorithms_spark.operators.neighborhood import neighborhood_function
from neo4j_graph_algorithms_spark.operators.pagerank import pagerank
from neo4j_graph_algorithms_spark.operators.random_walk import random_walks
from neo4j_graph_algorithms_spark.operators.scc import scc
from neo4j_graph_algorithms_spark.operators.shortest_path import (
    all_shortest_paths_weighted, delta_stepping, shortest_paths)
from neo4j_graph_algorithms_spark.operators.wcc import wcc
from neo4j_graph_algorithms_spark.plans.checkpointing import IterationCache, TerminatedError

EDGES = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (1, 3)]
# 300-cycle with chords into node 0: Louvain does not settle within 5
# iterations on it, and shortest paths from 0 take 299 relaxations
CYCLE = [(i, (i + 1) % 300) for i in range(300)] + [(i, 0) for i in range(1, 300, 7)]
# 64-node path, edge (i, i+1) weighted by its level 1 + ctz(i+1) (the
# lowest set bit's length): Borůvka merges pairs, then pairs of pairs,
# ... — 6 rounds, and a 7th that finds no cross edge
LEVEL_PATH = [(i, i + 1, float(((i + 1) & -(i + 1)).bit_length())) for i in range(63)]
# delta-stepping with delta=10 settles one node per bucket
TEN_PATH = [(i, i + 1, 10.0) for i in range(7)]


def _ranks_dict(df):
    return {r["id"]: r["rank"] for r in df.collect()}


def test_durable_checkpoint_writes_partition_metrics(spark, tmp_path):
    ckpt = str(tmp_path / "ck")
    g = Graph.from_edge_list(spark, EDGES, n_nodes=5)
    _r, stats = pagerank(
        g, max_iterations=6, checkpoint_dir=ckpt, checkpoint_every=3, fuse=3
    )
    steps = sorted(d for d in os.listdir(ckpt) if d.startswith("step_"))
    assert steps, "no durable checkpoints written"
    last = steps[-1]
    meta = json.load(open(os.path.join(ckpt, last, "meta.json")))
    assert meta["superstep"] == 6
    # per-partition lineage metrics present with row counts + the
    # convergence column max (north rule: resumable runs carry
    # per-partition lineage + convergence metrics)
    assert meta["partitions"]
    assert all("rows" in p and "max_delta" in p for p in meta["partitions"])
    assert sum(p["rows"] for p in meta["partitions"]) == 5
    assert os.path.exists(os.path.join(ckpt, last, "_SUCCESS_META"))


def test_resume_matches_uninterrupted_run(spark, tmp_path):
    ckpt = str(tmp_path / "ck2")
    g = Graph.from_edge_list(spark, EDGES, n_nodes=5)

    full, _ = pagerank(g, max_iterations=10, fuse=5)
    expected = _ranks_dict(full)

    # interrupted run: stops at superstep 5 with a durable snapshot
    pagerank(g, max_iterations=5, checkpoint_dir=ckpt, checkpoint_every=5, fuse=5)
    # resumed run continues 6..10 from the snapshot
    resumed, stats = pagerank(
        g, max_iterations=10, checkpoint_dir=ckpt, checkpoint_every=5,
        fuse=5, resume=True,
    )
    got = _ranks_dict(resumed)
    assert stats["history"][0]["superstep"] == 6  # really resumed, not re-run
    for k, v in expected.items():
        assert abs(got[k] - v) < 1e-12, (k, got[k], v)


def _cached_rdd_ids(spark) -> set[int]:
    sc = spark.sparkContext._jsc.sc()
    # storage info comes from the status store, fed by the async listener bus
    sc.listenerBus().waitUntilEmpty()
    return {info.id() for info in sc.getRDDStorageInfo()}


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _cached_rdds(spark) -> int:
    return len(_cached_rdd_ids(spark))


def test_iteration_cache_releases_previous_state(spark):
    """Each in-memory step frees the previous state's checkpoint blocks
    (`DataFrame.unpersist` is a no-op on them): over six steps at most
    one state stays cached, and that state stays readable."""
    n = 20000
    before = _cached_rdds(spark)
    cache = IterationCache(spark)
    state = spark.range(n).select("id", F.col("id").alias("v"))
    for step in range(1, 7):
        state = cache.step(state.select("id", (F.col("v") + 1).alias("v")), step)
        assert _cached_rdds(spark) - before <= 1, step
    assert state.agg(F.sum("v")).collect()[0][0] == sum(range(n)) + 6 * n


def test_kernels_release_per_step_checkpoints(spark):
    """PageRank local-checkpoints each pushed delta frame, HyperANF each
    depth's sketches, and Louvain, shortest paths, delta-stepping and
    MST each superstep's state; all release them once consumed, so none
    leaves more cached RDDs behind than a WCC run on the same graph
    (its returned state), over at least 5 supersteps each."""
    g = Graph.from_edge_list(spark, CYCLE, n_nodes=300)
    level, ten = Graph.from_edge_list(spark, LEVEL_PATH), Graph.from_edge_list(spark, TEN_PATH)
    for graph in (g, level, ten):
        graph.node_count(), graph.id_type()  # memoized graph facts, outside the counts

    def added(run):
        """(run's result, cached RDDs it left that were not there before);
        the result is kept alive, so its own state counts."""
        before = _cached_rdd_ids(spark)
        out = run()
        return out, len(_cached_rdd_ids(spark) - before)

    _wcc_out, bound = added(lambda: wcc(g))
    pr_out, n_pagerank = added(lambda: pagerank(g, max_iterations=10, fuse=5))
    _anf_out, n_anf = added(lambda: neighborhood_function(g, max_depth=6, p=6))
    assert pr_out[1]["iterations"] == 10
    assert n_pagerank <= bound and n_anf <= bound, (n_pagerank, n_anf, bound)
    driver_runs = {
        "louvain": (lambda: louvain(g, iterations=5), "ranIterations"),
        "shortest_paths": (lambda: shortest_paths(g, 0, max_iterations=6), "iterations"),
        "delta_stepping": (lambda: delta_stepping(ten, 0, delta=10.0), "buckets"),
        "mst": (lambda: mst(level), "rounds"),
    }
    for name, (run, key) in driver_runs.items():
        (_out, stats), n = added(run)
        assert stats[key] >= 5, (name, stats[key])
        assert n <= bound, (name, n, bound)


def test_resume_refuses_snapshot_with_missing_part(spark, tmp_path):
    """A snapshot whose re-read state lost rows (here: one deleted part
    file) must not be resumed from; meta.json's per-partition rows are
    the check."""
    ckpt = str(tmp_path / "ck3")
    g = Graph.from_edge_list(spark, EDGES, n_nodes=5)
    pagerank(g, max_iterations=2, checkpoint_dir=ckpt, checkpoint_every=2)
    state = os.path.join(ckpt, "step_000002", "state")
    parts = [os.path.join(state, f) for f in os.listdir(state) if f.startswith("part-")]
    os.remove(max(parts, key=os.path.getsize))
    with pytest.raises(RuntimeError, match="meta.json records 5"):
        pagerank(g, max_iterations=4, checkpoint_dir=ckpt, checkpoint_every=2, resume=True)


# kill-and-resume: kernel -> (edges, n_nodes, run(graph, **kw) -> (result
# dict, stats), supersteps before the kill, durable cadence, rel tolerance)
def _pagerank(g, **kw):
    ranks, stats = pagerank(g, max_iterations=8, fuse=2, **kw)
    return {r.id: r.rank for r in ranks.collect()}, stats


def _wcc(g, **kw):
    comp, stats = wcc(g, **kw)
    return {r.id: r.component for r in comp.collect()}, stats


def _lpa(g, **kw):
    labels, stats = label_propagation(g, iterations=8, direction="both", **kw)
    return {r.id: r.label for r in labels.collect()}, stats


def _kcore(g, **kw):
    cores, stats = core_decomposition(g, **kw)
    return {r.id: r.core for r in cores.collect()}, stats


def _anf(g, **kw):
    # the SKETCH state round-trips exactly; the per-depth float SUM may
    # differ in the last ulp (parquet re-read changes the summation
    # order), hence the case's relative tolerance
    series, stats = neighborhood_function(g, max_depth=6, p=6, **kw)
    return {r.depth: r.n_pairs_est for r in series.collect()}, stats


def _walks(g, **kw):
    walks, stats = random_walks(g, walk_length=8, walks_per_node=2, seed=11, **kw)
    return {(r.source, r.rep, r.step): r.node for r in walks.collect()}, stats


_CLIQUE = [100, 101, 102, 0]
KILL_RESUME = {
    # cycle with chords; killed past the last snapshot, so superstep 5 reruns
    "pagerank": (
        [(i, (i + 1) % 30) for i in range(30)] + [(i, 0) for i in range(1, 30, 7)],
        30, _pagerank, 5, 2, 1e-9,
    ),
    # long path (slow min-label convergence) + a separate clique
    "wcc": (
        [(i, i + 1) for i in range(40)] + [(50, 51), (51, 52), (52, 50)],
        53, _wcc, 3, 3, 0,
    ),
    "label_propagation": (
        [(i, i + 1, 1.0) for i in range(30)]
        + [(40 + a, 40 + b, 1.0) for a in range(5) for b in range(5) if a < b],
        45, _lpa, 4, 2, 0,
    ),
    # deep h-index run: a path with a 4-clique glued at node 0
    "kcore": (
        [(i, i + 1) for i in range(19)]
        + [(a, b) for a in _CLIQUE for b in _CLIQUE if a < b],
        None, _kcore, 4, 4, 0,
    ),
    "neighborhood": (
        [(i, i + 1) for i in range(15)] + [(i, (i + 4) % 15) for i in range(15)],
        None, _anf, 3, 3, 1e-12,
    ),
    # every node has an out-edge, so no walk ends early
    "random_walk": (
        [(i, (i * 3 + 1) % 30) for i in range(30)] + [(i, (i * 7 + 2) % 30) for i in range(30)],
        None, _walks, 4, 4, 0,
    ),
}


class _Checks:
    """Termination callable counting its calls; stops the run at call
    ``stop_after + 1`` when given."""

    def __init__(self, stop_after=None):
        self.stop_after, self.calls = stop_after, 0

    def __call__(self):
        self.calls += 1
        return self.stop_after is not None and self.calls > self.stop_after


@pytest.mark.parametrize("kernel", list(KILL_RESUME))
def test_kill_and_resume(spark, tmp_path, kernel):
    """A run stopped through its termination callable after k supersteps
    under a durable cadence, then resumed, equals an uninterrupted run;
    the resumed history starts right after the last snapshot, and the
    callable ran once per superstep. A killed run leaves no RDD
    persisted."""
    edges, n_nodes, run, k, every, rel = KILL_RESUME[kernel]
    g = Graph.from_edge_list(spark, edges, n_nodes=n_nodes)
    want, full = run(g)
    assert len(full["history"]) > k  # deep enough to interrupt

    ckpt = str(tmp_path / kernel)
    killed = _Checks(stop_after=k)
    before = _persistent_rdd_ids(spark)
    with pytest.raises(TerminatedError):
        run(g, checkpoint_dir=ckpt, checkpoint_every=every, termination=killed)
    assert killed.calls == k + 1
    assert _persistent_rdd_ids(spark) <= before

    checks = _Checks()
    got, stats = run(
        g, checkpoint_dir=ckpt, checkpoint_every=every, resume=True, termination=checks
    )
    assert got == pytest.approx(want, rel=rel, abs=0)
    assert stats["history"][0]["superstep"] == k // every * every + 1
    assert checks.calls == len(stats["history"])
    for key in ("iterations", "ranIterations", "rounds", "depths_run", "steps_run",
                "didConverge"):
        assert stats.get(key) == full.get(key), key


# cancellation of the kernels that do not resume: kernel -> (edges,
# run(graph, termination), supersteps before the stop, the stats key
# counting supersteps for the four that run on the superstep driver)
def _louvain(g, t):
    return louvain(g, iterations=5, termination=t)


def _sssp(g, t):
    return shortest_paths(g, 0, max_iterations=6, termination=t)


def _delta(g, t):
    return delta_stepping(g, 0, delta=10.0, termination=t)


def _mst(g, t):
    return mst(g, termination=t)


def _scc(g, t):
    return scc(g, termination=t)


def _msbfs(g, t):
    return ms_bfs_depths(g, termination=t).collect(), {}


def _betweenness(g, t):
    return betweenness(g, termination=t)


def _apsp(g, t):
    return all_shortest_paths_weighted(g, termination=t).collect(), {}


_PATH = [(i, i + 1, 1.0) for i in range(12)]
CANCEL = {
    "louvain": (CYCLE, _louvain, 2, "ranIterations"),
    "shortest_paths": (CYCLE, _sssp, 2, "iterations"),
    "delta_stepping": (TEN_PATH, _delta, 2, "buckets"),
    "mst": (LEVEL_PATH, _mst, 2, "rounds"),
    # a chain of four 3-cycles: one outer round per condensation link
    "scc": (
        [(3 * c + i, 3 * c + (i + 1) % 3) for c in range(4) for i in range(3)]
        + [(3 * c + 2, 3 * c + 3) for c in range(3)],
        _scc, 1, None,
    ),
    "ms_bfs": (_PATH, _msbfs, 2, None),
    "betweenness": (_PATH, _betweenness, 2, None),
    "all_shortest_paths_weighted": (_PATH, _apsp, 2, None),
}


@pytest.mark.parametrize("kernel", list(CANCEL))
def test_cancelled_run_leaves_nothing_persisted(spark, kernel):
    """A kernel stopped through its termination callable raises
    `TerminatedError` and leaves no RDD persisted: neither its edge
    tables nor its per-round checkpoints. On the superstep driver the
    callable runs once per superstep (k + 1 times for a stop after k),
    and an uninterrupted run records one history entry per superstep,
    numbered from 1."""
    edges, run, k, steps_key = CANCEL[kernel]
    g = Graph.from_edge_list(spark, edges)
    g.node_count(), g.id_type()  # memoized graph facts, outside the counts
    if steps_key is not None:
        checks = _Checks()
        _out, stats = run(g, checks)
        n = stats[steps_key]
        assert n > k and checks.calls == n
        assert [h["superstep"] for h in stats["history"]] == list(range(1, n + 1))
        assert all({"superstep", "secs", "durable"} <= set(h) for h in stats["history"])

    killed = _Checks(stop_after=k)
    before = _persistent_rdd_ids(spark)
    with pytest.raises(TerminatedError):
        run(g, killed)
    assert _persistent_rdd_ids(spark) <= before
    if steps_key is not None:
        assert killed.calls == k + 1


# kernels with a set-up job between their first `loop.persist` and
# `loop.run`: the first `collect()` of each call is that job
SETUP_JOB = {
    "louvain": lambda g: louvain(g, iterations=2),
    "delta_stepping": lambda g: delta_stepping(g, 0),
    "neighborhood": lambda g: neighborhood_function(g, max_depth=2, p=6),
}


@pytest.mark.parametrize("kernel", list(SETUP_JOB))
def test_failed_setup_job_leaves_nothing_persisted(spark, monkeypatch, kernel):
    """A set-up job that fails after the kernel cached its edge tables
    (here: the first `collect()` runs, then raises) unpersists them."""
    g = Graph.from_edge_list(spark, [(s, d) for s, d, _ in TEN_PATH])
    g.node_count(), g.id_type()
    cls = type(g.edges)  # the session's concrete DataFrame class
    real = cls.collect
    calls = []

    def failing_collect(self):
        rows = real(self)
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("set-up job failed")
        return rows

    before = _persistent_rdd_ids(spark)
    monkeypatch.setattr(cls, "collect", failing_collect)
    with pytest.raises(RuntimeError, match="set-up job failed"):
        SETUP_JOB[kernel](g)
    monkeypatch.undo()
    assert _persistent_rdd_ids(spark) <= before
