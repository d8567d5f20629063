"""Round-2 additions: vectorized MinHash parity, stop-shingles, SCC
residue handling, weighted APSP, betweenness waves/sampling/max-depth,
cooperative cancellation, distributed rank, MST start-node edge cases,
delta validation."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from neo4j_graph_algorithms_spark.graph import Graph, densify_ids, distributed_rank
from neo4j_graph_algorithms_spark.operators.betweenness import betweenness
from neo4j_graph_algorithms_spark.operators.mst import mst
from neo4j_graph_algorithms_spark.operators.pagerank import pagerank
from neo4j_graph_algorithms_spark.operators.scc import scc
from neo4j_graph_algorithms_spark.operators.shortest_path import (
    all_shortest_paths_weighted,
    delta_stepping,
)
from neo4j_graph_algorithms_spark.pipeline.dedup import (
    _MERSENNE,
    _minhash_batch,
    ngram_jaccard_pairs,
)
from neo4j_graph_algorithms_spark.plans.checkpointing import (
    TerminatedError,
    check_termination,
    request_termination,
)


# ------------------------------------------------------------------ MinHash

def _minhash_reference(hash_lists, a, b):
    """The pre-vectorization per-row Python-int implementation, kept as
    the differential oracle for the uint64 split-multiply path."""
    out = []
    for hs in hash_lists:
        x = np.asarray(hs, dtype=np.int64).view(np.uint64)
        sig = [
            int(min(((int(ai) * int(v) + int(bi)) % _MERSENNE) for v in x))
            if len(x) else 0
            for ai, bi in zip(a, b)
        ]
        out.append(sig)
    return np.asarray(out, dtype=np.int64)


def test_minhash_vectorized_matches_python_int_reference():
    rng = np.random.RandomState(7)
    a = rng.randint(1, _MERSENNE, size=16, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=16, dtype=np.int64)
    # xxhash64 values are full-range int64 (negative = high uint64);
    # include the overflow-prone edges explicitly
    edge_vals = np.array(
        [0, 1, -1, np.iinfo(np.int64).min, np.iinfo(np.int64).max,
         _MERSENNE, _MERSENNE - 1, _MERSENNE + 1, 2 * _MERSENNE],
        dtype=np.int64,
    )
    docs = [
        rng.randint(np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=37, dtype=np.int64),
        edge_vals,
        np.array([], dtype=np.int64),  # empty doc -> all-zero signature
        rng.randint(np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=3, dtype=np.int64),
    ]
    got = _minhash_batch(docs, a, b)
    want = _minhash_reference(docs, a, b)
    assert got.shape == want.shape
    assert (got == want).all()


def test_ngram_max_shingle_df_stop_shingles(spark):
    # every doc shares exactly one universal shingle ('zzz'); with the
    # document-frequency cap that shingle is dropped BEFORE the
    # self-join, so the otherwise-quadratic pair set vanishes
    docs = spark.createDataFrame(
        [(i, chr(ord("a") + i) * 4 + "zzz") for i in range(6)],
        "doc_id long, text string",
    )
    uncapped = ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.1)
    assert uncapped.count() == 15  # all C(6,2) pairs via the stop shingle
    capped = ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.1, max_shingle_df=3)
    assert capped.count() == 0


# ------------------------------------------------------------------ SCC

def test_scc_chain_of_two_cycles_assigns_every_node(spark):
    # 12 two-cycles chained with DECREASING ids (chain edge 2j -> 2(j-1))
    # so max-id coloring paints the whole prefix one color and only the
    # maximal root's SCC extracts per outer round — the worst case that
    # used to exhaust max_outer silently
    k = 8
    edges = []
    for j in range(k):
        edges += [(2 * j, 2 * j + 1), (2 * j + 1, 2 * j)]
        if j > 0:
            edges.append((2 * j, 2 * (j - 1)))
    g = Graph.from_edge_list(spark, edges, n_nodes=2 * k)
    comp, stats = scc(g)
    rows = {r["id"]: r["component"] for r in comp.collect()}
    assert len(rows) == 2 * k  # no silent row loss
    for j in range(k):
        assert rows[2 * j] == rows[2 * j + 1] == 2 * j
    assert stats["didConverge"]

    with pytest.raises(RuntimeError, match="unassigned"):
        scc(g, max_outer=2)


# ------------------------------------------------------------------ APSP

def test_weighted_all_shortest_paths_grid_fixture(spark):
    # AllShortestPathsTest.java: 2x5 directed grid, unit weights ->
    # 45 finite pairs, d(0,9)=5, d(s,s)=0
    width, height = 2, 5
    edges = []
    for i in range(height):
        for j in range(width - 1):
            edges.append((i * width + j, i * width + j + 1, 1.0))
        if i > 0:
            for j in range(width):
                edges.append(((i - 1) * width + j, i * width + j, 1.0))
    g = Graph.from_edge_list(spark, edges, n_nodes=width * height)
    rows = all_shortest_paths_weighted(g, direction="out", wave_size=4).collect()
    assert len(rows) == 45
    d = {(r["source"], r["target"]): r["distance"] for r in rows}
    assert d[(0, 9)] == 5.0
    assert all(d[(s, s)] == 0.0 for s in range(10) if (s, s) in d)
    assert sum(1 for (s, t) in d if s == t) == 10


def test_weighted_apsp_respects_weights(spark):
    # direct edge 0->2 costs 10, detour 0->1->2 costs 3
    g = Graph.from_edge_list(spark, [(0, 2, 10.0), (0, 1, 1.0), (1, 2, 2.0)], n_nodes=3)
    d = {
        (r["source"], r["target"]): r["distance"]
        for r in all_shortest_paths_weighted(g).collect()
    }
    assert d[(0, 2)] == 3.0


# ------------------------------------------------------------ betweenness

def test_betweenness_waves_match_single_wave(spark):
    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    g = Graph.from_edge_list(spark, edges, n_nodes=5)
    expected = {0: 0.0, 1: 3.0, 2: 4.0, 3: 3.0, 4: 0.0}
    waved, stats = betweenness(g, wave_size=2)
    got = {r["id"]: r["centrality"] for r in waved.collect()}
    assert stats["waves"] == 3
    for k, v in expected.items():
        assert math.isclose(got[k], v, abs_tol=1e-9), (k, got[k], v)


def test_betweenness_max_depth(spark):
    # depth-limited Brandes (MaxDepthBetweennessCentrality.java): with
    # max_depth=2 on the 5-path only distance-2 pairs contribute ->
    # [0, 1, 1, 1, 0]; with max_depth=1 no intermediates exist at all
    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    g = Graph.from_edge_list(spark, edges, n_nodes=5)
    got2 = {r["id"]: r["centrality"] for r in betweenness(g, max_depth=2)[0].collect()}
    assert got2 == {0: 0.0, 1: 1.0, 2: 1.0, 3: 1.0, 4: 0.0}
    got1 = {r["id"]: r["centrality"] for r in betweenness(g, max_depth=1)[0].collect()}
    assert set(got1.values()) == {0.0}


def test_betweenness_sampled_strategies(spark):
    # RA-Brandes on a 24-node directed path; the n/|S|-scaled estimate
    # should land near the exact values (loose tolerance: it IS an
    # estimator), and the degree-biased selector must run end-to-end
    n = 24
    edges = [(i, i + 1) for i in range(n - 1)]
    g = Graph.from_edge_list(spark, edges, n_nodes=n)
    exact = {r["id"]: r["centrality"] for r in betweenness(g)[0].collect()}
    sampled, stats = betweenness(g, sample=0.6, seed=3)
    got = {r["id"]: r["centrality"] for r in sampled.collect()}
    assert 0 < stats["sources"] < n
    mid = n // 2
    assert got[mid] == pytest.approx(exact[mid], rel=0.6)
    # total mass within 2x of exact (estimator sanity, not exactness)
    assert sum(got.values()) == pytest.approx(sum(exact.values()), rel=0.75)

    deg_sampled, deg_stats = betweenness(g, strategy="degree", seed=3)
    assert deg_stats["sources"] > 0
    assert deg_sampled.count() == n


# ------------------------------------------------------- cancellation

def test_termination_callable_stops_within_one_superstep(spark):
    g = Graph.from_edge_list(spark, [(i, (i + 1) % 50) for i in range(50)], n_nodes=50)
    calls = {"n": 0}

    def stop_after_three():
        calls["n"] += 1
        return calls["n"] > 3

    with pytest.raises(TerminatedError):
        pagerank(g, max_iterations=40, termination=stop_after_three)
    assert calls["n"] == 4  # checked once per superstep, stopped at the 4th


def test_termination_flag_and_file(spark, tmp_path):
    request_termination("doomed-run")
    with pytest.raises(TerminatedError):
        check_termination(spark, "doomed-run")
    flag = tmp_path / "kill.flag"
    check_termination(spark, str(flag))  # absent file: no-op
    flag.write_text("stop")
    with pytest.raises(TerminatedError):
        check_termination(spark, str(flag))


def test_terminated_pagerank_resumes_from_checkpoint(spark, tmp_path):
    g = Graph.from_edge_list(
        spark, [(i, (i + 1) % 30) for i in range(30)] + [(i, 0) for i in range(1, 30, 7)],
        n_nodes=30,
    )
    clean, _ = pagerank(g, max_iterations=8, fuse=2)
    want = {r["id"]: r["rank"] for r in clean.collect()}

    ckpt = str(tmp_path / "ck")
    calls = {"n": 0}

    def stop_after_four():
        calls["n"] += 1
        return calls["n"] > 4

    with pytest.raises(TerminatedError):
        pagerank(
            g, max_iterations=8, fuse=2, checkpoint_dir=ckpt,
            checkpoint_every=2, termination=stop_after_four,
        )
    resumed, stats = pagerank(
        g, max_iterations=8, fuse=2, checkpoint_dir=ckpt,
        checkpoint_every=2, resume=True,
    )
    got = {r["id"]: r["rank"] for r in resumed.collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-9), (k, got[k], want[k])


# ----------------------------------------------------- distributed rank

def test_distributed_rank_matches_global_order(spark):
    rng = np.random.RandomState(11)
    vals = list({
        int(v) for v in rng.randint(-(2**62), 2**62, size=600, dtype=np.int64)
    })[:500]  # distinct, negatives included
    df = spark.createDataFrame([(v,) for v in vals], "id long")
    got = {r["id"]: r["_rank"] for r in distributed_rank(df, "id").collect()}
    want = {v: i for i, v in enumerate(sorted(vals))}
    assert got == want


def test_densify_ids_dense_and_ordered(spark):
    edges = spark.createDataFrame(
        [(100, -5, 1.0), (-5, 7, 1.0), (7, 100, 1.0)], "src long, dst long, weight double"
    )
    mapping, dense = densify_ids(edges)
    m = {r["orig_id"]: r["id"] for r in mapping.collect()}
    assert m == {-5: 0, 7: 1, 100: 2}
    assert {(r["src"], r["dst"]) for r in dense.collect()} == {(2, 0), (0, 1), (1, 2)}


# ------------------------------------------------------------- MST / SSSP

def test_mst_isolated_start_node_returns_empty_tree(spark):
    edges = [(0, 1, 1.0), (1, 2, 2.0)]
    g = Graph.from_edge_list(spark, edges, n_nodes=6)  # node 5 isolated
    tree, stats = mst(g, start_node=5)
    assert tree.count() == 0
    assert stats["effectiveNodeCount"] == 1

    forest, fstats = mst(g)
    assert forest.count() == 2
    assert fstats["effectiveNodeCount"] == 3  # 2 edges + 1 component


def test_delta_stepping_rejects_nonpositive_delta(spark):
    g = Graph.from_edge_list(spark, [(0, 1, 1.0)], n_nodes=2)
    with pytest.raises(ValueError):
        delta_stepping(g, source=0, delta=0.0)
    with pytest.raises(ValueError):
        delta_stepping(g, source=0, delta=-2.0)
