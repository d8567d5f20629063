"""Round-4 regression tests.

Covers:
- the deep-iteration driver blowup fix (`plans/checkpointing.
  truncate_plan`): every BFS-family kernel previously went exponential
  in DRIVER time past ~20 supersteps (Catalyst stats walking the
  localCheckpoint origin-plan diamond), i.e. hung on any graph of
  diameter ≳22 regardless of size. These tests run the kernels to FULL
  depth on diameter-30+ fixtures — they complete in seconds now and
  would effectively hang (hours) under the old materialization.
- the lazy accumulation discipline: per-depth result/assignment frames
  are collected lazily and unioned once; the structural tests intercept
  `DataFrame.localCheckpoint` and assert the accumulated output is
  never re-materialized per depth (the old union+checkpoint pattern
  rewrote O(depth × settled) rows).
- `Graph.id_type()` caching + correctness bounds.
- hot-bucket caps on the ANN top-k candidate joins.
- `_cap_hot_buckets` stats surfacing.
- incremental-WCC orphan sweep.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neo4j_graph_algorithms_spark.graph import Graph


def _path_graph(spark, n, directed=True):
    rows = [(i, i + 1, 1.0) for i in range(n - 1)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    return Graph.from_edges(e, weight="weight")


# ---------------------------------------------------------------- deep loops


def test_msbfs_full_depth_long_path(spark):
    """Full-depth MS-BFS on a diameter-39 path — the exact shape that
    previously exploded (driver-side) past depth ~20."""
    from neo4j_graph_algorithms_spark.operators.msbfs import ms_bfs_depths

    n = 40
    g = _path_graph(spark, n)
    depths = ms_bfs_depths(g, direction="both").collect()
    # undirected path: every ordered pair (s != t) reached exactly once
    assert sum(r["n_sources"] for r in depths) == n * (n - 1)
    assert max(r["depth"] for r in depths) == n - 1
    # node i at depth d is reached by (i-d >= 0) + (i+d <= n-1) sources
    cells = {(r["node"], r["depth"]): r["n_sources"] for r in depths}
    for i in (0, 7, 20, 39):
        for d in (1, 5, 39):
            expect = (1 if i - d >= 0 else 0) + (1 if i + d <= n - 1 else 0)
            assert cells.get((i, d), 0) == expect


def test_sssp_full_length_path(spark):
    """40 relaxation rounds of the dist/frontier diamond."""
    from neo4j_graph_algorithms_spark.operators.shortest_path import shortest_paths

    n = 40
    g = _path_graph(spark, n)
    dist, stats = shortest_paths(g, source=0)
    rows = {r["id"]: r["distance"] for r in dist.collect()}
    assert all(rows[i] == float(i) for i in range(n))
    assert stats["iterations"] >= n - 1


def test_scc_long_cycle(spark):
    """One 32-cycle: the color fixpoint runs ~32 rounds of the
    color/pushed diamond before the backward sweep."""
    from neo4j_graph_algorithms_spark.operators.scc import scc

    n = 32
    rows = [(i, (i + 1) % n, 1.0) for i in range(n)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    g = Graph.from_edges(e, weight="weight")
    comp, stats = scc(g)
    got = comp.collect()
    assert len(got) == n
    assert len({r["component"] for r in got}) == 1
    assert stats["didConverge"]


def test_betweenness_full_depth_path(spark):
    """Directed 20-path, no depth bound: 19 forward + 19 backward
    layers. Closed form for a directed path: δ(i) = i · (n−1−i)."""
    from neo4j_graph_algorithms_spark.operators.betweenness import betweenness

    n = 20
    g = _path_graph(spark, n)
    cent, stats = betweenness(g, direction="out")
    rows = {r["id"]: r["centrality"] for r in cent.collect()}
    for i in range(n):
        assert rows[i] == pytest.approx(i * (n - 1 - i))
    assert stats["maxDepth"] == n - 1


# ------------------------------------------------ structural: lazy accumulate


class _CheckpointRecorder:
    """Intercept DataFrame.localCheckpoint and tally rows per schema.

    Spark 4 splits `pyspark.sql.DataFrame` (abstract) from the classic
    implementation subclass — patch the class the session actually
    instantiates, or the wrapper never fires."""

    def __init__(self):
        self.by_schema: dict[tuple, int] = {}

    def install(self, monkeypatch):
        try:
            from pyspark.sql.classic.dataframe import DataFrame as ClassicDF
        except ImportError:  # older layout
            ClassicDF = DataFrame
        orig = ClassicDF.localCheckpoint
        rec = self

        def wrapper(self, eager=True):
            out = orig(self, eager=eager)
            key = tuple(sorted(out.columns))
            rec.by_schema[key] = rec.by_schema.get(key, 0) + out.count()
            return out

        monkeypatch.setattr(ClassicDF, "localCheckpoint", wrapper)

    def total(self) -> int:
        return sum(self.by_schema.values())


def test_msbfs_result_frames_never_rematerialized(spark, monkeypatch):
    """The (node, depth, n_sources) output is assembled lazily: no
    checkpoint of a result-schema frame happens inside the depth loop
    (the old code checkpointed the cumulative union every depth)."""
    from neo4j_graph_algorithms_spark.operators.msbfs import ms_bfs_depths

    rec = _CheckpointRecorder()
    rec.install(monkeypatch)
    g = _path_graph(spark, 24)
    out = ms_bfs_depths(g, direction="both")
    assert sum(r["n_sources"] for r in out.collect()) == 24 * 23
    assert rec.total() > 0  # interception is live (frontier/visited frames)
    assert rec.by_schema.get(("depth", "n_sources", "node"), 0) == 0


def test_betweenness_layers_checkpointed_once(spark, monkeypatch):
    """Forward layers are checkpointed exactly once each: the total
    rows materialized under the layer schema equals the settled total
    (old code: Σ_d cumulative ≈ (depth/2)× more)."""
    from neo4j_graph_algorithms_spark.operators.betweenness import betweenness

    rec = _CheckpointRecorder()
    rec.install(monkeypatch)
    n = 12
    g = _path_graph(spark, n)
    cent, _ = betweenness(g, direction="out")
    cent.collect()
    settled_total = n * (n + 1) // 2  # pairs (s, t>=s) on a directed path
    layer_rows = rec.by_schema.get(("node", "sigma", "source"), 0)
    assert 0 < layer_rows <= settled_total
    # backward per-layer δ frames: also once each (layer 0 and the
    # deepest layer are never re-checkpointed)
    delta_rows = rec.by_schema.get(("delta", "node", "sigma", "source"), 0)
    assert delta_rows <= settled_total


# ------------------------------------------------------------- id-type cache


def test_graph_node_count_memoized(spark, count_jobs):
    g = Graph.from_edges(
        spark.createDataFrame([(1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, weight double")
    )
    first, jobs_first = count_jobs(g.node_count)
    second, jobs_second = count_jobs(g.node_count)
    assert first == second == 3
    assert jobs_first >= 1
    assert jobs_second == 0  # memoized on the snapshot


def test_graph_id_type_cached_and_bounded(spark):
    small = Graph.from_edges(
        spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, weight double")
    )
    assert small.id_type() == "int"
    assert small._id_type == "int"  # cached on the snapshot
    assert small.id_type() == "int"

    big_node = Graph.from_edges(
        spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, weight double"),
        nodes=spark.createDataFrame([(1,), (2,), (1 << 40,)], "id long"),
    )
    # edges fit int32 but an ISOLATED node id does not → must stay long
    assert big_node.id_type() == "long"

    neg = Graph.from_edges(
        spark.createDataFrame(
            [(-(1 << 33), 2, 1.0)], "src long, dst long, weight double"
        )
    )
    assert neg.id_type() == "long"


# --------------------------------------------------------------- ANN caps


def _clustered_embeddings(spark, n_dup=300, n_distinct=40, dim=8, seed=7):
    import numpy as np

    rng = np.random.RandomState(seed)
    rows = []
    base = rng.normal(size=dim)
    for i in range(n_dup):  # one near-identical mega-cluster
        v = base + rng.normal(scale=1e-4, size=dim)
        rows.append((i, [float(x) for x in v]))
    for i in range(n_distinct):
        v = rng.normal(size=dim)
        rows.append((n_dup + i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_lsh_topk_hot_bucket_cap(spark):
    """A degenerate near-identical cluster must not blow up the
    candidate join; capped run completes and still returns top-k rows
    for the distinct (healthy) queries."""
    from neo4j_graph_algorithms_spark.pipeline.similarity import lsh_cosine_topk

    df = _clustered_embeddings(spark)
    queries = df.filter(F.col("vec_id") >= 300)  # the healthy ones
    out = lsh_cosine_topk(
        queries, df, k=3, n_tables=4, n_bits=6, max_bucket_df=50
    )
    got = out.collect()
    assert len(got) > 0
    assert all(r["rank"] <= 3 for r in got)
    per_q: dict[int, int] = {}
    for r in got:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert all(v <= 3 for v in per_q.values())


def test_ivf_topk_hot_cell_cap(spark):
    from neo4j_graph_algorithms_spark.pipeline.similarity import ivf_cosine_topk

    df = _clustered_embeddings(spark, n_dup=200, n_distinct=30)
    queries = df.filter(F.col("vec_id") >= 200).limit(5)
    out = ivf_cosine_topk(
        queries, df, k=3, n_cells=8, nprobe=3, max_cell_df=80
    )
    got = out.collect()
    assert len(got) > 0
    assert all(r["rank"] <= 3 for r in got)


def test_cap_stats_surfaced(spark):
    """simhash_near_pairs exposes dropped-bucket counts via stats= and
    reports zeros when nothing is dropped."""
    from neo4j_graph_algorithms_spark.pipeline.dedup import simhash_near_pairs

    docs = spark.createDataFrame(
        [(i, "the same boilerplate license text repeated " * 3) for i in range(60)]
        + [(100 + i, f"unique document number {i} with its own words") for i in range(5)],
        "doc_id long, text string",
    )
    stats: dict = {}
    out = simhash_near_pairs(docs, max_bucket_df=10, stats=stats)
    out.count()
    assert stats["dropped_buckets"] > 0
    assert stats["dropped_rows"] >= stats["dropped_buckets"]

    stats2: dict = {}
    few = spark.createDataFrame(
        [(i, f"document {i} entirely different words {i * 7}") for i in range(6)],
        "doc_id long, text string",
    )
    simhash_near_pairs(few, max_bucket_df=100, stats=stats2).count()
    assert stats2["dropped_buckets"] == 0
    assert stats2["dropped_rows"] == 0


# ----------------------------------------------------------- ingest GC sweep


def test_incremental_wcc_orphan_sweep(spark, tmp_path):
    """Version dirs orphaned by a crash in buckets no later batch
    touches are swept on sink start; live dirs and the manifest
    survive."""
    from neo4j_graph_algorithms_spark.streaming.ingest import IncrementalWCC

    state = str(tmp_path / "state")
    sink = IncrementalWCC(spark, state, n_buckets=8)
    batch = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (10, 11, 1.0)], "src long, dst long, weight double"
    )
    sink.process_batch(batch, batch_id=0)
    comp0 = {r["id"]: r["component"] for r in sink.components().collect()}

    # plant a crashed-attempt orphan in an existing bucket, an orphan
    # bucket dir the manifest has never heard of, and a stray staging dir
    manifest = sink._read_manifest()
    some_bucket = next(iter(manifest))
    orphan1 = os.path.join(sink.path, f"bucket={some_bucket}", "v9_deadbeef")
    os.makedirs(orphan1)
    orphan2 = os.path.join(sink.path, "bucket=7", "v3_cafecafe")
    os.makedirs(orphan2, exist_ok=True)
    staging = os.path.join(sink.path, "_staging_99")
    os.makedirs(staging)

    sink._sweep_orphans()
    assert not os.path.exists(orphan1)
    assert not os.path.exists(orphan2)
    assert not os.path.exists(staging)
    # committed state intact
    comp1 = {r["id"]: r["component"] for r in sink.components().collect()}
    assert comp1 == comp0


# -------------------------------------------------------- multilevel louvain


def _clique_edges(members):
    return [
        (a, b, 1.0) for i, a in enumerate(members) for b in members[i + 1:]
    ]


def test_louvain_multilevel_collapses_cliques(spark):
    """Two 4-cliques + bridge: the hierarchy must end at exactly the two
    cliques, every clique member sharing its clique-mates' label."""
    from neo4j_graph_algorithms_spark.operators.louvain import louvain_multilevel

    rows = _clique_edges([0, 1, 2, 3]) + _clique_edges([4, 5, 6, 7]) + [(3, 4, 1.0)]
    g = Graph.from_edges(
        spark.createDataFrame(rows, "src long, dst long, weight double")
    )
    assign, stats = louvain_multilevel(g, levels=4)
    got = {r["id"]: r["community"] for r in assign.collect()}
    assert len(got) == 8
    assert len({got[i] for i in range(8)}) == 2
    assert {got[0], got[1], got[2], got[3]} == {got[0]}
    assert {got[4], got[5], got[6], got[7]} == {got[4]}
    assert got[0] != got[4]
    # the level sequence is non-increasing and actually contracted
    counts = stats["communityCountPerLevel"]
    assert counts == sorted(counts, reverse=True)
    assert counts[-1] == 2


def test_louvain_selfloops_ignored_when_absent(spark):
    """Self-loop accounting must not change results on loop-free graphs
    (the reference fixture shape): single-level result identical with a
    neutral self-loop added vs a heavier intra edge."""
    from neo4j_graph_algorithms_spark.operators.louvain import louvain

    rows = _clique_edges([0, 1, 2]) + _clique_edges([3, 4, 5]) + [(2, 3, 0.5)]
    g = Graph.from_edges(
        spark.createDataFrame(rows, "src long, dst long, weight double")
    )
    comm, _ = louvain(g)
    got = {r["id"]: r["community"] for r in comm.collect()}
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]


# ------------------------------------------------------------ triangles path


def test_triangles_broadcast_matches_shuffle(spark):
    """Broadcast-degree orientation must produce identical results to
    the shuffle-join orientation."""
    from neo4j_graph_algorithms_spark.operators.triangles import triangle_count

    import random

    rnd = random.Random(13)
    edges = {(rnd.randrange(30), rnd.randrange(30)) for _ in range(120)}
    rows = [(a, b, 1.0) for a, b in edges if a != b]
    g = Graph.from_edges(
        spark.createDataFrame(rows, "src long, dst long, weight double")
    )
    per_b, stats_b = triangle_count(g, broadcast_degrees=True)
    per_s, stats_s = triangle_count(g, broadcast_degrees=False)
    assert stats_b["triangleCount"] == stats_s["triangleCount"]
    a = {(r["id"], r["triangles"]) for r in per_b.collect()}
    b = {(r["id"], r["triangles"]) for r in per_s.collect()}
    assert a == b


# ------------------------------------------------------- dup clusters


def test_dup_clusters_transitive_and_singletons(spark):
    """Chained pairs collapse transitively to the min id; documents in
    no pair are singleton clusters of themselves."""
    from neo4j_graph_algorithms_spark.pipeline.dedup import dup_clusters

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(7)], "doc_id long, text string"
    )
    # 1-2, 2-3 chain (cluster 1); 5-6 (cluster 5); 0, 4 singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    got = {r["id"]: (r["cluster_id"], r["is_canonical"])
           for r in dup_clusters(docs, pairs).collect()}
    assert got == {
        0: (0, True), 1: (1, True), 2: (1, False), 3: (1, False),
        4: (4, True), 5: (5, True), 6: (5, False),
    }


def test_dup_clusters_from_ngram_pairs(spark):
    """End-to-end: near-identical docs cluster; canonical set size =
    n_docs - n_non-canonical; every cluster_id is a member doc id."""
    from neo4j_graph_algorithms_spark.pipeline.dedup import (
        dup_clusters,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(0, base), (1, base + "!"), (2, base + "?!"), (10, "entirely different text here"),
         (11, "another unrelated document body")],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.8)
    out = dup_clusters(docs, pairs).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[0]["cluster_id"] == by_id[1]["cluster_id"] == by_id[2]["cluster_id"] == 0
    assert by_id[10]["cluster_id"] == 10 and by_id[11]["cluster_id"] == 11
    keep = [r["id"] for r in out if r["is_canonical"]]
    assert sorted(keep) == [0, 10, 11]


# ------------------------------------------------------- filter_corpus


def test_filter_corpus_rules_and_order(spark):
    from neo4j_graph_algorithms_spark.pipeline.text import filter_corpus

    long_en = ("the cat and the dog walk to the park in the morning " * 8).strip()
    docs = spark.createDataFrame(
        [
            (0, long_en),                       # keeps
            (1, "tiny"),                        # too_short fires FIRST
            (2, "x" * 300),                     # 300 chars, 1 token -> too_few_tokens
            (3, ("12345 67890 " * 30).strip()), # digits -> low_alpha before high_digit
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in filter_corpus(
        docs, min_chars=100, min_tokens=10, min_alpha_ratio=0.5,
        max_digit_ratio=0.3, languages=("en",),
    ).collect()}
    assert out[0]["keep"] and out[0]["reject_reason"] is None
    assert out[0]["lang_pred"] == "en"
    assert out[1]["reject_reason"] == "too_short"
    assert out[2]["reject_reason"] == "too_few_tokens"
    assert out[3]["reject_reason"] == "low_alpha"  # rule order: alpha checked first
    assert not out[3]["keep"]


def test_filter_corpus_language_gate(spark):
    from neo4j_graph_algorithms_spark.pipeline.text import filter_corpus

    de = ("der hund und die katze das ist gut und der tag " * 6).strip()
    docs = spark.createDataFrame([(0, de)], "doc_id long, text string")
    row = filter_corpus(
        docs, min_chars=10, min_tokens=5, min_alpha_ratio=0.0, languages=("en",)
    ).collect()[0]
    assert row["lang_pred"] == "de"
    assert row["reject_reason"] == "wrong_language"


# ------------------------------------------------- betweenness auto-wave


def test_betweenness_auto_wave_matches_fixed(spark):
    """Auto wave sizing (budget/V) must not change results — same path
    fixture as the reference's [0,3,4,3,0], plus a tiny budget forcing
    multiple waves."""
    from neo4j_graph_algorithms_spark.operators.betweenness import betweenness

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    g = Graph.from_edges(e)
    auto, stats_auto = betweenness(g, direction="out")
    assert stats_auto["waves"] == 1  # 5 nodes, default budget -> one wave
    # tiny budget still floors wave_size at 64 (never degenerates to
    # per-source passes on small graphs)
    _, stats_tiny = betweenness(g, direction="out", state_budget_rows=1)
    assert stats_tiny["waves"] == 1
    got = {r["id"]: r["centrality"] for r in auto.collect()}
    assert got == {0: 0.0, 1: 3.0, 2: 4.0, 3: 3.0, 4: 0.0}
    # explicit wave_size still honored and identical
    waved, stats_w = betweenness(g, direction="out", wave_size=2)
    assert stats_w["waves"] == 3
    assert {r["id"]: r["centrality"] for r in waved.collect()} == got


# ------------------------------------------------- delta-stepping paths


def test_delta_stepping_all_light_skips_heavy_phase(spark):
    """delta > max weight => heavy set empty; the per-bucket heavy
    relax is skipped outright and distances still match Dijkstra."""
    from neo4j_graph_algorithms_spark.operators.shortest_path import (
        delta_stepping,
        shortest_paths,
    )

    edges = [(0, 1, 4.0), (0, 2, 2.0), (1, 3, 5.0), (2, 1, 1.0),
             (2, 3, 8.0), (2, 4, 10.0), (3, 4, 2.0), (4, 5, 6.0)]
    g = Graph.from_edge_list(spark, edges, n_nodes=6)
    want = {r["id"]: r["distance"] for r in shortest_paths(g, 0)[0].collect()}
    got = {r["id"]: r["distance"] for r in delta_stepping(g, 0, delta=100.0)[0].collect()}
    assert got == want


def test_delta_stepping_sparse_buckets_jump(spark):
    """Distance spectrum with big gaps: the bucket scheduler must jump
    straight across empty buckets (old code probed every one)."""
    from neo4j_graph_algorithms_spark.operators.shortest_path import delta_stepping

    edges = [(0, 1, 1.0), (1, 2, 1000.0), (2, 3, 1.0), (3, 4, 5000.0)]
    g = Graph.from_edge_list(spark, edges, n_nodes=5)
    dist, _ = delta_stepping(g, 0, delta=2.0)
    got = {r["id"]: r["distance"] for r in dist.collect()}
    assert got[4] == 6002.0 and got[2] == 1001.0


def test_msbfs_auto_wave_matches_fixed(spark):
    """wave_size='auto' (budget/V) produces identical depth counts to an
    explicit small wave, and sizes to one wave on a small graph."""
    from neo4j_graph_algorithms_spark.operators.msbfs import (
        _auto_wave_size,
        ms_bfs_depths,
    )

    g = _path_graph(spark, 12)
    auto = {(r["node"], r["depth"]): r["n_sources"]
            for r in ms_bfs_depths(g, direction="both").collect()}
    waved = {(r["node"], r["depth"]): r["n_sources"]
             for r in ms_bfs_depths(g, direction="both", wave_size=64).collect()}
    assert auto == waved
    assert _auto_wave_size(12, 12) == 64          # floored at one 64-source batch
    assert _auto_wave_size(1_000_000_000, 10**9) == 64  # floor at one batch
    assert _auto_wave_size(32_000_000, 10**9) == 64     # budget/V exactly 64


# ----------------------------------------------- personalized PageRank


def test_personalized_pagerank_seed_locality(spark):
    """Mass flows only from the seeds: nodes unreachable from the seed
    set stay at exactly 0; seeding ALL nodes reproduces global PageRank."""
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    # two disjoint directed chains: 0->1->2 and 10->11->12
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (11, 12)], "src long, dst long"
    )
    g = Graph.from_edges(e)
    seeds = spark.createDataFrame([(0,)], "id long")
    ranks = {r["id"]: r["rank"]
             for r in pagerank(g, max_iterations=10, source_nodes=seeds)[0].collect()}
    assert ranks[10] == 0.0 and ranks[11] == 0.0 and ranks[12] == 0.0
    assert ranks[0] == pytest.approx(0.15)
    assert ranks[1] == pytest.approx(0.15 * 0.85)
    assert ranks[2] == pytest.approx(0.15 * 0.85 * 0.85)

    all_nodes = g.nodes.select("id")
    per = {r["id"]: r["rank"]
           for r in pagerank(g, max_iterations=10, source_nodes=all_nodes)[0].collect()}
    glob = {r["id"]: r["rank"] for r in pagerank(g, max_iterations=10)[0].collect()}
    assert per == pytest.approx(glob)


def test_personalized_pagerank_numpy_differential(spark):
    """Seeded delta-push vs dense numpy power iteration on a small
    random-ish digraph (same recurrence: r += d*M^T delta per step)."""
    import numpy as np

    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    n = 12
    edges = [(i, (i * 3 + 1) % n) for i in range(n)] + [
        (i, (i * 5 + 2) % n) for i in range(0, n, 2)
    ]
    edges = sorted(set(edges))
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(e)
    seeds = [1, 4]
    sdf = spark.createDataFrame([(s,) for s in seeds], "id long")
    got = {r["id"]: r["rank"]
           for r in pagerank(g, max_iterations=8, source_nodes=sdf)[0].collect()}

    outdeg = np.zeros(n)
    for s, _ in edges:
        outdeg[s] += 1
    rank = np.zeros(n)
    delta = np.zeros(n)
    for s in seeds:
        rank[s] = delta[s] = 0.15
    for _ in range(8):
        nxt = np.zeros(n)
        for s, d in edges:
            if delta[s] > 0:
                nxt[d] += 0.85 * delta[s] / outdeg[s]
        rank += nxt
        delta = nxt
    for i in range(n):
        assert got.get(i, 0.0) == pytest.approx(rank[i], abs=1e-9)


def test_weighted_pagerank_uniform_weights_match_unweighted(spark):
    """With every weight equal, w/Σw == 1/deg exactly, so the weighted
    kernel must reproduce the unweighted scores bit-for-bit-ish."""
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    n = 12
    edges = sorted({(i, (i * 3 + 1) % n) for i in range(n)}
                   | {(i, (i * 5 + 2) % n) for i in range(0, n, 2)})
    e = spark.createDataFrame(
        [(s, d, 2.5) for s, d in edges], "src long, dst long, weight double"
    )
    g = Graph.from_edges(e, weight="weight")
    w = {r["id"]: r["rank"]
         for r in pagerank(g, max_iterations=8, weighted=True)[0].collect()}
    u = {r["id"]: r["rank"] for r in pagerank(g, max_iterations=8)[0].collect()}
    assert w == pytest.approx(u, abs=1e-12)


def test_weighted_pagerank_numpy_differential(spark):
    """Weighted delta-push vs a dense numpy replay of the same
    recurrence (push d*delta*w/Σw; weights vary per edge); also checks
    that non-positive-weight edges contribute nothing."""
    import numpy as np

    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    n = 12
    edges = sorted({(i, (i * 3 + 1) % n) for i in range(n)}
                   | {(i, (i * 5 + 2) % n) for i in range(0, n, 2)})
    wts = {(s, d): float((s + 2 * d) % 7) + 1.0 for s, d in edges}
    rows = [(s, d, wts[(s, d)]) for s, d in edges]
    # a zero-weight edge that must be ignored by the weighted push
    rows.append((0, 11, 0.0))
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    g = Graph.from_edges(e, weight="weight")
    got = {r["id"]: r["rank"]
           for r in pagerank(g, max_iterations=8, weighted=True)[0].collect()}

    wsum = np.zeros(n)
    for (s, _d), w in wts.items():
        wsum[s] += w
    rank = np.full(n, 0.15)
    delta = np.full(n, 0.15)
    for _ in range(8):
        nxt = np.zeros(n)
        for (s, d), w in wts.items():
            if delta[s] > 0:
                nxt[d] += 0.85 * delta[s] * w / wsum[s]
        rank += nxt
        delta = nxt
    for i in range(n):
        assert got[i] == pytest.approx(rank[i], abs=1e-9)


def test_neighborhood_exact_chain(spark):
    """Directed chain 0→1→2→3: N(1)=3, N(2)=5, N(3)=N(4)=6 ordered
    pairs; densified depths past the diameter stay flat."""
    from neo4j_graph_algorithms_spark.operators.neighborhood import (
        neighborhood_exact,
    )

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    g = Graph.from_edges(e)
    got = {r["depth"]: r["n_pairs"]
           for r in neighborhood_exact(g, max_depth=4, direction="out").collect()}
    assert got == {1: 3, 2: 5, 3: 6, 4: 6}


def test_neighborhood_hll_tracks_exact(spark):
    """HyperANF estimate within 10% of the exact N(t) at every depth on
    a 200-node ring-with-chords graph (p=12 → ~1.6% per-register rel
    error; the per-node sum concentrates tighter)."""
    from neo4j_graph_algorithms_spark.operators.neighborhood import (
        neighborhood_exact,
        neighborhood_function,
    )

    n = 200
    edges = sorted({(i, (i + 1) % n) for i in range(n)}
                   | {(i, (i * 7 + 3) % n) for i in range(0, n, 3)})
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(e)
    exact = {r["depth"]: r["n_pairs"]
             for r in neighborhood_exact(g, max_depth=5, direction="out").collect()}
    est_df, stats = neighborhood_function(g, max_depth=5, p=12, direction="out")
    est = {r["depth"]: r["n_pairs_est"] for r in est_df.collect()}
    assert set(est) == set(exact)
    for d, ex in exact.items():
        assert est[d] == pytest.approx(ex, rel=0.10), (d, est[d], ex)
    assert stats["depths_run"] == 5


def test_neighborhood_hll_converges_and_diameter(spark):
    """On a diameter-3 graph the frontier empties at depth 4 and the
    run stops early with didConverge; effective diameter is within the
    run range and ≥ 1."""
    from neo4j_graph_algorithms_spark.operators.neighborhood import (
        neighborhood_function,
    )

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    g = Graph.from_edges(e)
    _, stats = neighborhood_function(g, max_depth=10, p=8, direction="out")
    assert stats["didConverge"]
    assert stats["depths_run"] <= 5
    assert 0.0 < stats["effective_diameter_90"] <= stats["depths_run"]
    # chain N(t) grows 3,5,6,6: the 90% point (5.4) interpolates
    # between depths 2 and 3 → exactly 2.4
    assert stats["effective_diameter_90"] == pytest.approx(2.4, abs=0.2)


def test_neighborhood_hll_salted_matches_plain(spark):
    """Two-phase salted merge is exactly the plain merge (elementwise
    max is associative/commutative, so grouping order can't matter)."""
    from neo4j_graph_algorithms_spark.operators.neighborhood import (
        neighborhood_function,
    )

    n = 60
    edges = sorted({(i, (i * 3 + 1) % n) for i in range(n)}
                   | {(0, i) for i in range(1, n)})  # hub fan-out
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(e)
    plain, _ = neighborhood_function(g, max_depth=3, p=8, direction="both")
    salted, _ = neighborhood_function(g, max_depth=3, p=8, direction="both",
                                      salt_buckets=4)
    p_rows = {r["depth"]: r["n_pairs_est"] for r in plain.collect()}
    s_rows = {r["depth"]: r["n_pairs_est"] for r in salted.collect()}
    assert p_rows == pytest.approx(s_rows)


def test_kcore_matches_exact_peeling(spark):
    """h-index fixpoint vs the exact sequential peeler on a mixed
    fixture: two 4-cliques (core 3) bridged, a pendant chain (core 1),
    and a 5-clique (core 4) sharing one node with a clique."""
    from neo4j_graph_algorithms_spark.operators.kcore import (
        core_decomposition,
        peel_core_numbers,
    )

    edges = []
    for base in (0, 10):
        ns = [base, base + 1, base + 2, base + 3]
        edges += [(a, b) for a in ns for b in ns if a < b]
    five = [3, 30, 31, 32, 33]
    edges += [(a, b) for a in five for b in five if a < b]
    edges += [(3, 10), (13, 20), (20, 21)]
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(e)
    cores, stats = core_decomposition(g)
    got = {r["id"]: r["core"] for r in cores.collect()}
    assert got == peel_core_numbers(edges)
    assert stats["didConverge"]


def test_kcore_random_graph_differential(spark):
    """h-index fixpoint vs exact peeling on a 150-node pseudo-random
    graph (deterministic LCG edges) — varied degrees, multiple cores."""
    from neo4j_graph_algorithms_spark.operators.kcore import (
        core_decomposition,
        k_core_subgraph,
        peel_core_numbers,
    )

    n, x, edges = 150, 7, set()
    for _ in range(600):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a = x % n
        x = (x * 1103515245 + 12345) % (1 << 31)
        b = x % n
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edges = sorted(edges)
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(e)
    cores, _ = core_decomposition(g)
    got = {r["id"]: r["core"] for r in cores.collect()}
    exp = peel_core_numbers(edges)
    assert got == exp
    # the k-core subgraph filter agrees with the decomposition
    kmax = max(exp.values())
    sub = {r["id"] for r in k_core_subgraph(g, kmax).collect()}
    assert sub == {v for v, c in exp.items() if c >= kmax}


def test_kcore_self_loops_and_isolated(spark):
    """Self-loops are dropped; isolated nodes (in the node frame but no
    edges) get core 0."""
    from neo4j_graph_algorithms_spark.operators.kcore import core_decomposition

    e = spark.createDataFrame([(0, 1), (1, 1)], "src long, dst long")
    nodes = spark.createDataFrame([(0,), (1,), (9,)], "id long")
    g = Graph.from_edges(e, nodes=nodes)
    got = {r["id"]: r["core"] for r in core_decomposition(g)[0].collect()}
    assert got == {0: 1, 1: 1, 9: 0}


def test_random_walk_forced_cycle(spark):
    """Out-degree-1 cycle: the walk is forced, so every step is exactly
    (start + t) mod n regardless of hashing."""
    from neo4j_graph_algorithms_spark.operators.random_walk import random_walks

    n = 8
    e = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)], "src long, dst long")
    g = Graph.from_edges(e)
    out, stats = random_walks(g, walk_length=5)
    rows = {(r["source"], r["step"]): r["node"] for r in out.collect()}
    assert len(rows) == n * 6
    for s in range(n):
        for t in range(6):
            assert rows[(s, t)] == (s + t) % n
    assert stats["steps_run"] == 5


def test_random_walk_valid_deterministic_terminating(spark):
    """Every consecutive hop is a real edge; two runs are identical;
    walks stop at the dangling sink; different seeds diverge."""
    from neo4j_graph_algorithms_spark.operators.random_walk import random_walks

    n = 30
    edges = sorted({(i, (i * 3 + 1) % n) for i in range(n)}
                   | {(i, (i * 7 + 2) % n) for i in range(n)}
                   | {(i, n) for i in range(0, n, 5)})  # n is a sink
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(e)
    a, _ = random_walks(g, walk_length=6, walks_per_node=2, seed=1)
    b, _ = random_walks(g, walk_length=6, walks_per_node=2, seed=1)
    ra = sorted(map(tuple, a.collect()))
    assert ra == sorted(map(tuple, b.collect()))

    # validity: every (node_t, node_{t+1}) within a walk is an edge
    eset = set(edges)
    by_walk: dict = {}
    for source, rep, step, node in ra:
        by_walk.setdefault((source, rep), {})[step] = node
    hops = 0
    for path in by_walk.values():
        for t in range(max(path)):
            if t in path and t + 1 in path:
                assert (path[t], path[t + 1]) in eset
                hops += 1
    assert hops > 0
    # sink termination: a walk that reaches node n has no later steps
    for path in by_walk.values():
        sink_steps = [t for t, v in path.items() if v == n]
        if sink_steps:
            assert max(path) == min(sink_steps)

    c, _ = random_walks(g, walk_length=6, walks_per_node=2, seed=2)
    assert sorted(map(tuple, c.collect())) != ra


def test_random_walk_hash_spreads_over_neighbors(spark):
    """Star center with 40 leaves: 64 independent walks from the
    center land on many distinct leaves at step 1 (uniform-ish hash
    choice, not a constant pick)."""
    from neo4j_graph_algorithms_spark.operators.random_walk import random_walks

    e = spark.createDataFrame([(0, i) for i in range(1, 41)], "src long, dst long")
    g = Graph.from_edges(e)
    srcs = spark.createDataFrame([(0,)], "id long")
    out, _ = random_walks(g, walk_length=1, walks_per_node=64, sources=srcs)
    leaves = {r["node"] for r in out.filter("step = 1").collect()}
    assert len(leaves) >= 20


def test_article_rank_numpy_differential(spark):
    """ArticleRank delta-push vs a dense numpy replay of the same
    recurrence (push d*delta/(outdeg + E/V)); low-out-degree citers
    are damped relative to plain PageRank."""
    import numpy as np

    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    n = 12
    edges = sorted({(i, (i * 3 + 1) % n) for i in range(n)}
                   | {(i, (i * 5 + 2) % n) for i in range(0, n, 2)})
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(e)
    got = {r["id"]: r["rank"]
           for r in pagerank(g, max_iterations=8, article=True)[0].collect()}

    avg = len(edges) / n
    outdeg = np.zeros(n)
    for s, _ in edges:
        outdeg[s] += 1
    rank = np.full(n, 0.15)
    delta = np.full(n, 0.15)
    for _ in range(8):
        nxt = np.zeros(n)
        for s, d in edges:
            if delta[s] > 0:
                nxt[d] += 0.85 * delta[s] / (outdeg[s] + avg)
        rank += nxt
        delta = nxt
    for i in range(n):
        assert got[i] == pytest.approx(rank[i], abs=1e-9)

    with pytest.raises(ValueError):
        pagerank(g, article=True, weighted=True)


def test_hash_sample_deterministic_and_sized(spark):
    """The fraction sample is a pure filter: stable across runs and
    partitionings, ~fraction of rows, and monotone in fraction (a
    smaller sample is a subset of a larger one)."""
    from neo4j_graph_algorithms_spark.pipeline.sampling import hash_sample

    df = spark.range(10_000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in hash_sample(df, 0.2).collect()}
    b = {r["doc_id"] for r in hash_sample(df.repartition(7), 0.2).collect()}
    assert a == b
    assert 0.15 * 10_000 < len(a) < 0.25 * 10_000
    small = {r["doc_id"] for r in hash_sample(df, 0.05).collect()}
    assert small <= a
    assert hash_sample(df, 0.0).count() == 0
    assert hash_sample(df, 1.0).count() == 10_000
    with pytest.raises(ValueError):
        hash_sample(df, 1.5)


def test_stratified_sample_exact_per_key(spark):
    """Exactly min(n, |stratum|) rows per key; the pick is stable
    across partitionings (hash order + id tie-break is total)."""
    from neo4j_graph_algorithms_spark.pipeline.sampling import stratified_sample

    rows = [(i, i % 4) for i in range(100)] + [(1000, 9)]  # bucket 9: 1 row
    df = spark.createDataFrame(rows, "doc_id long, bucket int")
    out = stratified_sample(df, ["bucket"], 7)
    got = {}
    for r in out.collect():
        got.setdefault(r["bucket"], set()).add(r["doc_id"])
    assert {k: len(v) for k, v in got.items()} == {0: 7, 1: 7, 2: 7, 3: 7, 9: 1}
    out2 = stratified_sample(df.repartition(11), ["bucket"], 7)
    got2 = {}
    for r in out2.collect():
        got2.setdefault(r["bucket"], set()).add(r["doc_id"])
    assert got == got2


def test_node_similarity_exact_fixture(spark):
    """Hand-checked Jaccard values: N(0)={1,2,3}, N(4)={2,3,5} →
    J = 2/4; N(6)={1,2,3} → J(0,6)=1.0; threshold filters correctly."""
    from neo4j_graph_algorithms_spark.operators.node_similarity import (
        node_similarity,
    )

    e = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (4, 2), (4, 3), (4, 5), (6, 1), (6, 2), (6, 3)],
        "src long, dst long",
    )
    g = Graph.from_edges(e)
    got = {(r["id_a"], r["id_b"]): r["similarity"]
           for r in node_similarity(g, threshold=0.0).collect()}
    assert got[(0, 4)] == pytest.approx(0.5)
    assert got[(0, 6)] == pytest.approx(1.0)
    assert got[(4, 6)] == pytest.approx(0.5)
    strict = {(r["id_a"], r["id_b"])
              for r in node_similarity(g, threshold=0.75).collect()}
    assert strict == {(0, 6)}


def test_node_similarity_python_differential_and_topk(spark):
    """vs a brute-force python Jaccard on a pseudo-random digraph; the
    top_k filter keeps a pair iff either endpoint ranks it top-k."""
    from neo4j_graph_algorithms_spark.operators.node_similarity import (
        node_similarity,
    )

    n = 40
    edges = sorted({(i, (i * 3 + 1) % n) for i in range(n)}
                   | {(i, (i * 5 + 2) % n) for i in range(n)}
                   | {(i, (i * 7 + 3) % n) for i in range(0, n, 2)})
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(e)
    got = {(r["id_a"], r["id_b"]): r["similarity"]
           for r in node_similarity(g, threshold=0.2).collect()}

    nbrs: dict[int, set] = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
    exp = {}
    ids = sorted(nbrs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(nbrs[a] & nbrs[b])
            if inter:
                j = inter / len(nbrs[a] | nbrs[b])
                if j >= 0.2:
                    exp[(a, b)] = j
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert got[k] == pytest.approx(v)

    top1 = {(r["id_a"], r["id_b"])
            for r in node_similarity(g, threshold=0.0, top_k=1).collect()}
    # every kept pair is some endpoint's best; every node with any
    # similar partner appears in at least one kept pair
    best: dict[int, float] = {}
    allp = {}
    for a in ids:
        for b in ids:
            if a < b:
                inter = len(nbrs[a] & nbrs[b])
                if inter:
                    j = inter / len(nbrs[a] | nbrs[b])
                    allp[(a, b)] = j
                    best[a] = max(best.get(a, 0), j)
                    best[b] = max(best.get(b, 0), j)
    for a, b in top1:
        j = allp[(a, b)]
        assert j == pytest.approx(best[a]) or j == pytest.approx(best[b])
    covered = {x for p in top1 for x in p}
    assert covered == set(best)


def test_node_similarity_hub_cap(spark):
    """max_common_degree drops the hub neighbor from the candidate
    join: the star pairs vanish and sizes consistently exclude it."""
    from neo4j_graph_algorithms_spark.operators.node_similarity import (
        node_similarity,
    )

    # every node points at hub 99; 0 and 1 also share neighbor 50
    e = spark.createDataFrame(
        [(i, 99) for i in range(10)] + [(0, 50), (1, 50)], "src long, dst long"
    )
    g = Graph.from_edges(e)
    uncapped = {(r["id_a"], r["id_b"]): r["similarity"]
                for r in node_similarity(g, threshold=0.0).collect()}
    assert len(uncapped) == 45  # all 10-choose-2 via the hub
    capped = {(r["id_a"], r["id_b"]): r["similarity"]
              for r in node_similarity(g, threshold=0.0, max_common_degree=5).collect()}
    assert capped == {(0, 1): pytest.approx(1.0)}  # only {50} remains


def test_registry_includes_round4_extensions(spark):
    """The new operators dispatch through the algo.list/run surface."""
    from neo4j_graph_algorithms_spark import runner

    names = {p["name"] for p in runner.list_procedures()}
    assert {"algo.kcore", "algo.neighborhood", "algo.randomWalk",
            "algo.similarity.jaccard"} <= names
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    g = Graph.from_edges(e)
    df, stats = runner.run("algo.kcore", g)
    assert df.count() == 4 and stats["didConverge"]
    df2, _ = runner.run("algo.randomWalk", g, walk_length=3)
    assert df2.filter("step = 0").count() == 4


def test_node_similarity_metric_variants(spark):
    """overlap = c/min, cosine = c/sqrt(ab) vs brute-force python on
    the same fixture; unknown metric raises."""
    import math

    from neo4j_graph_algorithms_spark.operators.node_similarity import (
        node_similarity,
    )

    n = 30
    edges = sorted({(i, (i * 3 + 1) % n) for i in range(n)}
                   | {(i, (i * 5 + 2) % n) for i in range(n)}
                   | {(i, (i * 7 + 3) % n) for i in range(0, n, 2)})
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(e)

    nbrs: dict[int, set] = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
    ids = sorted(nbrs)

    for metric, fn in (
        ("overlap", lambda c, a, b: c / min(a, b)),
        ("cosine", lambda c, a, b: c / math.sqrt(a * b)),
    ):
        got = {(r["id_a"], r["id_b"]): r["similarity"]
               for r in node_similarity(g, threshold=0.3, metric=metric).collect()}
        exp = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                c = len(nbrs[a] & nbrs[b])
                if c:
                    v = fn(c, len(nbrs[a]), len(nbrs[b]))
                    if v >= 0.3:
                        exp[(a, b)] = v
        assert set(got) == set(exp), metric
        for k, v in exp.items():
            assert got[k] == pytest.approx(v), (metric, k)

    with pytest.raises(ValueError):
        node_similarity(g, metric="pearson")


def test_round4_ops_degenerate_inputs(spark):
    """Edge cases across the new operators: edgeless graphs, isolated
    nodes, single-node strata — no crashes, sane outputs."""
    from neo4j_graph_algorithms_spark.operators.kcore import core_decomposition
    from neo4j_graph_algorithms_spark.operators.neighborhood import (
        neighborhood_exact,
        neighborhood_function,
    )
    from neo4j_graph_algorithms_spark.operators.node_similarity import (
        node_similarity,
    )
    from neo4j_graph_algorithms_spark.operators.random_walk import random_walks

    nodes = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    empty_e = spark.createDataFrame([], "src long, dst long, weight double")
    from neo4j_graph_algorithms_spark.graph import Graph as G
    g = G(nodes=nodes, edges=empty_e)

    cores, stats = core_decomposition(g)
    assert {r["core"] for r in cores.collect()} == {0} and stats["didConverge"]

    ex = {r["depth"]: r["n_pairs"]
          for r in neighborhood_exact(g, max_depth=3).collect()}
    assert ex == {1: 0, 2: 0, 3: 0}

    nf, nstats = neighborhood_function(g, max_depth=3, p=8)
    assert nstats["didConverge"] and nstats["depths_run"] == 1
    assert all(r["n_pairs_est"] < 1.0 for r in nf.collect())

    walks, wstats = random_walks(g, walk_length=3)
    assert walks.count() == 3  # step-0 rows only; no edges to follow
    assert wstats["steps_run"] == 0

    sims = node_similarity(g, threshold=0.0)
    assert sims.count() == 0


def test_warm_start_equals_cold_continuation(spark):
    """residual(r_k) == delta_{k+1} exactly, and the residual pass
    itself applies one step — so warm-starting from the cold
    3-iteration estimate and running 1 loop superstep reproduces cold
    5 iterations."""
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    n = 12
    edges = sorted({(i, (i * 3 + 1) % n) for i in range(n)}
                   | {(i, (i * 5 + 2) % n) for i in range(0, n, 2)})
    e = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(e)
    r3, _ = pagerank(g, max_iterations=3)
    warm, _ = pagerank(g, max_iterations=1, init_ranks=r3)
    cold, _ = pagerank(g, max_iterations=5)
    w = {r["id"]: r["rank"] for r in warm.collect()}
    c = {r["id"]: r["rank"] for r in cold.collect()}
    assert w == pytest.approx(c, abs=1e-12)


def test_warm_start_incremental_after_edge_append(spark):
    """Append edges, warm-start from the old graph's converged ranks:
    same fixpoint as a cold run on the new graph, in fewer supersteps;
    warm-starting from the new fixpoint itself converges immediately."""
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    n = 16
    base = sorted({(i, (i * 3 + 1) % n) for i in range(n)})
    extra = [(0, 7), (7, 0), (3, 11)]
    g1 = Graph.from_edges(spark.createDataFrame(base, "src long, dst long"))
    g2 = Graph.from_edges(
        spark.createDataFrame(sorted(set(base) | set(extra)), "src long, dst long")
    )
    # d=0.85 → the tail shrinks 0.85^k: ~1e-7 takes ~100 supersteps
    r1, _ = pagerank(g1, max_iterations=160, tolerance=1e-7)
    cold, cstats = pagerank(g2, max_iterations=160, tolerance=1e-7)
    warm, wstats = pagerank(g2, max_iterations=160, tolerance=1e-7, init_ranks=r1)
    c = {r["id"]: r["rank"] for r in cold.collect()}
    w = {r["id"]: r["rank"] for r in warm.collect()}
    # remaining tail ≤ tol·d/(1-d) ≈ 5.7e-7 on each side
    assert w == pytest.approx(c, abs=2e-6)
    assert wstats["didConverge"] and cstats["didConverge"]
    # the warm residual starts at the perturbation scale, not at α·V
    assert wstats["iterations"] < cstats["iterations"]

    again, astats = pagerank(g2, max_iterations=60, tolerance=1e-4, init_ranks=warm)
    assert astats["iterations"] <= 3  # residual already ~tol

    with pytest.raises(ValueError):
        seeds = spark.createDataFrame([(0,)], "id long")
        pagerank(g2, init_ranks=warm, source_nodes=seeds)


def test_graph_stats_profile(spark):
    """Star graph: strongly disassortative (hub degree n-1 vs leaf 1);
    summary numbers check against hand counts; regular ring has zero
    degree variance → assortativity undefined (None)."""
    from neo4j_graph_algorithms_spark.operators.graph_stats import (
        degree_assortativity,
        graph_summary,
    )

    star = Graph.from_edges(
        spark.createDataFrame([(0, i) for i in range(1, 9)], "src long, dst long")
    )
    r = degree_assortativity(star)
    assert r is not None and r == pytest.approx(-1.0)

    s = graph_summary(star).collect()[0]
    assert (s["n_nodes"], s["n_edges"], s["min_out"], s["max_out"],
            s["dangling"]) == (9, 8, 8, 8, 8)
    assert s["avg_out"] == pytest.approx(8.0)
    assert s["density"] == pytest.approx(8 / (9 * 8))

    ring = Graph.from_edges(
        spark.createDataFrame([(i, (i + 1) % 6) for i in range(6)],
                              "src long, dst long")
    )
    assert degree_assortativity(ring) is None
