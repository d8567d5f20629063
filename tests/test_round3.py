"""Round-3 additions: vectorized SimHash parity, signature-free LSH
candidate join, hot-bucket caps, pipeline cache release, wave-bounded
MS-BFS, shared int-id compression, ANSI-safe link extraction,
betweenness strategy validation."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from neo4j_graph_algorithms_spark.graph import Graph, compact_id_type
from neo4j_graph_algorithms_spark.operators.betweenness import betweenness
from neo4j_graph_algorithms_spark.operators.msbfs import (
    all_shortest_paths,
    ms_bfs_depths,
)
from neo4j_graph_algorithms_spark.pipeline.dedup import (
    _simhash_batch,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)


# ------------------------------------------------------------------ SimHash

def _simhash_reference(hash_lists):
    """The pre-vectorization per-document implementation, kept as the
    differential oracle for the batch-level reduceat path."""
    out = []
    for hs in hash_lists:
        h = np.asarray(hs, dtype=np.int64).view(np.uint64)
        if len(h) == 0:
            out.append(0)
            continue
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int32)
        counts = bits.sum(axis=0)
        sig = (
            (counts * 2 > len(h)).astype(np.uint64)
            << np.arange(64, dtype=np.uint64)
        ).sum()
        out.append(int(np.int64(np.uint64(sig))))
    return np.asarray(out, dtype=np.int64)


def test_simhash_vectorized_matches_per_doc_reference():
    rng = np.random.RandomState(11)
    docs = [
        rng.randint(np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=53, dtype=np.int64),
        np.array([0, 1, -1, np.iinfo(np.int64).min, np.iinfo(np.int64).max], dtype=np.int64),
        np.array([], dtype=np.int64),  # empty doc -> signature 0
        rng.randint(np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=2, dtype=np.int64),
        np.array([-1], dtype=np.int64),  # single all-ones hash -> all bits set
    ]
    got = _simhash_batch(docs)
    want = _simhash_reference(docs)
    assert got.dtype == np.int64
    assert (got == want).all()
    assert got[2] == 0
    assert got[4] == -1  # 0xFFFF... as int64


# ------------------------------------------------------------ hot-bucket cap

def _identical_corpus(spark, n=64):
    return spark.createDataFrame(
        [(i, "the same boilerplate license text repeated everywhere") for i in range(n)],
        "doc_id long, text string",
    )


def test_minhash_hot_bucket_cap_bounds_candidates(spark):
    docs = _identical_corpus(spark)
    uncapped = minhash_lsh_pairs(docs, num_hashes=32, bands=8, threshold=0.5)
    assert uncapped.count() == 64 * 63 // 2  # quadratic without the cap
    capped = minhash_lsh_pairs(
        docs, num_hashes=32, bands=8, threshold=0.5, max_bucket_df=10
    )
    assert capped.count() == 0  # every bucket holds all 64 docs -> dropped


def test_simhash_hot_bucket_cap_bounds_candidates(spark):
    docs = _identical_corpus(spark)
    uncapped = simhash_near_pairs(docs, max_distance=3)
    assert uncapped.count() == 64 * 63 // 2
    capped = simhash_near_pairs(docs, max_distance=3, max_bucket_df=10)
    assert capped.count() == 0


def test_minhash_pairs_survive_join_slim(spark):
    # near-identical pair + an unrelated doc: the id-only candidate join
    # must still find and score the real near-dup
    base = "abcdefghij" * 12
    docs = spark.createDataFrame(
        [(0, base), (1, base + "zz"), (2, "completely different content here")],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, num_hashes=64, bands=16, threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(0, 1)]
    assert pairs[0]["jaccard_est"] >= 0.5


# ------------------------------------------------------------- cache release

def test_pipeline_calls_release_their_caches(spark):
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared tokens") for i in range(8)],
        "doc_id long, text string",
    )
    spark.catalog.clearCache()
    minhash_lsh_pairs(docs, num_hashes=16, bands=4, threshold=0.1).count()
    simhash_near_pairs(docs, max_distance=3).count()
    ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_df=6).count()
    # no persisted DataFrames may remain registered in the SQL cache
    # manager after the calls return (localCheckpoint RDD blocks are
    # scoped to the returned frames and collected with them)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# --------------------------------------------------------- wave-bound MS-BFS

def _line_plus_fan(spark):
    # 0->1->2->3, 2->4, 5 isolated; 7 nodes so several 64-wide waves
    # only when wave_size is tiny
    return Graph.from_edge_list(
        spark, [(0, 1), (1, 2), (2, 3), (2, 4)], n_nodes=6
    )


def test_msbfs_waves_equal_single_wave(spark):
    g = _line_plus_fan(spark)
    single = ms_bfs_depths(g, direction="out", wave_size=None).collect()
    waved = ms_bfs_depths(g, direction="out", wave_size=64).collect()
    tiny = ms_bfs_depths(g, direction="out", wave_size=1).collect()

    def norm(rows):
        return sorted((r["node"], r["depth"], r["n_sources"]) for r in rows)

    assert norm(single) == norm(waved) == norm(tiny)
    # spot-check: node 2 reached at depth 1 by {1}, depth 2 by {0}
    d = {(r["node"], r["depth"]): r["n_sources"] for r in single}
    assert d[(2, 1)] == 1 and d[(2, 2)] == 1


def test_apsp_waves_equal_single_wave(spark):
    g = _line_plus_fan(spark)
    single = all_shortest_paths(g, direction="out", wave_size=None).collect()
    tiny = all_shortest_paths(g, direction="out", wave_size=1).collect()

    def norm(rows):
        return sorted((r["source"], r["target"], r["depth"]) for r in rows)

    assert norm(single) == norm(tiny)
    assert (0, 3, 3) in norm(single) and (0, 4, 3) in norm(single)


# --------------------------------------------------------- id compression

def test_compact_id_type_bounds(spark):
    small = spark.createDataFrame([(1, 2)], "src long, dst long")
    assert compact_id_type(small) == "int"
    big = spark.createDataFrame([(1, 1 << 40)], "src long, dst long")
    assert compact_id_type(big) == "long"
    neg = spark.createDataFrame([(-(1 << 33), 5)], "src long, dst long")
    assert compact_id_type(neg) == "long"  # min below INT_MIN must stay long
    negok = spark.createDataFrame([(-5, 5)], "src long, dst long")
    assert compact_id_type(negok) == "int"
    single = spark.createDataFrame([(7,)], "id long")
    assert compact_id_type(single, ("id",)) == "int"


def test_wcc_int_compression_handles_large_ids(spark):
    # ids above int32: the compression must NOT engage; results exact
    big = 1 << 40
    g = Graph.from_edge_list(
        spark, [(big, big + 1), (big + 2, big + 3)],
    )
    comp, _ = wcc_import()(g)
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert got[big + 1] == big and got[big + 3] == big + 2
    assert dict(comp.dtypes)["component"] == "bigint"


def wcc_import():
    from neo4j_graph_algorithms_spark.operators.wcc import wcc

    return wcc


# ----------------------------------------------------- ANSI-safe link rows

def test_doc_link_rows_ansi_safe_on_foreign_import_lines(spark, tmp_path):
    # a document whose text contains an import line with a target that
    # is NOT src/d<N>.py: under ANSI mode the old cast-then-filter order
    # raised CAST_INVALID_INPUT; the row must simply be dropped
    import __spark_entry__ as entrymod

    docs = spark.createDataFrame(
        [(0, "hello\nimport other/lib.py"), (1, "plain text"), (2, "x")],
        "doc_id long, text string",
    )
    sf_dir = str(tmp_path)
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    rows = entrymod._doc_link_rows(spark, sf_dir).collect()
    # only the deterministic chain/hub imports survive; the foreign
    # target produced no row and no crash
    assert all(0 <= r["src"] <= 2 and 0 <= r["dst"] <= 2 for r in rows)
    assert len(rows) > 0


# ------------------------------------------------- betweenness validation

def test_betweenness_rejects_unknown_strategy_without_sample(spark):
    g = _line_plus_fan(spark)
    with pytest.raises(ValueError, match="strategy"):
        betweenness(g, strategy="degre")  # typo must raise, sample or not


# --------------------------------------------- streaming state atomicity

def test_incremental_wcc_crash_mid_write_keeps_snapshot(spark, tmp_path):
    """A failure before the manifest swap must leave the previous
    snapshot fully readable, and a replay must reconverge."""
    import os
    import shutil

    from neo4j_graph_algorithms_spark.streaming.ingest import IncrementalWCC

    state_dir = str(tmp_path / "wcc_state")
    sink = IncrementalWCC(spark, state_dir, n_buckets=8)

    b1 = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
    sink.process_batch(b1, 0)
    before = {r["id"]: r["component"] for r in sink.components().collect()}
    assert before[0] == before[1] and before[2] == before[3]
    manifest_before = sink._read_manifest()

    # simulate a crash DURING batch 1: new version dirs + staging exist
    # on disk but the manifest swap never happened
    junk_dir = os.path.join(sink.path, "bucket=0", "v1_deadbeef")
    os.makedirs(junk_dir, exist_ok=True)
    spark.createDataFrame(
        [(99, -1)], "id long, component long"
    ).coalesce(1).write.mode("overwrite").parquet(junk_dir)
    os.makedirs(os.path.join(sink.path, "_staging_1"), exist_ok=True)

    # reader still sees the committed snapshot only
    assert sink._read_manifest() == manifest_before
    mid = {r["id"]: r["component"] for r in sink.components().collect()}
    assert mid == before and 99 not in mid

    # replay of the batch reconverges and merges correctly
    b2 = spark.createDataFrame([(1, 2)], "src long, dst long")
    sink.process_batch(b2, 1)
    after = {r["id"]: r["component"] for r in sink.components().collect()}
    assert after[0] == after[1] == after[2] == after[3]
    assert 99 not in after

    # post-commit GC removed the orphaned crash debris for touched buckets
    assert not os.path.exists(os.path.join(sink.path, "_staging_1"))
    for b, rel in sink._read_manifest().items():
        bdir = os.path.join(sink.path, f"bucket={b}")
        assert sorted(os.listdir(bdir)) == [os.path.basename(rel)]


# -------------------------------------------- embedding-cosine near-dup

def test_embedding_near_pairs_exact_and_lsh(spark):
    import numpy as np

    from neo4j_graph_algorithms_spark.pipeline.similarity import (
        embedding_near_pairs,
    )

    rng = np.random.RandomState(7)
    base = rng.normal(size=(30, 16))
    rows = [(i, base[i].tolist()) for i in range(30)]
    # ids 100..104 are near-copies of 0..4 (tiny perturbation): the
    # five planted near-dup pairs any method must find
    rows += [(100 + i, (base[i] + rng.normal(scale=0.01, size=16)).tolist())
             for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planted = {(i, 100 + i) for i in range(5)}

    exact = {(r["id_a"], r["id_b"]): r["sim"]
             for r in embedding_near_pairs(emb, threshold=0.95, method="exact").collect()}
    assert set(exact) == planted
    assert all(s > 0.99 for s in exact.values())

    lsh = {(r["id_a"], r["id_b"]): r["sim"]
           for r in embedding_near_pairs(
               emb, threshold=0.95, method="lsh", n_tables=10, n_bits=6).collect()}
    # LSH is a recall<=1 subset of exact with identical sims
    assert set(lsh) <= set(exact)
    assert len(lsh) >= 4  # >= 80% recall on the planted pairs
    for k, v in lsh.items():
        assert abs(v - exact[k]) < 1e-9

    # hot-bucket cap: 50 identical vectors -> every (table, bucket)
    # they share exceeds the cap -> their pairs are suppressed
    clones = spark.createDataFrame(
        [(i, base[0].tolist()) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    capped = embedding_near_pairs(
        clones, threshold=0.95, method="lsh", n_tables=4, n_bits=6,
        max_bucket_df=10,
    )
    assert capped.count() == 0

    with pytest.raises(ValueError, match="method"):
        embedding_near_pairs(emb, method="bogus")


# ------------------------------------------- review-pass regressions

def test_embedding_near_pairs_excludes_zero_norm_and_null(spark):
    """Zero-norm / null embeddings have no cosine direction: they must
    not appear in any pair (0/0 -> NaN passes `>=` under Spark's NaN
    ordering, and all-zero sign buckets manufacture N^2 candidates)."""
    from neo4j_graph_algorithms_spark.pipeline.similarity import embedding_near_pairs

    rng = np.random.RandomState(7)
    base = rng.normal(size=(6, 8))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, base[i].tolist()) for i in range(6)] + [
        (100, [0.0] * 8), (101, None),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for method in ("exact", "lsh"):
        got = embedding_near_pairs(emb, threshold=-1.0, method=method).collect()
        ids = {r["id_a"] for r in got} | {r["id_b"] for r in got}
        assert 100 not in ids and 101 not in ids, method
        assert all(r["sim"] == r["sim"] for r in got), method  # no NaN


def test_embedding_near_pairs_empty_input(spark):
    from neo4j_graph_algorithms_spark.pipeline.similarity import embedding_near_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = embedding_near_pairs(empty, method="lsh")
    assert out.count() == 0
    assert set(out.columns) == {"id_a", "id_b", "sim"}


def test_compact_id_type_intmax_inclusive(spark):
    """INT_MAX itself fits int32 — the bound is inclusive."""
    df = spark.createDataFrame([((1 << 31) - 1, 0)], "src long, dst long")
    assert compact_id_type(df) == "int"
    df2 = spark.createDataFrame([((1 << 31), 0)], "src long, dst long")
    assert compact_id_type(df2) == "long"
