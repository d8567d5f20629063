"""The benchmark's workloads: a seeded input generator, the operation
timed on that input, and the check of the operation's output.

Every workload is a closed loop from one process: the next operation
starts when the previous one has returned and been checked. The program
reads only the parquet the generator wrote.

Why each workload exists:

- ``pagerank_converge`` isolates the delta-push superstep and the fold
  path of ``operators.pagerank`` with no ingest: a chain (large
  diameter, cut by seeded long-range links) plus Zipf-skewed hub
  in-degree, run to a max-delta tolerance with the default ``fuse``.
  The fold steps are part of the timed call.
- ``repo_ingest_suite`` is the north-star job minus PageRank: a
  repo-file table with realistic content sizes goes through the Arrow
  UDF of ``sources.link_extract``, then ``Graph.from_edges(dedup=True)``,
  then WCC and label propagation with a durable ``checkpoint_dir``, then
  triangle counting. It puts the ingest UDF and the durable checkpoint
  writes next to three kernel shapes: a frontier fixpoint, vote windows
  and a wedge join. It ends with the corpus dedup step,
  ``minhash_lsh_pairs`` then ``dup_clusters`` over a document table with
  planted exact and near copies, where the MinHash Python UDF dominates.
  Dedup has no workload of its own because a third workload's runs would
  not fit the benchmark's time budget with a warmed-up JVM.

Sizes are chosen so one operation takes seconds (PageRank) to tens of
seconds (ingest) on a 4-core host; per-superstep cost at this size is mostly scheduling and fold overhead,
which is what the superstep-driver and fold work is judged on.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import twins

# ---- pagerank_converge ---------------------------------------------------

PR_NODES = 3_000
PR_HUBS = 32
PR_HUB_TOP = 48         # in-degree of the top hub; hub k gets PR_HUB_TOP / k
PR_LONG = 900           # uniform long-range links: they set the diameter
PR_DAMPING = 0.85
PR_SUPERSTEPS = 5       # supersteps to the tolerance, on every seed: one fused block

# ---- repo_ingest_suite ----------------------------------------------------

RI_FILES = 600
RI_REPOS = 150           # 4 files each: short import chains keep the WCC rounds few
RI_ISOLATED_REPOS = 15   # repos with no hub or long-range links: extra components
RI_HUBS = 16
RI_HUB_P = 1.0           # share of linked files importing a hub: all, for a small diameter
RI_LONG_P = 0.15         # share of linked files importing a uniform random file
RI_EXTERNAL_P = 0.3      # share of files importing a path outside the snapshot
RI_CONTENT_MEDIAN = 1200  # bytes of body per file, lognormal
RI_LPA_ITERATIONS = 1
RI_CHECKPOINT_EVERY = 5
LANGS = {  # lang: (extension, share, import line format)
    "python": ("py", 0.6, "import {}"),
    "c": ("c", 0.25, '#include "{}"'),
    "go": ("go", 0.15, 'import "{}"'),
}

# ---- repo_ingest_suite: dedup corpus ------------------------------------------

DD_DOCS = 100            # distinct originals
DD_EXACT_P = 0.05        # share of originals with a planted exact copy
DD_NEAR_P = 0.15         # share of originals with a planted near copy
DD_DOC_BYTES = 600
DD_NEAR_EDITS = 3        # characters replaced in a near copy

_WORDS = None


def _vocabulary() -> np.ndarray:
    """Fixed pseudo-identifier vocabulary (same for every seed)."""
    global _WORDS
    if _WORDS is None:
        rng = np.random.default_rng(12345)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz_"))
        _WORDS = np.array([
            "".join(rng.choice(letters, rng.integers(3, 10))) for _ in range(4000)
        ])
    return _WORDS


def _text(rng: np.random.Generator, n_bytes: int) -> str:
    """Code-like body of about ``n_bytes``; no line starts with an import."""
    words = rng.choice(_vocabulary(), (n_bytes // 30 + 1, 6))
    return "\n".join(f"    {w[0]} = {w[1]}({w[2]}, {w[3]}) + {w[4]}.{w[5]}" for w in words)


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path)


@dataclass
class Inputs:
    """What the generator wrote, plus what the checks compare against."""

    tables: dict                                # table name -> parquet path
    facts: dict = field(default_factory=dict)   # input sizes reported as layer counts
    ref: dict = field(default_factory=dict)     # twin results, computed once


# ---- generators ---------------------------------------------------------------


def _pagerank_edges(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    n = PR_NODES
    chain = np.arange(n - 1)
    src, dst = [chain], [chain + 1]
    # hub in-degrees are fixed by rank, so the superstep count to the
    # tolerance barely moves with the seed; which nodes link does move
    hub_in = (PR_HUB_TOP / np.arange(1, PR_HUBS + 1)).astype(np.int64)
    hubs = rng.choice(n, PR_HUBS, replace=False)
    src.append(rng.choice(n, int(hub_in.sum()), replace=False))
    dst.append(np.repeat(hubs, hub_in))
    src.append(rng.integers(0, n, PR_LONG))
    dst.append(rng.integers(0, n, PR_LONG))
    s, d = np.concatenate(src), np.concatenate(dst)
    e = np.unique(np.stack([s[s != d], d[s != d]], 1), axis=0)
    return e[:, 0].astype(np.int64), e[:, 1].astype(np.int64)


def gen_pagerank(seed: int, out_dir: str) -> Inputs:
    rng = np.random.default_rng(seed)
    # the tolerance sits between the largest delta of the last superstep
    # and the smallest of the earlier ones' largest deltas, so every seed
    # converges after the same number of supersteps. The largest delta
    # is not monotone (mass piles up at hubs), so a draw with no such gap
    # is redrawn from the same generator
    while True:
        s, d = _pagerank_edges(rng)
        md = twins.pagerank_max_deltas(s, d, PR_NODES, PR_SUPERSTEPS, PR_DAMPING)
        if md[:-1].min() > md[-1]:
            break
    inp = Inputs({"edges": os.path.join(out_dir, "edges.parquet")})
    _write({"src": s, "dst": d}, inp.tables["edges"])
    inp.ref = {"src": s, "dst": d, "ranks": {},
               "tolerance": float(np.sqrt(md[:-1].min() * md[-1]))}
    return inp


def gen_repo_files(seed: int, out_dir: str) -> Inputs:
    rng = np.random.default_rng(seed)
    n, per_repo = RI_FILES, RI_FILES // RI_REPOS
    repo = np.arange(n) // per_repo
    lang_names = list(LANGS)
    shares = np.array([LANGS[lg][1] for lg in lang_names])
    lang = np.array(lang_names)[rng.choice(len(lang_names), n, p=shares / shares.sum())]
    paths = np.array([
        f"src/r{r}/m{i}.{LANGS[lg][0]}" for i, (r, lg) in enumerate(zip(repo, lang))
    ])
    isolated = repo >= RI_REPOS - RI_ISOLATED_REPOS
    linked = np.nonzero(~isolated)[0]
    hubs = rng.choice(linked, RI_HUBS, replace=False)
    hub_w = 1.0 / np.arange(1, RI_HUBS + 1)
    hub_w /= hub_w.sum()

    # fixed counts of importing files, so every seed has the same amount
    # of each kind of link; which files and which targets vary
    def some(pool, share):
        return set(rng.choice(pool, round(share * len(pool)), replace=False).tolist())

    hub_importers, long_importers = some(linked, RI_HUB_P), some(linked, RI_LONG_P)
    ext_importers = some(np.arange(n), RI_EXTERNAL_P)

    contents, src, dst = [], [], []
    for i in range(n):
        targets = []
        # the next two files of the same repo: one triangle per triple
        for k in (1, 2):
            j = i + k
            if j < n and repo[j] == repo[i]:
                targets.append(paths[j])
                src.append(i)
                dst.append(j)
        picks = []
        if i in hub_importers:
            picks.append(int(hubs[rng.choice(RI_HUBS, p=hub_w)]))
        if i in long_importers:
            picks.append(int(rng.choice(linked)))
        for j in picks:
            if j != i:
                targets.append(paths[j])
                src.append(i)
                dst.append(j)
        if i in ext_importers:
            targets.append(f"ext/lib{int(rng.integers(0, 50))}.py")
        fmt = LANGS[lang[i]][2]
        body = _text(rng, int(rng.lognormal(np.log(RI_CONTENT_MEDIAN), 0.6)))
        header = "\n".join(fmt.format(t) for t in targets)
        contents.append(f"// module {i}\n{header}\n{body}\n")

    content_bytes = sum(len(c.encode()) for c in contents)
    inp = gen_corpus(seed, out_dir)
    inp.tables["files"] = os.path.join(out_dir, "files.parquet")
    _write({
        "repo": [f"r{r}" for r in repo],
        "path": paths.tolist(),
        "commit": [hashlib.sha256(str(i).encode()).hexdigest() for i in range(n)],
        "lang": lang.tolist(),
        "content": contents,
    }, inp.tables["files"])
    e = np.unique(np.stack([src, dst], 1), axis=0)
    inp.facts = {
        "sources.link_extract.files": n,
        "sources.link_extract.input_mb": content_bytes / 2**20,
    }
    # node ids are the program's hash of the path; the map from file index
    # to id is filled in by the caller once a session exists
    inp.ref.update({"paths": paths, "src_idx": e[:, 0], "dst_idx": e[:, 1], "lpa": {}})
    return inp


def gen_corpus(seed: int, out_dir: str) -> Inputs:
    rng = np.random.default_rng(seed)
    texts = [_text(rng, DD_DOC_BYTES) for _ in range(DD_DOCS)]
    # fixed copy counts, each original copied at most once: every seed has
    # the same number of pair clusters, all of size two
    n_exact, n_near = round(DD_EXACT_P * DD_DOCS), round(DD_NEAR_P * DD_DOCS)
    picked = rng.choice(DD_DOCS, n_exact + n_near, replace=False)
    planted = picked.tolist()
    for orig in picked[:n_exact]:
        texts.append(texts[orig])
    for orig in picked[n_exact:]:
        chars = list(texts[orig])
        # edit inside identifiers only, never the layout
        pos = [p for p in rng.choice(len(chars), 4 * DD_NEAR_EDITS, replace=False)
               if chars[p].isalpha()][:DD_NEAR_EDITS]
        for p in pos:
            chars[p] = "z" if chars[p] != "z" else "y"
        texts.append("".join(chars))
    # ids are a seeded permutation: a copy's id says nothing about its original
    order = rng.permutation(len(texts))
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[order] = np.arange(len(texts))
    inp = Inputs({"docs": os.path.join(out_dir, "docs.parquet")})
    _write({"doc_id": doc_id, "text": texts}, inp.tables["docs"])
    orig_ids = doc_id[np.array(planted, dtype=np.int64)]
    copy_ids = doc_id[DD_DOCS:]
    inp.ref = {
        "doc_ids": np.sort(doc_id),
        "planted": set(zip(np.minimum(orig_ids, copy_ids).tolist(),
                           np.maximum(orig_ids, copy_ids).tolist())),
    }
    return inp


# ---- operations -------------------------------------------------------------
#
# Each operation reads the input parquet, calls the package through its
# public API with every layer call inside a tracer span (a no-op when
# tracing is off), forces and collects the result, and returns
# (counts, check), where check() -> list of failure strings.


def _pagerank_op(spark, tr, inp: Inputs, work: str):
    from neo4j_graph_algorithms_spark.graph import Graph
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    with tr.span("graph"):
        g = Graph.from_edges(spark.read.parquet(inp.tables["edges"])).cache()
        n_edges = g.edges.count()
        n_nodes = g.nodes.count()
    with tr.span("operators.pagerank"):
        t0 = time.perf_counter()
        ranks, stats = pagerank(
            g, damping=PR_DAMPING, tolerance=inp.ref["tolerance"],
            max_iterations=1000,
        )
        pr_s = time.perf_counter() - t0
        got = ranks.toPandas()
    g.release()
    hist = stats["history"]
    steps = stats["iterations"]
    push = [h["secs"] for h in hist if not h["folded"]]
    folded = [h["secs"] for h in hist if h["folded"]]
    # a fold step also pushes: charge it the median push and the rest to the fold
    push_med = float(np.median(push)) if push else 0.0
    fold_s = sum(max(0.0, s - push_med) for s in folded)
    counts = {
        "graph.nodes": n_nodes,
        "graph.edges": n_edges,
        "operators.pagerank.supersteps": steps,
        "operators.pagerank.folds": len(folded),
        "operators.pagerank.fold_s": fold_s,
        "operators.pagerank.push_s": sum(push) + len(folded) * push_med,
        "operators.pagerank.edges_per_s": n_edges * steps / pr_s,
    }

    def check():
        ref = inp.ref
        if steps not in ref["ranks"]:
            ref["ranks"][steps] = twins.pagerank_delta_push(
                ref["src"], ref["dst"], PR_NODES, steps, PR_DAMPING)
        want = ref["ranks"][steps]
        got_sorted = got.sort_values("id")
        bad = []
        if not np.array_equal(got_sorted["id"].to_numpy(), np.arange(PR_NODES)):
            bad.append("pagerank: node set differs")
        elif not np.allclose(got_sorted["rank"].to_numpy(), want, rtol=0, atol=1e-6):
            err = np.abs(got_sorted["rank"].to_numpy() - want).max()
            bad.append(f"pagerank: max |rank - twin| = {err:.3g} after {steps} supersteps")
        if not (stats["didConverge"] and steps == PR_SUPERSTEPS):
            bad.append(f"pagerank: stopped after {steps} supersteps, "
                       f"the twin converges after {PR_SUPERSTEPS}")
        return bad

    return counts, check


def _series_equal(name: str, got: pd.DataFrame, col: str, want: pd.Series) -> list[str]:
    got = got.set_index("id")[col].sort_index()
    if not np.array_equal(got.index.to_numpy(), want.index.to_numpy()):
        return [f"{name}: node set differs ({len(got)} vs {len(want)} nodes)"]
    diff = int((got.to_numpy() != want.to_numpy()).sum())
    return [f"{name}: {diff} of {len(want)} nodes differ"] if diff else []


def _ingest_op(spark, tr, inp: Inputs, work: str):
    from neo4j_graph_algorithms_spark.graph import Graph
    from neo4j_graph_algorithms_spark.operators import label_propagation as lpa_mod
    from neo4j_graph_algorithms_spark.operators import triangles as tri_mod
    from neo4j_graph_algorithms_spark.operators import wcc as wcc_mod
    from neo4j_graph_algorithms_spark.sources import link_extract as lx

    ck = os.path.join(work, "checkpoints")
    shutil.rmtree(ck, ignore_errors=True)
    files = spark.read.parquet(inp.tables["files"])
    with tr.span("sources.link_extract"):
        links = lx.extract_links(files).persist()
        n_links = links.count()
        edges = lx.edges_from_links(links, files).persist()
        edges.count()
    with tr.span("graph"):
        g = Graph.from_edges(edges, dedup=True).cache()
        n_edges = g.edges.count()
        n_nodes = g.nodes.count()
    links.unpersist()
    edges.unpersist()
    with tr.span("operators.wcc"):
        comp, _ = wcc_mod.wcc(
            g, checkpoint_dir=os.path.join(ck, "wcc"),
            checkpoint_every=RI_CHECKPOINT_EVERY)
        comp = comp.toPandas()
    with tr.span("operators.label_propagation"):
        labels, lst = lpa_mod.label_propagation(
            g, iterations=RI_LPA_ITERATIONS, checkpoint_dir=os.path.join(ck, "lpa"),
            checkpoint_every=RI_CHECKPOINT_EVERY)
        labels = labels.toPandas()
    with tr.span("operators.triangles"):
        tri, tst = tri_mod.triangle_count(g)
        tri = tri.select("id", "triangles").toPandas()
    g.release()
    shutil.rmtree(ck, ignore_errors=True)
    dedup_counts, dedup_check = _dedup_stage(spark, tr, inp)
    lpa_iters = lst["ranIterations"]
    lpa_changed = sum(h.get("changed", 0) for h in lst["history"])
    counts = {
        "sources.link_extract.links": n_links,
        "graph.nodes": n_nodes,
        "graph.edges": n_edges,
        "operators.label_propagation.iterations": lpa_iters,
        "operators.label_propagation.changed_frac":
            lpa_changed / max(1, lpa_iters * n_nodes),
        "operators.triangles.triangles": tst["triangleCount"],
        **dedup_counts,
    }

    def check():
        ref = inp.ref
        if lpa_iters not in ref["lpa"]:
            ref["lpa"][lpa_iters] = twins.label_propagation(ref["src"], ref["dst"], lpa_iters)
        return (
            _series_equal("wcc", comp, "component", ref["wcc"])
            + _series_equal("label_propagation", labels, "label", ref["lpa"][lpa_iters])
            + _series_equal("triangles", tri, "triangles", ref["triangles"])
            + dedup_check()
        )

    return counts, check


def _dedup_stage(spark, tr, inp: Inputs):
    from neo4j_graph_algorithms_spark.pipeline import dedup

    docs = spark.read.parquet(inp.tables["docs"])
    with tr.span("pipeline.dedup"):
        pairs = dedup.minhash_lsh_pairs(docs)
        pairs_pd = pairs.select("id_a", "id_b").toPandas()
        clusters = dedup.dup_clusters(docs, pairs).toPandas()
    found = set(zip(pairs_pd["id_a"].tolist(), pairs_pd["id_b"].tolist()))
    planted = inp.ref["planted"]
    recall = len(planted & found) / max(1, len(planted))
    sizes = clusters.groupby("cluster_id").size()
    counts = {
        "pipeline.dedup.pairs": len(pairs_pd),
        "pipeline.dedup.clusters": int((sizes > 1).sum()),
        "pipeline.dedup.planted_recall": recall,
    }

    def check():
        bad = []
        if recall < 1.0:
            bad.append(f"dedup: planted-copy recall {recall:.4f}")
        if not (pairs_pd["id_a"] < pairs_pd["id_b"]).all():
            bad.append("dedup: a pair has id_a >= id_b")
        want = twins.union_find_clusters(
            inp.ref["doc_ids"], pairs_pd["id_a"].to_numpy(), pairs_pd["id_b"].to_numpy())
        want.index.name = "id"
        bad += _series_equal("dup_clusters", clusters, "cluster_id", want)
        return bad

    return counts, check


def _pagerank_reference(spark, inp: Inputs) -> None:
    ref = inp.ref
    ref["ranks"][PR_SUPERSTEPS] = twins.pagerank_delta_push(
        ref["src"], ref["dst"], PR_NODES, PR_SUPERSTEPS, PR_DAMPING)


def _ingest_reference(spark, inp: Inputs) -> None:
    """Twins for ``repo_ingest_suite``, keyed by the program's node ids.

    The program ids a file by Spark's ``xxhash64`` of its path
    (``file_ids(scope="global")``); the map is taken from that builtin,
    not from the package, and every twin runs on the generator's own
    link list.
    """
    from pyspark.sql import functions as F

    ref = inp.ref
    ids = (
        spark.createDataFrame(pd.DataFrame({"path": ref["paths"]}))
        .select(F.xxhash64("path").alias("id")).toPandas()["id"].to_numpy()
    )
    ref["src"], ref["dst"] = ids[ref["src_idx"]], ids[ref["dst_idx"]]
    ref["wcc"] = twins.min_label_components(ref["src"], ref["dst"])
    ref["triangles"] = twins.triangles_per_node(ref["src"], ref["dst"])
    ref["lpa"][RI_LPA_ITERATIONS] = twins.label_propagation(
        ref["src"], ref["dst"], RI_LPA_ITERATIONS)


@dataclass(frozen=True)
class Workload:
    generate: Callable   # (seed, output dir) -> Inputs
    reference: Callable  # (spark, Inputs) -> None; fills Inputs.ref with twins
    op: Callable         # (spark, tracer, Inputs, work dir) -> (counts, check)


# why each exists: see the module docstring and BENCHMARK.json
WORKLOADS = {
    "pagerank_converge": Workload(gen_pagerank, _pagerank_reference, _pagerank_op),
    "repo_ingest_suite": Workload(gen_repo_files, _ingest_reference, _ingest_op),
}
