"""Betweenness centrality — `algo.betweenness` (+ `.sampled` RA-Brandes,
+ depth-limited).

Reference: Brandes' algorithm, unweighted BFS DAG + dependency
accumulation (`impl/betweenness/BetweennessCentrality.java:20-40`,
parallel per-source `ParallelBetweennessCentrality.java`, sampled
`RABrandesBetweennessCentrality.java:177` — scale f = n/|selected| —
with source selection strategies `RandomSelectionStrategy.java`
(uniform) and `RandomDegreeSelectionStrategy.java:59-63` (select node
with probability degree/maxDegree), depth-limited
`MaxDepthBetweennessCentrality.java:125-145` — nodes beyond maxDepth
are never expanded nor back-propagated). Fixture
`tests/.../impl/BetweennessCentralityTest.java:57-66,159-163`:
directed path a→b→c→d→e → centrality [0, 3, 4, 3, 0].

Spark rebuild — batched Brandes in BOUNDED WAVES:

- sources are hashed into waves of ≤ `wave_size`; each wave runs the
  full forward+backward Brandes with all its sources advancing together,
  then folds its per-node dependency sums into a running accumulator.
  Peak state is O(V·wave_size) rows — the knob that keeps the per-pair
  frontier from becoming O(V²) at scale — while each wave still
  amortizes every depth step over `wave_size` sources in one join.
- forward phase (per wave): frontier keyed (source, node) carrying σ
  (shortest-path counts); per depth one `edges ⨝ frontier` +
  `groupBy(source, dst).sum(σ)`.
- backward phase: depths descending; δ(v) += σv/σw·(1+δw) pulled from
  depth-(d+1) successors — one join + agg per depth.
- `sample` < 1.0 runs RA-Brandes (`strategy="random"`: Bernoulli;
  `strategy="degree"`: P(v) = degree(v)/maxDegree, the reference's
  hub-biased selector); scores scale by n/|selected|.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph, degrees
from ..plans.checkpointing import adaptive_disabled, check_termination, releasing, truncate_plan


def _select_sources(
    graph: Graph,
    direction: str,
    sample: float | None,
    strategy: str,
    seed: int,
) -> tuple[DataFrame, float, int]:
    """(sources, scale, n_sources) per the reference's strategies."""
    # validate up front: a typo'd strategy must raise identically
    # whether or not `sample` is set (it used to fall through to the
    # full exact run when sample was None)
    if strategy not in ("random", "degree"):
        raise ValueError(f"unknown selection strategy: {strategy!r}")
    n = graph.node_count()
    nodes = graph.nodes.select("id")
    if sample is None and strategy != "degree":
        return nodes, 1.0, n
    if strategy == "degree":
        # ref RandomDegreeSelectionStrategy.java:59-63 — P = deg/maxDeg,
        # optionally damped by `sample` as a multiplier
        deg = degrees(graph.edges, direction if direction in ("out", "in") else "both")
        mx = deg.agg(F.max("degree")).collect()[0][0] or 1
        mult = 1.0 if sample is None else float(sample)
        picked = (
            nodes.join(deg, "id", "left")
            .select("id", F.coalesce("degree", F.lit(0)).alias("degree"))
            .withColumn("_r", F.rand(seed))
            .filter(F.col("_r") <= F.lit(mult) * F.col("degree") / F.lit(float(mx)))
            .select("id")
        )
    elif strategy == "random":
        picked = nodes.sample(fraction=float(sample), seed=seed)
    else:
        raise ValueError(f"unknown selection strategy: {strategy!r}")
    picked = picked.localCheckpoint(eager=True)
    n_sel = picked.count()
    # ref RABrandesBetweennessCentrality.java:177: f = nodeCount/|selected|
    return picked, n / max(n_sel, 1), n_sel


def _brandes_wave(
    spark,
    edges: DataFrame,
    rev: DataFrame,
    wave_sources: DataFrame,
    max_depth: int | None,
    termination=None,
) -> tuple[DataFrame, int]:
    """One wave of batched Brandes → (contrib(node, dep), max depth).

    contrib holds Σ_sources δ(v) for this wave's sources (source≠node
    rows only).

    State discipline: the BFS DAG is kept as a Python list of PER-LAYER
    frames — ``layers[d]`` holds the wave's (source, node, sigma) rows
    settled at depth d, each checkpointed exactly ONCE when its depth
    completes. The forward anti-join probes the lazy union of those
    once-materialized layers (re-folded every `_SETTLED_FOLD` depths to
    bound plan width), so the cumulative settled set is never rewritten
    per depth — the old union+localCheckpoint-per-depth pattern copied
    O(depth × settled) rows. The backward pass improves the same way:
    in a BFS DAG every node's dependency δ is fully determined by layer
    d+1, so each layer's δ is FINALIZED in one join when its turn comes
    (one O(layer) write each, total O(settled)) instead of rewriting an
    O(settled) δ frame per descending depth.
    """
    layer0 = wave_sources.select(
        F.col("id").alias("source"), F.col("id").alias("node"), F.lit(1.0).alias("sigma")
    ).localCheckpoint(eager=True)
    layers: list[DataFrame] = [layer0]
    settled_keys = layer0.select("source", "node")
    _SETTLED_FOLD = 64
    frontier = layer0
    depth = 0
    while True:
        check_termination(spark, termination)
        if max_depth is not None and depth >= max_depth:
            # ref MaxDepthBetweennessCentrality.java:128: nodes beyond
            # maxDepth are neither expanded nor back-propagated
            break
        # truncate_plan, not plain localCheckpoint: nxt references the
        # settled union AND the previous layer — the diamond whose
        # checkpoint-origin chain otherwise grows exponentially with
        # depth (plans/checkpointing.truncate_plan)
        nxt = truncate_plan(
            edges.join(frontier.withColumnRenamed("node", "src"), "src")
            .groupBy("source", F.col("dst").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(settled_keys, ["source", "node"], "left_anti")
        )
        if nxt.isEmpty():
            break
        depth += 1
        layers.append(nxt)
        settled_keys = settled_keys.unionByName(nxt.select("source", "node"))
        if len(layers) % _SETTLED_FOLD == 0:
            settled_keys = truncate_plan(settled_keys)
        frontier = nxt

    # backward accumulation, depths descending: finalize one layer's δ
    # per step from the (already final) δ of the layer below it
    finalized: list[DataFrame] = []
    cur = layers[depth].withColumn("delta", F.lit(0.0))
    for d in range(depth, 0, -1):
        check_termination(spark, termination)
        # pull: for each predecessor edge (v -> w), v gains
        # σv/σw · (1 + δw); join via reversed edges
        contrib = (
            rev.join(
                cur.select(
                    "source", F.col("node").alias("src"),
                    F.col("sigma").alias("s_w"), F.col("delta").alias("d_w"),
                ),
                "src",
            )
            .select("source", F.col("dst").alias("node"), "s_w", "d_w")
            .join(
                layers[d - 1].select("source", "node", F.col("sigma").alias("s_v")),
                ["source", "node"],
            )
            .groupBy("source", "node")
            .agg(F.sum(F.col("s_v") / F.col("s_w") * (1.0 + F.col("d_w"))).alias("add"))
        )
        finalized.append(cur)
        cur = truncate_plan(
            layers[d - 1].join(contrib, ["source", "node"], "left")
            .select(
                "source", "node", "sigma",
                F.coalesce(F.col("add"), F.lit(0.0)).alias("delta"),
            )
        )
    finalized.append(cur)  # layer 0 (the sources themselves)
    all_delta = finalized[0].select("source", "node", "delta")
    for f in finalized[1:]:
        all_delta = all_delta.unionByName(f.select("source", "node", "delta"))
    wave_contrib = (
        all_delta.filter(F.col("source") != F.col("node"))
        .groupBy("node")
        .agg(F.sum("delta").alias("dep"))
    )
    return wave_contrib, depth


def betweenness(
    graph: Graph,
    direction: str = "out",
    sample: float | None = None,
    strategy: str = "random",
    seed: int = 42,
    max_depth: int | None = None,
    wave_size: int | None = None,
    state_budget_rows: int = 32_000_000,
    termination=None,
) -> tuple[DataFrame, dict]:
    """Returns (centrality(id, centrality), stats).

    ``wave_size`` bounds the number of sources simultaneously in flight:
    peak state O(V·wave_size) instead of O(V·S). Default (None) sizes
    waves from ``state_budget_rows``: wave = budget / V, clamped to
    [64, n_sources] — a 5k-node graph runs all sources in ONE wave
    (each extra wave is a full sequential forward+backward pass, pure
    latency), while a 1B-node graph gets the floor of 64 and the same
    bounded peak state. ``max_depth`` truncates each BFS DAG
    (depth-limited betweenness). ``sample``/``strategy`` select
    RA-Brandes source sampling.
    """
    spark = graph.edges.sparkSession
    t0 = time.time()
    n_parts = spark.sparkContext.defaultParallelism
    # int-id compression (cached Heavy-vs-Huge analogue, graph.id_type):
    # the per-depth expand join and the backward pull shuffle
    # (source, node) pairs — both columns halve on int32-safe ids
    id_t = graph.id_type()
    edges = graph.edges.select(
        F.col("src").cast(id_t).alias("src"), F.col("dst").cast(id_t).alias("dst")
    ).distinct()
    if direction == "both":
        edges = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    edges = edges.repartition(n_parts, "src").persist()
    edges.count()
    # dual-orientation cache: the backward-accumulation join keys on
    # rev's `src` (= the forward `dst` column), so a mere column swap of
    # the src-partitioned cache is physically partitioned on the WRONG
    # key and re-shuffles O(E) at every depth level of every wave.
    # Materializing the reversed table partitioned by its own join key
    # costs one extra cached copy and makes the backward pass
    # stationary too (standard push/pull dual of the CSR+CSC split).
    rev = (
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .repartition(n_parts, "src").persist()
    )
    rev.count()
    with releasing(spark, [edges, rev]):
        n = graph.node_count()
        sources, scale, n_sources = _select_sources(graph, direction, sample, strategy, seed)
        sources = sources.select(F.col("id").cast(id_t).alias("id"))
        if wave_size is None:
            wave_size = max(64, min(max(n_sources, 1), state_budget_rows // max(n, 1)))
        n_waves = max(1, -(-n_sources // wave_size))
        if n_waves > 1:
            sources = sources.withColumn("_wave", F.pmod(F.xxhash64("id"), F.lit(n_waves)))

        acc: DataFrame | None = None
        deepest = 0
        with adaptive_disabled(spark):
            for w in range(n_waves):
                wave_src = (
                    sources.filter(F.col("_wave") == w).select("id")
                    if n_waves > 1 else sources.select("id")
                )
                wave_contrib, d = _brandes_wave(spark, edges, rev, wave_src, max_depth, termination)
                deepest = max(deepest, d)
                if acc is None:
                    acc = truncate_plan(wave_contrib)
                else:
                    acc = truncate_plan(
                        acc.unionByName(wave_contrib)
                        .groupBy("node")
                        .agg(F.sum("dep").alias("dep"))
                    )
    result = acc.select(
        F.col("node").cast("long").alias("id"),
        (F.col("dep") * F.lit(scale)).alias("centrality"),
    )
    result = graph.nodes.select("id").join(result, "id", "left").select(
        "id", F.coalesce("centrality", F.lit(0.0)).alias("centrality")
    )
    stats = {
        "nodes": n,
        "sources": n_sources,
        "waves": n_waves,
        "maxDepth": deepest,
        "scaleFactor": scale,
        "computeMillis": int((time.time() - t0) * 1000),
    }
    return result, stats
