"""Multi-source BFS engine + the centralities built on it.

Reference: bit-parallel MS-BFS — ω=32 sources tracked per machine word,
per VLDB'15 "The More the Merrier" (`impl/msbfs/MultiSourceBFS.java:33-79`,
bitsets `BiMultiBitSet32.java`, `MultiBitSet32.java`). Consumers:

- `algo.closeness` — farness accumulated per depth, C(v) = (n-1)/farness
  (`impl/MSClosenessCentrality.java:43-95`; fixture
  `tests/.../impl/ClosenessCentralityTest.java:73`)
- `algo.harmonic` — Σ 1/depth, normalized by (n-1)
  (`impl/MSHarmonicCentrality.java:55-79`; fixture
  `tests/.../impl/HarmonicCentralityTest.java:126-131` implies BOTH
  traversal: a→b→c / d→e yields [0.375, 0.5, 0.375, 0.25, 0.25])
- `algo.allShortestPaths.stream` unweighted — (source, target, depth)
  rows (`impl/MSBFSAllShortestPaths.java`)

Spark rebuild: the per-word bitset becomes a LongType `mask` column —
64 sources per batch (vs the reference's 32 per int) — and batches
advance together in BOUNDED WAVES of ``wave_size`` sources: within a
wave the frontier DataFrame is keyed ``(batch, node, mask)``, so one
`edges ⨝ frontier` + `groupBy(batch, node).agg(bit_or(mask))` per depth
serves every in-flight batch at once, while peak `visited` state is
O(V · wave_size/64) rows instead of O(V²/64) — the Spark analogue of
the reference streaming its 32-source batches rather than holding every
batch's state simultaneously. Per-depth shuffle volume is O(frontier),
edges stay cached and hash-partitioned. `visited` is a second
(batch, node, seen_mask) frame updated with the same cadence
(localCheckpoint truncation as in PageRank).

Both public variants (`ms_bfs_depths`, `all_shortest_paths`) run on ONE
shared wave engine (`_run_wave_bfs`) parameterized by the per-depth
emit; they differ only in what each settled frontier contributes to the
output. Output accumulation is LAZY: every per-depth contribution is a
cheap projection of the once-checkpointed frontier frame, collected in
a Python list and unioned at the end — the accumulated result set is
never re-materialized per depth (the old union+localCheckpoint pattern
rewrote O(depth × settled) rows; on a diameter-D graph that is D full
copies of an up-to-O(V²/64) result). A periodic fold (every
``_FOLD_EVERY`` frames) bounds plan width on very deep graphs at an
amortized O(state·D/fold) — never the per-depth rewrite.

Ids are int-compressed when the snapshot's ids fit int32
(graph.id_type(), the cached Heavy-vs-Huge analogue): the per-depth
expand join and bit_or agg shuffle (batch, node, mask) tuples, and the
node column dropping 8→4 bytes cuts the moved bytes by a quarter on
this memory-bandwidth-bound workload. Outputs are cast back to long.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph, distributed_rank, undirect
from ..plans.checkpointing import adaptive_disabled, check_termination, releasing, truncate_plan

# fold the pending lazy result frames into one checkpoint once the list
# grows past this many entries: keeps the final union plan flat/bounded
# on 1000-depth graphs while typical (depth < fold) runs never rewrite
_FOLD_EVERY = 128


def _number_sources(src_nodes: DataFrame) -> DataFrame:
    """(id, batch, bit): assign each source a 64-wide batch slot.

    Dense fast path: when the id range is at most 2× the source count
    (dense or nearly-dense ids — the normal case after `densify_ids` or
    `spark.range`), batch/bit derive ARITHMETICALLY from the id
    (`batch = (id-min) div 64`, `bit = (id-min) mod 64`) — a pure
    projection, no shuffle at all. Sparse ids fall back to the
    distributed two-level rank scan (`graph.distributed_rank`) —
    parallel bucket windows + broadcast bases, never a global
    single-partition window.
    """
    stats = src_nodes.agg(
        F.min("id").alias("mn"), F.max("id").alias("mx"), F.count("*").alias("n")
    ).collect()[0]
    n = stats["n"] or 0
    if n and (stats["mx"] - stats["mn"] + 1) <= 2 * n:
        base = int(stats["mn"])
        off = F.col("id") - F.lit(base)
        return src_nodes.select(
            "id",
            F.floor(off / 64).cast("int").alias("batch"),
            F.pmod(off, F.lit(64)).cast("int").alias("bit"),
        )
    return distributed_rank(src_nodes.select("id"), "id").select(
        "id",
        F.floor(F.col("_rank") / 64).cast("int").alias("batch"),
        F.pmod(F.col("_rank"), F.lit(64)).cast("int").alias("bit"),
    )


def _sym_edges(graph: Graph, direction: str) -> DataFrame:
    if direction == "out":
        return graph.edges.select("src", "dst")
    if direction == "in":
        return graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return undirect(graph.edges).select("src", "dst")


#: peak traversal-state row budget used by wave_size="auto": the wave
#: is sized so visited ≈ V · wave/64 rows stays under this — a 5k-node
#: graph runs all sources in ONE wave (every extra wave is a full
#: sequential BFS pass, pure latency), a 1B-node graph gets the floor
#: of one 64-source batch and the same bounded state.
_AUTO_STATE_BUDGET_ROWS = 32_000_000


def _auto_wave_size(n_nodes: int, n_sources: int) -> int:
    return max(64, min(max(n_sources, 1), 64 * _AUTO_STATE_BUDGET_ROWS // max(n_nodes, 1)))


def _wave_ranges(numbered: DataFrame, wave_size: int | None) -> list[tuple[int, int]]:
    """Split the numbered source batches into waves of
    ``ceil(wave_size/64)`` batches each (``wave_size=None`` → one wave).

    The wave loop is what bounds peak traversal state: with all batches
    advancing together the `visited` frame is O(V · n_batches) rows
    (O(V²/64) from all-nodes sources); per wave it is O(V · wave/64) —
    the same bound the reference gets by streaming its 32-source batches
    one at a time (`impl/msbfs/MultiSourceBFS.java:33-79`). Results are
    per-source-disjoint, so waves compose by pure union/sum."""
    mx = numbered.agg(F.max("batch")).collect()[0][0]
    if mx is None:
        return []
    n_batches = int(mx) + 1
    wb = n_batches if wave_size is None else max(1, wave_size // 64)
    return [(lo, min(lo + wb, n_batches)) for lo in range(0, n_batches, wb)]


def _run_wave_bfs(
    graph: Graph,
    direction: str,
    sources: DataFrame | None,
    max_depth: int | None,
    termination,
    wave_size: int | str | None,
    emit: Callable[[DataFrame, int, DataFrame], DataFrame],
    out_schema: str,
) -> DataFrame:
    """Shared MS-BFS wave engine.

    Runs the bitmask frontier loop (expand → mask off seen → settle)
    wave by wave; for every settled per-depth frontier ``nxt`` it calls
    ``emit(nxt, depth, wave_numbered)`` and collects the returned frame
    (a LAZY projection of the already-checkpointed ``nxt`` /
    ``wave_numbered`` — emit must not trigger jobs) into a list that is
    unioned once at the end. The cumulative output is therefore never
    re-materialized inside the depth loop; only the O(wave-state)
    ``visited``/``frontier`` folds checkpoint per depth.
    """
    spark = graph.edges.sparkSession
    id_t = graph.id_type()
    edges = _sym_edges(graph, direction)
    if id_t == "int":
        edges = edges.select(
            F.col("src").cast("int").alias("src"), F.col("dst").cast("int").alias("dst")
        )
    n_parts = spark.sparkContext.defaultParallelism
    edges = edges.repartition(n_parts, "src").persist()
    edges.count()
    with releasing(spark, [edges]):
        src_nodes = sources if sources is not None else graph.nodes.select("id")
        if id_t == "int":
            src_nodes = src_nodes.select(F.col("id").cast("int").alias("id"))
        numbered = _number_sources(src_nodes).localCheckpoint(eager=True)
        if wave_size == "auto":
            wave_size = _auto_wave_size(graph.node_count(), numbered.count())
        waves = _wave_ranges(numbered, wave_size)

        frames: list[DataFrame] = []

        def fold_if_wide() -> None:
            # bound the pending-union plan width on very deep graphs; the
            # amortized rewrite is O(state · depth/_FOLD_EVERY), a 128×
            # improvement over the per-depth rewrite this replaced
            if len(frames) >= _FOLD_EVERY:
                acc = reduce(DataFrame.unionByName, frames)
                frames.clear()
                frames.append(truncate_plan(acc))

        with adaptive_disabled(spark):
            for lo, hi in waves:
                wave_numbered = (
                    numbered if len(waves) == 1
                    else numbered.filter(
                        (F.col("batch") >= lo) & (F.col("batch") < hi)
                    ).localCheckpoint(eager=True)
                )
                frontier = wave_numbered.select(
                    "batch", F.col("id").alias("node"),
                    F.expr("shiftleft(1L, bit)").alias("mask"),
                ).localCheckpoint(eager=True)
                visited = frontier.withColumnRenamed("mask", "seen")
                depth = 0
                while True:
                    check_termination(spark, termination, depth)
                    depth += 1
                    if max_depth is not None and depth > max_depth:
                        break
                    # expand: every frontier bit flows along the edges;
                    # drop bits already seen. The two per-depth state frames
                    # go through truncate_plan (NOT plain localCheckpoint):
                    # nxt references visited and visited references nxt — a
                    # diamond whose checkpoint-origin chain otherwise doubles
                    # per depth and hangs the driver in stats estimation
                    # beyond ~depth 20 (see plans/checkpointing.truncate_plan)
                    nxt = truncate_plan(
                        edges.join(frontier.withColumnRenamed("node", "src"), "src")
                        .groupBy("batch", F.col("dst").alias("node"))
                        .agg(F.bit_or("mask").alias("mask"))
                        .join(visited, ["batch", "node"], "left")
                        .select(
                            "batch", "node",
                            F.col("mask").bitwiseAND(F.bitwise_not(F.coalesce(F.col("seen"), F.lit(0).cast("long")))).alias("mask"),
                        )
                        .filter(F.col("mask") != 0)
                    )
                    if nxt.isEmpty():
                        break
                    frames.append(emit(nxt, depth, wave_numbered))
                    fold_if_wide()
                    visited = truncate_plan(
                        visited.join(nxt.withColumnRenamed("mask", "new"), ["batch", "node"], "full")
                        .select(
                            "batch", "node",
                            F.coalesce(F.col("seen"), F.lit(0).cast("long")).bitwiseOR(F.coalesce(F.col("new"), F.lit(0).cast("long"))).alias("seen"),
                        )
                    )
                    frontier = nxt
    if not frames:
        return spark.createDataFrame([], out_schema)
    return reduce(DataFrame.unionByName, frames)


def ms_bfs_depths(
    graph: Graph,
    direction: str = "both",
    sources: DataFrame | None = None,
    max_depth: int | None = None,
    termination=None,
    wave_size: int | str | None = "auto",
) -> DataFrame:
    """Run MS-BFS from every source (default: all nodes).

    Returns ``(node, depth, n_sources)``: how many sources reach `node`
    at shortest-path distance `depth` (depth ≥ 1). This is the exact
    aggregate both closeness (Σ depth·n) and harmonic (Σ n/depth)
    consume, without materializing the O(V²) pair list.

    ``wave_size`` bounds how many sources are in flight at once (see
    `_wave_ranges`); the output is identical for any wave size. The
    final groupBy collapses (batch, wave) multiplicity in ONE shuffle
    over the lazily-unioned per-depth frames (the per-depth pre-agg +
    per-depth accumulator rewrite this replaced paid a shuffle *and* a
    full result copy per depth).
    """

    def emit(nxt: DataFrame, depth: int, _wn: DataFrame) -> DataFrame:
        return nxt.select(
            "node", F.lit(depth).alias("depth"), F.bit_count("mask").alias("n_sources")
        )

    raw = _run_wave_bfs(
        graph, direction, sources, max_depth, termination, wave_size,
        emit, "node long, depth int, n_sources long",
    )
    return raw.groupBy(
        F.col("node").cast("long").alias("node"), "depth"
    ).agg(F.sum("n_sources").alias("n_sources"))


def closeness(graph: Graph, direction: str = "both") -> tuple[DataFrame, dict]:
    """C(v) = (n-1) / Σ_s d(s, v); 0 for unreachable/isolated nodes.

    Ref `impl/MSClosenessCentrality.java:43-95` — farness from MS-BFS,
    the (n-1) numerator regardless of component size.
    """
    t0 = time.time()
    n = graph.node_count()
    depths = ms_bfs_depths(graph, direction)
    farness = depths.groupBy(F.col("node").alias("id")).agg(
        F.sum(F.col("depth") * F.col("n_sources")).alias("farness")
    )
    result = graph.nodes.select("id").join(farness, "id", "left").select(
        "id",
        F.when(
            F.coalesce(F.col("farness"), F.lit(0)) > 0,
            F.lit(float(n - 1)) / F.col("farness"),
        ).otherwise(F.lit(0.0)).alias("centrality"),
    )
    return result, {"nodes": n, "computeMillis": int((time.time() - t0) * 1000)}


def harmonic(graph: Graph, direction: str = "both") -> tuple[DataFrame, dict]:
    """H(v) = (Σ_s 1/d(s, v)) / (n-1) — ref
    `impl/MSHarmonicCentrality.java:55-79`."""
    t0 = time.time()
    n = graph.node_count()
    depths = ms_bfs_depths(graph, direction)
    inv = depths.groupBy(F.col("node").alias("id")).agg(
        F.sum(F.col("n_sources") / F.col("depth")).alias("inv_sum")
    )
    result = graph.nodes.select("id").join(inv, "id", "left").select(
        "id",
        (F.coalesce(F.col("inv_sum"), F.lit(0.0)) / F.lit(float(max(n - 1, 1)))).alias("centrality"),
    )
    return result, {"nodes": n, "computeMillis": int((time.time() - t0) * 1000)}


def all_shortest_paths(
    graph: Graph, direction: str = "out", max_depth: int | None = None,
    termination=None, wave_size: int | str | None = "auto",
) -> DataFrame:
    """Unweighted all-pairs (source, target, depth) rows — the
    `algo.allShortestPaths.stream` MS-BFS variant
    (`impl/MSBFSAllShortestPaths.java`). O(V²) output by nature: the
    result stays distributed; callers filter/write rather than collect.

    Spark shape: the bitmask frontier can't carry *which* source each
    bit is without the source numbering, so this variant re-joins the
    per-depth frontier against the (batch, bit) → source map and
    explodes set bits (`F.filter` over a 0..63 sequence — JVM-side,
    no Python row loop). ``wave_size`` bounds in-flight sources (see
    `_wave_ranges`); waves partition the sources, so their row sets are
    disjoint and the union is the exact all-pairs answer. The per-depth
    pair frames are lazy projections of the checkpointed frontiers,
    unioned once — critical here, where the accumulated output is
    O(V²) rows and the old per-depth rewrite was O(diameter · V²).
    """

    def emit(nxt: DataFrame, depth: int, wave_numbered: DataFrame) -> DataFrame:
        # explode set bits → (batch, bit) → join back to source ids
        hits = nxt.select(
            "batch", "node",
            F.explode(
                F.expr("filter(sequence(0, 63), b -> (mask & shiftleft(1L, b)) != 0)")
            ).alias("bit"),
        )
        return hits.join(wave_numbered, ["batch", "bit"]).select(
            F.col("id").cast("long").alias("source"),
            F.col("node").cast("long").alias("target"),
            F.lit(depth).alias("depth"),
        )

    return _run_wave_bfs(
        graph, direction, None, max_depth, termination, wave_size,
        emit, "source long, target long, depth int",
    )
