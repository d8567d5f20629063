"""Weighted shortest paths: SSSP (Bellman-Ford frontier), delta-stepping,
and single-pair path reconstruction.

Reference surface:

- `algo.shortestPaths(.stream)` — single-source all-targets Dijkstra
  (`impl/ShortestPaths.java:22-40`). A priority queue doesn't
  distribute; the Spark-native equivalent is frontier-relaxation
  (Bellman-Ford): each round relaxes only edges leaving improved nodes
  — `dist' = min(dist, min over in-edges(dist_src + w))` — identical
  fixpoint for non-negative weights.
- `algo.shortestPath.deltaStepping(.stream)` — bucketed relaxation with
  `delta` bucket width (`impl/ShortestPathDeltaSteppingTest.java:44`
  fixture: s→x = 8). Our rebuild keeps the bucket schedule (settle
  bucket b via light edges ≤ delta, then relax heavy edges once),
  which bounds the frontier to one distance band per phase — the same
  work-efficiency argument as the reference's bucket array.
- `algo.shortestPath(.stream)` — source→target path with per-hop rows
  (`impl/ShortestPathDijkstra.java:22-45`; fixture
  `tests/.../impl/ShortestPathDijkstraTest.java:54-149`: a→f =
  [a,c,e,d,f], cost 20). Distances via the same relaxation carrying a
  predecessor column; the path itself is walked back with ≤ path-length
  driver-side single-row lookups (inherently sequential output).
"""

from __future__ import annotations

import sys
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpointing import (
    SuperstepDriver, adaptive_disabled, check_termination, releasing, truncate_plan)

INF = float("inf")


def _prep_edges(graph: Graph, direction: str) -> DataFrame:
    # int-id compression (cached Heavy-vs-Huge analogue, graph.id_type):
    # every relaxation round joins edges against the frontier and
    # shuffles (id, distance) candidates — int32-safe ids halve the key
    # bytes. Public results cast back to long at the exit points.
    id_t = graph.id_type()
    e = graph.edges.select(
        F.col("src").cast(id_t).alias("src"),
        F.col("dst").cast(id_t).alias("dst"),
        "weight",
    )
    if direction == "in":
        e = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    elif direction == "both":
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
        )
    return e


def shortest_paths(
    graph: Graph,
    source: int,
    direction: str = "out",
    max_iterations: int = 10_000,
    with_predecessor: bool = False,
    termination=None,
) -> tuple[DataFrame, dict]:
    """Single-source distances: (id, distance[, pred]); unreachable
    nodes carry +inf (ref streams Infinity for them)."""
    spark = graph.edges.sparkSession
    loop = SuperstepDriver(spark, termination=termination)
    n_parts = spark.sparkContext.defaultParallelism
    edges = loop.persist(_prep_edges(graph, direction).repartition(n_parts, "src"))
    id_t = graph.id_type()

    def init():
        dist = loop.cache.step(graph.nodes.select(
            F.col("id").cast(id_t).alias("id"),
            F.when(F.col("id") == source, 0.0).otherwise(F.lit(INF)).alias("distance"),
            *( [F.lit(None).cast(id_t).alias("pred")] if with_predecessor else [] ),
        ), 0)
        return dist, dist.filter(F.col("distance") < INF)

    # loop state (dist, frontier): the frontier is the rows improved
    # last round, a filter over the same materialized frame as dist
    def superstep(it: int, st):
        dist, frontier = st
        cand = (
            edges.join(
                frontier.select(F.col("id").alias("src"), F.col("distance").alias("ds")),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.min(F.struct((F.col("ds") + F.col("weight")).alias("d"), F.col("src").alias("p"))).alias("best")
            )
            .select("id", F.col("best.d").alias("nd"), F.col("best.p").alias("np"))
        )
        merged = dist.join(cand, "id", "left")
        nd = F.coalesce(F.col("nd"), F.lit(INF))
        imp = nd < F.col("distance")
        improved_cols = ["id", F.when(imp, nd).otherwise(F.col("distance")).alias("distance")]
        if with_predecessor:
            improved_cols.append(F.when(imp, F.col("np")).otherwise(F.col("pred")).alias("pred"))
        improved_cols.append(imp.alias("_imp"))
        # origin-severed (the cache's truncate_plan): dist and frontier
        # both derive from `merged`, which references the previous
        # dist AND frontier — the diamond whose checkpoint-origin
        # chain otherwise grows exponentially with relaxation rounds
        # (a >20-hop weighted path would hang the driver in stats
        # estimation; see plans/checkpointing.truncate_plan)
        nxt = loop.cache.step(merged.select(*improved_cols), it)
        frontier = nxt.filter(F.col("_imp")).drop("_imp")
        return (nxt.drop("_imp"), frontier), {}, frontier.isEmpty()

    dist, _ = loop.run(max_iterations, init, None, superstep)
    stats = {"iterations": loop.ran, "computeMillis": loop.millis(), "history": loop.history}
    out_cols = [F.col("id").cast("long").alias("id"), F.col("distance")]
    if with_predecessor:
        out_cols.append(F.col("pred").cast("long").alias("pred"))
    return dist.select(*out_cols), stats


def delta_stepping(
    graph: Graph,
    source: int,
    delta: float | None = None,
    direction: str = "out",
    termination=None,
) -> tuple[DataFrame, dict]:
    """Bucketed SSSP (ref `impl/ShortestPathDeltaStepping.java:22-45` —
    the reference takes Δ as a caller-supplied procedure argument).

    Processes distance bands [b·Δ, (b+1)·Δ): light edges (w ≤ Δ) are
    relaxed to a fixpoint inside the band, heavy edges once when the
    band closes. Each inner round's frontier is only the band — on a
    power-law graph this is the reference's work-efficiency trick,
    rebuilt with the identical join/agg shape as `shortest_paths`.

    ``delta=None`` derives Δ from the weight distribution (one agg over
    the cached edge frame): ``max(w̄·d̄, w_max/128)``. w̄·d̄ (mean weight
    × mean out-degree) is the Meyer–Sanders Θ(1/d_max) sweet spot
    rescaled to weighted degree — about one out-neighborhood of
    relaxations per settled band; the ``w_max/128`` floor bounds the
    band COUNT on wide-range weight distributions (bands ≈
    path_hops·w_max/Δ ≤ 128·path_hops), where a mean-anchored Δ
    degenerates into thousands of near-empty sequential bands. Δ only
    affects scheduling, never the fixpoint — answers are identical for
    any Δ > 0 (differential-tested).
    """
    if delta is not None and delta <= 0:
        raise ValueError(f"delta must be > 0, got {delta}")
    spark = graph.edges.sparkSession
    loop = SuperstepDriver(spark, termination=termination)
    n_parts = spark.sparkContext.defaultParallelism
    edges = loop.persist(
        _prep_edges(graph, direction).repartition(n_parts, "src"), count=False
    )
    with loop.setup():
        if delta is None:
            w = edges.agg(
                F.avg("weight").alias("mean_w"),
                F.max("weight").alias("max_w"),
                (F.count("*") / F.count_distinct("src")).alias("avg_deg"),
            ).collect()[0]
            delta = max(
                float(w.mean_w or 1.0) * float(w.avg_deg or 1.0),
                float(w.max_w or 1.0) / 128.0,
            )
        light = loop.persist(edges.filter(F.col("weight") <= delta))
        heavy = loop.persist(edges.filter(F.col("weight") > delta), count=False)
        has_heavy = heavy.count() > 0

    def relax(dist: DataFrame, frontier: DataFrame, edge_set: DataFrame, hi: float) -> DataFrame:
        """One relaxation sweep; `_band` marks rows IMPROVED into the
        open band [·, hi) — folded into the same materialization so the
        inner loop pays one job per round, not a second compare join."""
        cand = (
            edge_set.join(
                frontier.select(F.col("id").alias("src"), F.col("distance").alias("ds")), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("ds") + F.col("weight")).alias("nd"))
        )
        nd = F.coalesce(F.col("nd"), F.lit(INF))
        return dist.join(cand, "id", "left").select(
            "id",
            F.least(F.col("distance"), nd).alias("distance"),
            ((nd < F.col("distance")) & (nd < hi)).alias("_band"),
        )

    def init():
        dist = graph.nodes.select(
            F.col("id").cast(graph.id_type()).alias("id"),
            F.when(F.col("id") == source, 0.0).otherwise(F.lit(INF)).alias("distance"),
        )
        # the source sits at distance 0, so bucket 0 is non-empty by
        # construction; every later bucket index comes from an actual
        # minimum, so empty-bucket probing never happens
        return loop.cache.step(dist, 0), 0

    # one superstep per bucket. Every materialization goes through the
    # cache (origin-severed: each relax references dist AND the band,
    # itself from the previous relax — the diamond of plans/
    # checkpointing.truncate_plan); there is one dist chain and each
    # relax reads only the latest state and filters of it, so releasing
    # the previous state is safe
    def superstep(n: int, st):
        dist, bucket = st
        lo, hi = bucket * delta, (bucket + 1) * delta
        band = dist.filter((F.col("distance") >= lo) & (F.col("distance") < hi))
        rounds = 0
        # settle the band over light edges
        while True:
            rounds += 1
            merged = loop.cache.step(relax(dist, band, light, hi), n)
            band = merged.filter(F.col("_band")).select("id", "distance")
            dist = merged.drop("_band")
            if band.isEmpty():
                break
        # heavy edges once for the settled band (skipped outright
        # when no edge exceeds delta — e.g. unit-weight graphs —
        # saving a full materialization per bucket)
        if has_heavy:
            settled = dist.filter((F.col("distance") >= lo) & (F.col("distance") < hi))
            rounds += 1
            dist = loop.cache.step(relax(dist, settled, heavy, hi).drop("_band"), n)
        # jump straight to the next non-empty bucket (one agg job),
        # or stop — replaces the old probe-every-bucket loop that
        # paid a checkpoint + isEmpty + agg per EMPTY bucket
        nxt = dist.filter((F.col("distance") >= hi) & (F.col("distance") < INF)).agg(
            F.min("distance")
        ).collect()[0][0]
        fields = {"bucket": bucket, "relaxRounds": rounds}
        if nxt is None:
            return (dist, bucket), fields, True
        return (dist, int(nxt // delta)), fields, False

    # no bound: every processed bucket settles at least one node, so the
    # empty-next-bucket stop ends the loop within node_count() buckets
    dist, _ = loop.run(sys.maxsize, init, None, superstep)
    stats = {
        "relaxRounds": sum(h["relaxRounds"] for h in loop.history),
        "buckets": loop.ran,
        "delta": delta,
        "computeMillis": loop.millis(),
        "history": loop.history,
    }
    return dist.select(F.col("id").cast("long").alias("id"), "distance"), stats


def all_shortest_paths_weighted(
    graph: Graph,
    direction: str = "out",
    wave_size: int = 64,
    max_iterations: int = 10_000,
    termination=None,
) -> DataFrame:
    """Weighted all-pairs shortest paths — the `algo.allShortestPaths
    .stream` variant the reference runs as multi-source parallel
    Dijkstra (`impl/AllShortestPaths.java:22-46`; fixture
    `tests/.../impl/AllShortestPathsTest.java`: 2×5 unit-weight grid →
    45 finite (source,target) pairs, d(0,9)=5, d(s,s)=0).

    Returns (source, target, distance) rows for every REACHABLE pair,
    self-pairs at distance 0 included; unreachable pairs are simply
    absent (the reference's stream skips infinite rows the same way).

    Spark shape: sources are hashed into waves of ≤ `wave_size`; each
    wave advances a (source, node, distance) state by frontier
    relaxation — `edges ⨝ frontier` + `groupBy(source, dst).min` per
    round — so peak state is O(V·wave_size) rows, never O(V²); the
    O(V²) output accumulates once per wave, localCheckpoint-truncated.
    Unweighted all-pairs stays on the cheaper bitmask MS-BFS engine
    (`operators/msbfs.all_shortest_paths`).
    """
    spark = graph.edges.sparkSession
    edges = _prep_edges(graph, direction)
    n_parts = spark.sparkContext.defaultParallelism
    edges = edges.repartition(n_parts, "src").persist()
    edges.count()

    nodes = graph.nodes.select(F.col("id").cast(graph.id_type()).alias("id"))
    n_sources = nodes.count()
    n_waves = max(1, -(-n_sources // wave_size))
    if n_waves > 1:
        nodes = nodes.withColumn("_wave", F.pmod(F.xxhash64("id"), F.lit(n_waves)))

    # per-wave result frames: each is a lazy projection of that wave's
    # final (checkpointed) distance frame — collected in a list and
    # unioned once, never re-materializing the O(V²) accumulator per wave
    result_frames: list[DataFrame] = []
    with releasing(spark, [edges]), adaptive_disabled(spark):
        for wv in range(n_waves):
            wave_src = (
                nodes.filter(F.col("_wave") == wv).select("id")
                if n_waves > 1 else nodes
            )
            dist = wave_src.select(
                F.col("id").alias("source"), F.col("id").alias("node"),
                F.lit(0.0).alias("distance"),
            ).localCheckpoint(eager=True)
            frontier = dist
            for it in range(max_iterations):
                check_termination(spark, termination, it)
                cand = (
                    edges.join(
                        frontier.select(
                            "source", F.col("node").alias("src"),
                            F.col("distance").alias("ds"),
                        ),
                        "src",
                    )
                    .groupBy("source", F.col("dst").alias("node"))
                    .agg(F.min(F.col("ds") + F.col("weight")).alias("nd"))
                )
                # truncate_plan: merged references dist AND the frontier
                # (itself derived from the previous merged) — the diamond
                # (plans/checkpointing.truncate_plan)
                merged = truncate_plan(
                    dist.join(cand, ["source", "node"], "full").select(
                        "source", "node",
                        F.least(
                            F.coalesce(F.col("distance"), F.lit(INF)),
                            F.coalesce(F.col("nd"), F.lit(INF)),
                        ).alias("distance"),
                        (
                            F.coalesce(F.col("nd"), F.lit(INF))
                            < F.coalesce(F.col("distance"), F.lit(INF))
                        ).alias("_imp"),
                    )
                )
                frontier = merged.filter(F.col("_imp")).select("source", "node", "distance")
                dist = merged.select("source", "node", "distance")
                if frontier.isEmpty():
                    break
            result_frames.append(
                dist.select(
                    F.col("source").cast("long").alias("source"),
                    F.col("node").cast("long").alias("target"),
                    "distance",
                )
            )
    if not result_frames:
        return spark.createDataFrame([], "source long, target long, distance double")
    return reduce(DataFrame.unionByName, result_frames)


def shortest_path(
    graph: Graph,
    source: int,
    target: int,
    direction: str = "out",
) -> tuple[list[int], float, dict]:
    """Source→target node sequence + total cost (ref ShortestPathDijkstra;
    returns ([], inf) when unreachable)."""
    dist, stats = shortest_paths(graph, source, direction, with_predecessor=True)
    dist = dist.persist()
    row = dist.filter(F.col("id") == target).collect()
    if not row or row[0]["distance"] == INF:
        dist.unpersist()
        return [], INF, stats
    total = float(row[0]["distance"])
    # walk predecessors back: one single-row lookup per hop against the
    # cached distance frame — path-length-bounded, never a full collect
    path = [target]
    cur = row[0]["pred"]
    while cur is not None:
        path.append(cur)
        if cur == source:
            break
        nxt = dist.filter(F.col("id") == cur).collect()
        cur = nxt[0]["pred"] if nxt else None
    dist.unpersist()
    return list(reversed(path)), total, stats
