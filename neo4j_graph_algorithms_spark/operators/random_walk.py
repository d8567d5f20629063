"""Uniform random-walk sampling — deterministic, join-based, no RNG state.

EXTENSION (no counterpart in the reference's 47-procedure surface;
later Neo4j releases ship `algo.randomWalk`): batched uniform random
walks are the sampling primitive for graph-embedding training corpora
(DeepWalk / node2vec input) and for approximate visit-frequency
estimation at link-graph scale.

Spark-first shape — a walk step is a JOIN, not a loop over walkers:

- adjacency is indexed ONCE: (src, rn, dst, deg) with rn = 0..deg-1
  per source (a by-src window), cached and hash-partitioned by src;
- the walker frontier (source, rep, step, node) picks its next
  neighbor index as ``pmod(xxhash64(source, node, rep, step, seed),
  deg)`` — a pure column expression, so the walk is fully
  DETERMINISTIC given (graph, seed): resumable, replayable, testable,
  and identical on any cluster size / partitioning (no per-partition
  RNG state to coordinate, which is the classic distributed-walk
  pitfall). The SOURCE is part of the hash: without it, two walkers
  with the same rep that meet at the same node on the same step would
  pick the same neighbor and coalesce permanently, making multi-source
  walks statistically dependent;
- the step is then an equi-join on (src, rn) — no fan-out: each
  walker expands to exactly the one chosen edge row;
- walks that reach a dangling node (out-degree 0) simply terminate —
  their frontier row drops out of the degree join;
- per-step frames are collected lazily and unioned once (the
  accumulated output is never re-materialized per step — the standing
  BFS-family discipline).

Hash choice is uniform over neighbors up to pmod bias (< 2^-50 for
degrees < 2^13 on a 64-bit hash — negligible); independence across
(walker, step) comes from xxhash64 mixing all four coordinates
(source, node, rep, step).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..graph import Graph
from ..plans.checkpointing import SuperstepDriver


def random_walks(
    graph: Graph,
    walk_length: int = 10,
    walks_per_node: int = 1,
    sources: DataFrame | None = None,
    seed: int = 42,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    termination=None,
) -> tuple[DataFrame, dict]:
    """Run uniform random walks; returns (df, stats).

    df: (source, rep, step, node) — step 0 is the source itself; a walk
    row exists for step t only while the walker has not hit a dangling
    node. ``sources`` (id) defaults to all nodes; ``walks_per_node``
    replicates each source into reps 0..r-1 with independent choices.

    ``checkpoint_dir`` + ``resume=True``: the accumulated walk prefix
    is snapshot durably every ``checkpoint_every`` steps; a resumed run
    restores the frontier from the prefix's last step and — because the
    next-hop choice is a pure hash of (source, node, rep, step, seed) —
    continues the IDENTICAL walks (caller must pass the same graph/
    seed/walk args, as with every resumable kernel here).
    """
    spark = graph.edges.sparkSession
    loop = SuperstepDriver(spark, checkpoint_dir, checkpoint_every, termination)
    id_t = graph.id_type()

    w = Window.partitionBy("src").orderBy("dst")
    adj = (
        graph.edges.select(
            F.col("src").cast(id_t).alias("src"), F.col("dst").cast(id_t).alias("dst")
        )
        .distinct()
        .withColumn("rn", F.row_number().over(w) - 1)
    )
    n_parts = spark.sparkContext.defaultParallelism
    # partitioned on the STEP join's exact key pair: hash(src) alone
    # would not satisfy the (src, rn) equi-join and the O(E) adjacency
    # would re-shuffle every step — this way only the O(walkers)
    # frontier moves
    adj = loop.persist(adj.repartition(n_parts, "src", "rn"))
    # (node, deg) — renamed so the frontier join is a name-based using-
    # join (deg shares lineage with adj; attribute refs would trip the
    # ambiguous-self-join analyzer when the step joins adj again)
    deg = loop.persist(
        adj.groupBy("src").agg(F.count("*").alias("deg")).withColumnRenamed("src", "node"),
        count=False,
    )

    def init():
        src_nodes = (sources or graph.nodes.select("id")).select(
            F.col("id").cast(id_t).alias("source")
        )
        reps = spark.range(walks_per_node).select(F.col("id").cast("int").alias("rep"))
        frontier = (
            src_nodes.crossJoin(F.broadcast(reps))
            .select("source", "rep", F.col("source").alias("node"))
            .localCheckpoint(eager=True)
        )
        return [frontier.select("source", "rep", F.lit(0).alias("step"), "node")], frontier

    def restore(acc: DataFrame, meta: dict):
        acc = acc.localCheckpoint(eager=True)
        frontier = acc.filter(F.col("step") == meta["superstep"]).select(
            F.col("source").cast(id_t).alias("source"),
            "rep",
            F.col("node").cast(id_t).alias("node"),
        ).localCheckpoint(eager=True)
        return [acc], frontier

    # loop state (steps, frontier): the lazy per-step frames of the walk
    # prefix, and the walkers' current (source, rep, node)
    def superstep(step: int, st):
        steps, frontier = st
        picked = frontier.join(deg, "node").select(
            "source", "rep",
            F.col("node").alias("src"),
            F.pmod(
                F.xxhash64("source", "node", "rep", F.lit(step), F.lit(seed)),
                F.col("deg"),
            ).cast("int").alias("rn"),
        )
        frontier = (
            picked.join(adj, ["src", "rn"])
            .select("source", "rep", F.col("dst").alias("node"))
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():
            return (steps, frontier), {}, True
        steps.append(frontier.select("source", "rep", F.lit(step).alias("step"), "node"))
        if loop.cache.durable(step):
            # durable snapshot of the accumulated prefix (the lazy
            # per-step frames union-fold exactly once per cadence —
            # the standing BFS-family accumulation discipline)
            steps = [loop.cache.step(reduce(DataFrame.unionByName, steps), step)]
        return (steps, frontier), {}, False

    steps, _ = loop.run(walk_length, init, restore, superstep, resume)
    out = reduce(DataFrame.unionByName, steps).select(
        F.col("source").cast("long").alias("source"), "rep", "step",
        F.col("node").cast("long").alias("node"),
    )
    stats = {
        "nodes": graph.node_count(),
        "walk_length": walk_length,
        "walks_per_node": walks_per_node,
        "steps_run": int(out.agg(F.max("step")).collect()[0][0] or 0),
        "seed": seed,
        "history": loop.history,
        "computeMillis": loop.millis(),
    }
    return out, stats
