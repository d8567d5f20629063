"""Minimum spanning tree — `algo.mst`.

Reference: Prim from a start node over the undirected weighted graph,
reporting the tree edges plus weight min/max/sum stats
(`impl/MSTPrim.java:22-45`; fixture `tests/.../impl/MSTPrimTest.java:39-50`:
a-b:1 a-c:2 b-c:3 b-d:4 c-e:5 d-e:6 → tree {ab, ac, bd, ce}).

Prim's frontier heap is inherently sequential, so the rebuild uses
**Borůvka** — the textbook distributed MST, same tree for distinct edge
weights: each round every component picks its minimum outgoing edge
(one `groupBy(component).min(struct(weight, …))`), the picked edges
merge components (contracted by pointer jumping over the components'
picks), repeat until no cross-component edge remains —
O(log V) rounds, each one superstep of a `SuperstepDriver`. Ties break on
(weight, src, dst) so the result is deterministic even with duplicate
weights (a valid MST either way). Matching the reference's start-node
semantics (tree of the start node's component only) is a post-filter.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpointing import IterationCache, SuperstepDriver, _release


def mst(
    graph: Graph,
    start_node: int | None = None,
    max_rounds: int = 64,
    termination=None,
) -> tuple[DataFrame, dict]:
    """Returns (tree_edges(src, dst, weight), stats with
    sum/min/max weight) — the reference's result surface."""
    spark = graph.edges.sparkSession
    loop = SuperstepDriver(spark, termination=termination)
    # canonical undirected edge list, one row per pair, min weight
    pairs = loop.persist(
        graph.edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            "weight",
        )
        .groupBy("src", "dst")
        .agg(F.min("weight").alias("weight"))
        # partitioned by `src` so each Borůvka round's first label join
        # reuses the cached partitioning (the dst-side join relabels the
        # already-joined O(E) frame and must shuffle either way)
        .repartition(spark.sparkContext.defaultParallelism, "src")
    )

    def init() -> DataFrame:
        ids = pairs.select(F.col("src").alias("id")).unionByName(
            pairs.select(F.col("dst").alias("id"))
        )
        return loop.cache.step(
            ids.distinct().select("id", F.col("id").alias("component")), 0
        )

    # per-component picks, one checkpointed frame per round (a chosen
    # edge merges its endpoints' components, so it is never re-picked),
    # and the contraction's label maps, released once `comp` is relabelled
    chosen: list[DataFrame] = []
    merge = IterationCache(spark)

    def superstep(n: int, comp: DataFrame):
        cs = comp.select(F.col("id").alias("src"), F.col("component").alias("c_src"))
        cd = comp.select(F.col("id").alias("dst"), F.col("component").alias("c_dst"))
        labeled = (
            pairs.join(cs, "src").join(cd, "dst")
            .filter(F.col("c_src") != F.col("c_dst"))
        )
        # min outgoing edge per component (both endpoints' views); the
        # (src, dst) pair is unique, so the order stays (weight, src,
        # dst) and the endpoint labels only ride along
        edge = ["weight", "src", "dst", "c_src", "c_dst"]
        views = labeled.select(F.col("c_src").alias("component"), *edge).unionByName(
            labeled.select(F.col("c_dst").alias("component"), *edge)
        )
        # a lazy checkpoint: the count is the one job that computes it
        picks = views.groupBy("component").agg(F.min(F.struct(*edge)).alias("b")).select(
            "component", "b.*"
        ).localCheckpoint(eager=False)
        if picks.count() == 0:
            _release(picks)
            return comp, {}, True
        chosen.append(picks)
        # contract: each component points at the other end of its pick.
        # Pick weights fall strictly along the pointers, so the only
        # cycles are mutual picks, whose smaller end becomes the root;
        # pointer jumping (label := label(label)) then reaches it, with
        # `prev` riding along for the no-change test
        c = F.col("component")
        other = F.when(F.col("c_src") == c, F.col("c_dst")).otherwise(F.col("c_src"))
        ptr = picks.select("component", other.alias("label"))
        back = ptr.select(F.col("component").alias("label"), F.col("label").alias("back"))
        root = (F.col("back") == c) & (c < F.col("label"))
        m = ptr.join(back, "label").select(
            "component", F.when(root, c).otherwise(F.col("label")).alias("label")
        )
        while True:
            up = m.select(F.col("component").alias("label"), F.col("label").alias("up"))
            jump = m.join(up, "label").select("component", F.col("label").alias("prev"), "up")
            m = merge.step(jump.withColumnRenamed("up", "label"), n)
            if m.filter(F.col("label") != F.col("prev")).isEmpty():
                break
        nc = m.select("component", F.col("label").alias("_nc"))
        comp = loop.cache.step(
            comp.join(nc, "component", "left")
            .select("id", F.coalesce("_nc", "component").alias("component")),
            n,
        )
        merge.release()
        return comp, {}, False

    comp = loop.run(max_rounds, init, None, superstep)

    edge_cols = ["src", "dst", "weight"]
    if chosen:  # a mutual pick's two rows collapse in the distinct()
        tree = reduce(DataFrame.unionByName, [p.select(*edge_cols) for p in chosen]).distinct()
    else:
        tree = spark.createDataFrame([], "src long, dst long, weight double")
    n_components = 1
    if start_node is not None:
        # ref MSTPrim semantics: the tree of the start node's component
        # ONLY. `comp` holds edge endpoints, so a start node with no
        # edges is absent from it — its "tree" is empty (never the
        # whole forest).
        comp_of_start = comp.filter(F.col("id") == start_node).collect() if chosen else []
        if comp_of_start:
            c = comp_of_start[0]["component"]
            member = comp.filter(F.col("component") == c).select(F.col("id").alias("src"))
            tree = tree.join(member, "src", "left_semi")
        else:
            tree = spark.createDataFrame([], "src long, dst long, weight double")
            n_components = 0
    elif chosen:
        # unfiltered forest: one tree per component of the input
        n_components = comp.select("component").distinct().count()
    else:
        n_components = 0
    # one materialized tree: releases `comp` and then the per-round picks
    tree = loop.cache.step(tree, loop.ran)
    for p in chosen:
        _release(p)
    agg = tree.agg(
        F.sum("weight").alias("s"), F.min("weight").alias("mn"),
        F.max("weight").alias("mx"), F.count("*").alias("n"),
    ).collect()[0]
    stats = {
        # tree edges + one root per covered component (n+1 only holds
        # for a single-component tree); isolated start node => 1
        "effectiveNodeCount": (agg["n"] or 0) + n_components
        if not (start_node is not None and n_components == 0)
        else 1,
        "weightSum": float(agg["s"] or 0.0),
        "weightMin": float(agg["mn"] or 0.0),
        "weightMax": float(agg["mx"] or 0.0),
        "rounds": loop.ran,
        "computeMillis": loop.millis(),
        "history": loop.history,
    }
    return tree, stats
