"""Single-level Louvain community detection — `algo.louvain`.

Reference (`impl/louvain/Louvain.java:99-140`, weighted twin
`WeightedLouvain.java`, parallel `ParallelLouvain.java`): NO hierarchy /
coarsening — one level only. Init: every node its own community; per
iteration each node joins the neighbor community with maximal modularity
gain ``ΔQ = w_in/m2 − (k_i · Σtot) / m2²`` (m2 = 2m init at :77-97),
stopping after `iterations` rounds or when no node moves. The fixture
(`tests/.../impl/LouvainTest.java:60-86, 215-226`): two 4-cliques
{a,b,c,d} and {e,f,g,h} plus bridge e→b — unweighted: {a,c,d} together,
{f,g,h} together, a/f/z disjoint; with w(e→b)=5 also {b,e} together.

Spark rebuild: synchronous rounds with the same parity trick as LPA
(adjacent same-parity nodes never move against the same snapshot, so
two symmetric nodes can't swap forever); the reference's sequential
node order is nondeterministic-by-thread anyway and its tests assert
converged partitions only. Per round: one `edges ⨝ communities` +
two-phase agg for neighbor-community weights, a broadcast-size agg for
community totals, and a window argmax for the best gain.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..graph import Graph, undirect
from ..plans.checkpointing import SuperstepDriver


def louvain(
    graph: Graph,
    iterations: int = 10,
    termination=None,
) -> tuple[DataFrame, dict]:
    """Returns (communities(id, community), stats with ranIterations).

    Self-loops (absent from the reference's test graphs, but the
    carrier of intra-community mass on the CONTRACTED graphs of
    `louvain_multilevel`) count into the weighted degree k_i and into
    m2 with weight 2w (the A_ii = 2w convention, so m2 = Σ k_i holds);
    they never appear as vote edges — a node's self-mass moves with it.
    Graphs without self-loops are bit-for-bit unaffected.
    """
    spark = graph.edges.sparkSession
    loop = SuperstepDriver(spark, termination=termination)
    n_parts = spark.sparkContext.defaultParallelism
    # undirected weighted adjacency (reference loads BOTH and treats the
    # graph as undirected for modularity)
    # partitioned by `dst` — the key every half-round's `sym ⨝ comm`
    # join uses (stationary-edges property: only the O(V) community
    # frame moves per round; src-partitioning here was the wrong key
    # and re-shuffled O(E) twice per iteration)
    sym = loop.persist(
        undirect(graph.edges, dedup=True).repartition(n_parts, "dst"), count=False
    )
    selfw = (
        graph.edges.filter(F.col("src") == F.col("dst"))
        .groupBy(F.col("src").alias("id"))
        .agg((F.lit(2.0) * F.sum("weight")).alias("sw"))
    )
    with loop.setup():
        m2 = (sym.agg(F.sum("weight")).collect()[0][0] or 0.0) + (
            selfw.agg(F.sum("sw")).collect()[0][0] or 0.0
        )
    m2 = m2 or 1.0  # == 2m
    # sym holds both orientations, so weighted degree grouped by dst ==
    # grouped by src — and the dst grouping reuses the cached
    # partitioning (no exchange)
    k = loop.persist(
        sym.groupBy(F.col("dst").alias("id")).agg(F.sum("weight").alias("k"))
        .join(selfw, "id", "left")
        .select("id", (F.col("k") + F.coalesce(F.col("sw"), F.lit(0.0))).alias("k"))
    )

    w = Window.partitionBy("id").orderBy(F.desc("gain"), F.asc("community"))

    def half_round(comm: DataFrame, parity: int) -> DataFrame:
        cd = comm.select(F.col("id").alias("dst"), F.col("community"))
        # w_in(i→C) = Σ weights from i into community C
        win = (
            sym.join(cd, "dst")
            .groupBy(F.col("src").alias("id"), "community")
            .agg(F.sum("weight").alias("w_in"))
        )
        # Σtot per community (excluding i's own k when i ∈ C — the
        # reference evaluates the gain of *joining*; for i's current
        # community its own degree must not count against it)
        tot = (
            comm.join(k, "id")
            .groupBy("community")
            .agg(F.sum("k").alias("tot"))
        )
        self_comm = comm.select("id", F.col("community").alias("own"))
        cand = (
            win.join(F.broadcast(tot), "community")
            .join(k, "id")
            .join(self_comm, "id")
            .select(
                "id", "community",
                (
                    F.col("w_in") / m2
                    - (F.col("k") * (F.col("tot") - F.when(F.col("community") == F.col("own"), F.col("k")).otherwise(0.0)))
                    / (m2 * m2)
                ).alias("gain"),
            )
        )
        best = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .filter(F.col("gain") > 0)
            .filter(F.pmod("id", F.lit(2)) == parity)
            .select("id", F.col("community").alias("new_c"))
        )
        return (
            comm.join(best, "id", "left")
            .withColumn("community", F.coalesce("new_c", "community"))
            .drop("new_c")
        )

    def superstep(it: int, comm: DataFrame):
        # origin-severed (the cache's truncate_plan): each half-round
        # references comm four times (votes, totals, own-community,
        # final coalesce) — the widest diamond of any kernel; a plain
        # localCheckpoint's origin chain would grow ~4^iterations.
        # `prev` rides along both half-rounds, so changes are counted
        # off the materialized frame, not by a join against the
        # previous state, which the cache has released by then
        stepped = loop.cache.step(
            half_round(half_round(comm.withColumn("prev", F.col("community")), 0), 1), it
        )
        changed = stepped.filter(F.col("community") != F.col("prev")).count()
        return stepped.select("id", "community"), {"changed": changed}, changed == 0

    init = graph.nodes.select("id", F.col("id").alias("community"))
    comm = loop.run(iterations, lambda: loop.cache.step(init, 0), None, superstep)
    n_comm = comm.select("community").distinct().count()
    stats = {
        "ranIterations": loop.ran,
        "didConverge": loop.stopped,
        "communityCount": n_comm,
        "computeMillis": loop.millis(),
        "history": loop.history,
    }
    return comm, stats


def contract_graph(edges: DataFrame, comm: DataFrame) -> DataFrame:
    """Contract a level's EFFECTIVE graph onto its communities.

    `louvain` scores moves on ``undirect(edges, dedup=True)`` (max
    weight per direction for parallel/reciprocal duplicates) plus
    self-loops at A_ii = 2w — so the contraction must aggregate that
    same effective graph, NOT the raw directed rows: summing raw
    reciprocal edges (a→b w1, b→a w2) would carry w1+w2 where the
    level optimized max(w1, w2), and later levels would maximize a
    different objective (the r4 ADVICE finding).

    Construction: the deduped symmetric frame holds every unordered
    pair TWICE (once per orientation), so grouping by the canonical
    community pair and halving the sum yields exactly the per-pair
    effective mass — for inter-community rows this is the contracted
    edge weight, for intra-community rows the super-node self-loop;
    members' own self-loops (mass 2w in the level's m2) add their raw
    weight to the community self-loop. Under this contraction
    m2(contracted) == m2(level) and modularity of any refinement-
    consistent partition is preserved.

    Returns canonical (src ≤ dst) contracted edge rows.
    """
    cs = comm.select(F.col("id").alias("src"), F.col("community").alias("_cs"))
    cd = comm.select(F.col("id").alias("dst"), F.col("community").alias("_cd"))
    und = undirect(edges, dedup=True)
    pairs = (
        und.join(cs, "src").join(cd, "dst")
        .groupBy(
            F.least("_cs", "_cd").alias("src"),
            F.greatest("_cs", "_cd").alias("dst"),
        )
        .agg((F.sum("weight") / F.lit(2.0)).alias("weight"))
    )
    selfs = (
        edges.filter(F.col("src") == F.col("dst"))
        .join(cs, "src")
        .groupBy(F.col("_cs").alias("src"))
        .agg(F.sum("weight").alias("weight"))
        .select("src", F.col("src").alias("dst"), "weight")
    )
    return (
        pairs.unionByName(selfs)
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )


def level_m2(edges: DataFrame) -> float:
    """The 2m mass `louvain` normalizes by for a given edge frame —
    exposed so tests can assert contraction preserves it."""
    und = undirect(edges, dedup=True)
    sym_mass = und.agg(F.sum("weight")).collect()[0][0] or 0.0
    self_mass = (
        edges.filter(F.col("src") == F.col("dst")).agg(F.sum("weight")).collect()[0][0]
        or 0.0
    )
    return float(sym_mass + 2.0 * self_mass)


def louvain_multilevel(
    graph: Graph,
    levels: int = 5,
    iterations: int = 10,
    termination=None,
) -> tuple[DataFrame, dict]:
    """Hierarchical Louvain: local-move level → CONTRACT communities to
    super-nodes → repeat until the partition stops shrinking.

    The reference is single-level by design (`LouvainTest.java` asserts
    one level of assignments), so `louvain` alone already meets parity;
    this is the extension a community-detection user needs first at
    100 TB, where one local-move level leaves millions of micro-
    communities. Standard coarsening: the contracted graph has one node
    per community, the level's EFFECTIVE (max-deduped symmetric) mass
    aggregated per community pair, intra-community mass kept as
    SELF-LOOPS (counted into k/m2 by `louvain`, never vote edges) —
    see `contract_graph` — so m2 is invariant across levels, modularity
    on the contracted graph equals modularity of the expanded
    partition, and later levels make globally consistent moves.

    Returns (assignments(id, community) at ORIGINAL ids — community =
    final super-node label, a level-0 node id) and stats with per-level
    community counts. Contraction is two hash joins + one groupBy —
    every step shuffles O(E_level), and E_level shrinks geometrically.
    """
    spark = graph.edges.sparkSession
    t0 = time.time()
    mapping = graph.nodes.select("id", F.col("id").alias("community"))
    cur = graph
    level_counts: list[int] = []
    level_stats: list[dict] = []
    for lvl in range(levels):
        comm, st = louvain(cur, iterations=iterations, termination=termination)
        level_counts.append(st["communityCount"])
        level_stats.append(st)
        n_before = cur.node_count()
        if st["communityCount"] >= n_before:
            break  # nothing merged — the hierarchy is done
        comm = comm.localCheckpoint(eager=True)
        # re-point every original node at its community's new label
        mapping = mapping.join(
            comm.select(F.col("id").alias("community"), F.col("community").alias("_nc")),
            "community",
        ).select("id", F.col("_nc").alias("community")).localCheckpoint(eager=True)
        if lvl == levels - 1:
            break
        # contract the level's EFFECTIVE graph (see contract_graph):
        # communities become nodes, per-pair max-deduped mass becomes
        # the contracted weights, intra mass + member self-loops become
        # super-node self-loops — m2 and all edge masses carry over
        # unchanged, so every level optimizes the SAME objective
        contracted = contract_graph(cur.edges, comm)
        nodes = comm.select(F.col("community").alias("id")).distinct()
        cur = Graph(
            nodes=nodes.localCheckpoint(eager=True),
            edges=contracted.localCheckpoint(eager=True),
        )
    stats = {
        "levels": len(level_counts),
        "communityCountPerLevel": level_counts,
        "communityCount": level_counts[-1] if level_counts else 0,
        "levelStats": level_stats,
        "computeMillis": int((time.time() - t0) * 1000),
    }
    return mapping, stats
