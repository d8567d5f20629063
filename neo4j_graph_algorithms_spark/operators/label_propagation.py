"""Weighted label propagation — Spark-native rebuild.

Reference (`impl/LabelPropagation.java`):

- init: label = node property `partition` when loaded, else the node's
  own id (:196-202 `valueOf(nodeId, nodeId)`; fallback confirmed by
  `algo/LabelPropagationProcIntegrationTest.java:140-151`)
- per iteration, per node: each neighbor (over the configured
  direction, default OUTGOING, `LabelPropagationProc.java:76-84`) votes
  for its current label with weight
  ``relWeight(s,t) × nodeWeight(t)`` (:280-289; both weights default
  1.0, `LabelPropagationProc.java:128-133`); the node adopts the argmax
  label (:260-278)
- runs `iterations` supersteps (default 1), reports `ranIterations` and
  `didConverge` (:104-122)

Deliberate divergence (SURVEY.md §4): the reference mutates labels
in-place (asynchronous) in randomized visit order to damp oscillation
(:239, :305-359) and is explicitly nondeterministic. We run
**synchronous** supersteps with a **deterministic tie-break**
(max vote weight, then min label — total order), and validate against
the reference's *converged community partitions*, exactly what its own
oscillation-tolerant fixture does
(`impl/LabelPropagation420Test.java:153-178`).

Scale shape: one `edges ⨝ labels` shuffle + two-phase hash agg +
window argmax per superstep. The window partitions by node — skewed
only if one node has millions of *distinct neighbor labels*, which the
pre-aggregation by (node, label) prevents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpointing import SuperstepDriver


def label_propagation(
    graph: Graph,
    iterations: int = 1,
    direction: str = "out",
    seed_col: str | None = "partition",
    node_weight_col: str | None = "weight",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    num_partitions: int | None = None,
    termination=None,
) -> tuple[DataFrame, dict]:
    """Returns (labels(id, label), stats with ranIterations/didConverge).

    ``resume=True`` (with a durable ``checkpoint_dir``) continues from
    the latest complete snapshot — synchronous LPA's state is exactly
    the label frame, so restarting from superstep k's labels replays
    supersteps k+1.. identically (deterministic argmax tie-break; same
    north-rule "resumable" shape as `pagerank(resume=True)`).
    """
    spark = graph.edges.sparkSession
    loop = SuperstepDriver(spark, checkpoint_dir, checkpoint_every, termination)
    nodes = graph.nodes

    # voting edges: node <- (neighbor, rel weight); OUTGOING means a node
    # gathers votes from its out-neighbors (ref iterates OUT adjacency)
    if direction == "out":
        e = graph.edges.select(
            F.col("src").alias("node"), F.col("dst").alias("nbr"), "weight"
        )
    elif direction == "in":
        e = graph.edges.select(
            F.col("dst").alias("node"), F.col("src").alias("nbr"), "weight"
        )
    else:  # both
        e = graph.edges.select(
            F.col("src").alias("node"), F.col("dst").alias("nbr"), "weight"
        ).unionByName(
            graph.edges.select(
                F.col("dst").alias("node"), F.col("src").alias("nbr"), "weight"
            )
        )
    if seed_col is not None and seed_col in nodes.columns:
        init = nodes.select(
            "id", F.coalesce(F.col(seed_col).cast("long"), F.col("id")).alias("label")
        )
    else:
        init = nodes.select("id", F.col("id").alias("label"))

    # int-id compression (shared Heavy-vs-Huge analogue): the superstep
    # join+agg shuffles (node, nbr, label) tuples every iteration — when
    # ids AND seed labels all fit int32 the shuffled bytes drop by a
    # third. graph.id_type() (cached per snapshot) bounds ids; only a
    # CUSTOM seed column needs its own bound scan (seed labels are
    # arbitrary longs; default labels are node ids, already covered).
    from ..graph import compact_id_type

    seeded = seed_col is not None and seed_col in nodes.columns
    id_t = graph.id_type()
    if id_t == "int" and seeded and compact_id_type(init, ("label",)) != "int":
        id_t = "long"
    if id_t == "int":
        e = e.select(
            F.col("node").cast("int").alias("node"),
            F.col("nbr").cast("int").alias("nbr"),
            "weight",
        )
        init = init.select(
            F.col("id").cast("int").alias("id"), F.col("label").cast("int").alias("label")
        )
    # hash-partition the voting-edge table by the join key ONCE and
    # cache (stationary-edges property, as in PageRank/WCC): each
    # half-step's `e ⨝ labels` then shuffles only the O(V) label frame,
    # not the O(E) edge table — 2 half-steps per iteration makes this
    # the dominant per-superstep volume saving
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    e = loop.persist(e.repartition(n_parts, "nbr"))

    if node_weight_col is not None and node_weight_col in nodes.columns:
        nw = nodes.select(
            F.col("id").cast(id_t).alias("id"),
            F.coalesce(F.col(node_weight_col).cast("double"), F.lit(1.0)).alias("nw"),
        )
    else:
        nw = nodes.select(F.col("id").cast(id_t).alias("id"), F.lit(1.0).alias("nw"))
    nw = loop.persist(nw, count=False)

    w = Window.partitionBy("node").orderBy(F.desc("vote"), F.asc("nbr_label"))

    def half_step(labels: DataFrame, parity: int) -> DataFrame:
        """Argmax vote update applied only to nodes with id%2==parity —
        the deterministic stand-in for the reference's randomized async
        visit order (`LabelPropagation.java:239,305-359`): symmetric
        label swaps (which make fully-synchronous LPA oscillate forever
        on 2-cycles) cannot happen because adjacent same-parity nodes
        never update in the same half-step against the same snapshot."""
        nbr_labels = labels.select(F.col("id").alias("nbr"), F.col("label").alias("nbr_label"))
        votes = (
            e.join(nbr_labels, "nbr")
            .join(nw.select(F.col("id").alias("nbr"), "nw"), "nbr")
            .select("node", "nbr_label", (F.col("weight") * F.col("nw")).alias("v"))
            .groupBy("node", "nbr_label")
            .agg(F.sum("v").alias("vote"))
        )
        winner = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .filter(F.pmod("node", F.lit(2)) == parity)
            .select(F.col("node").alias("id"), F.col("nbr_label").alias("new_label"))
        )
        return (
            labels.join(winner, "id", "left")
            .withColumn("label", F.coalesce(F.col("new_label"), F.col("label")))
            .drop("new_label")
        )

    def restore(state: DataFrame, _meta: dict) -> DataFrame:
        return state.select(
            F.col("id").cast(id_t).alias("id"),
            F.col("label").cast(id_t).alias("label"),
        )

    def superstep(it: int, labels: DataFrame):
        # `prev` rides along both half-steps, so changes are counted
        # off the materialized frame — no join against the previous
        # state, which the cache has released by then
        stepped = loop.cache.step(
            half_step(half_step(labels.withColumn("prev", F.col("label")), 0), 1), it
        )
        changed = stepped.filter(F.col("label") != F.col("prev")).count()
        return stepped.select("id", "label"), {"changed": changed}, changed == 0

    labels = loop.run(
        iterations, lambda: loop.cache.step(init, 0), restore, superstep, resume
    )

    stats = {
        "ranIterations": loop.ran,
        "didConverge": loop.stopped,
        "computeMillis": loop.millis(),
        "history": loop.history,
    }
    labels = labels.select(
        F.col("id").cast("long").alias("id"), F.col("label").cast("long").alias("label")
    )
    return labels, stats
