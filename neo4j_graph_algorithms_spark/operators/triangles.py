"""Triangle counting / local clustering coefficient — Spark-native.

Reference: node-iterator triangle counting on an undirected, sorted
graph (`impl/TriangleCountQueue.java:119-145`): for node u, for
neighbors s > u, probe `exists(t, u)` for s's neighbors t > s — each
unordered triple counted once, all three corner counters incremented
(`impl/TriangleCountBase.java:93-98` exportTriangle). The Huge path
replaces probes with sorted-CSR intersection
(`core/.../huge/HugeGraphIntersectImpl.java:58-90`).

The Spark analogue of the ``u < s < t`` pruning is the classic oriented
wedge-close plan:

1. orient every undirected edge low-degree -> high-degree (the default
   ``by_degree=True`` anti-skew orientation: hubs get small
   out-adjacency, bounding the wedge fan-out to O(E^1.5) total work on
   power-law graphs; ``by_degree=False`` keeps the cheaper low-id ->
   high-id orientation, which skips the degree join but lets a hub's
   wedge fan-out grow with its degree squared)
2. wedges = oriented ⨝ oriented on (e1.dst == e2.src) → (a, b, c) paths
3. close each wedge against the oriented edge set on (a, c)

`triangle_count` runs with AQE off and persists the oriented set once
(the wedge join reads it twice, the close once). Per-vertex counts
explode the 3 corners of each closed wedge into one groupBy, and one
aggregate over the persisted per-node frame gives
``triangleCount = ΣT(v)/3`` and the mean of the local clustering
coefficient ``C(v) = 2·T(v) / (deg(v)·(deg(v)−1))``, C=0 when deg<2
(`TriangleCountBase.java:106-115`; ``averageClusteringCoefficient``
`TriangleCountQueue.java:71-81`; formula fixture
`tests/.../impl/ClusteringCoefficientWikiTest.java:38-58`). AQE off
gives up its runtime skew-join split; the degree orientation is the
structural skew guard, as in every iterative kernel here.

`triangle_stream` emits the (a, b, c) triples themselves —
`algo.triangle.stream` (`impl/TriangleStream.java:95-160`).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph, degrees, undirect
from ..plans.checkpointing import adaptive_disabled


_BROADCAST_DEGREE_MAX_NODES = 5_000_000


def _oriented(
    graph: Graph, by_degree: bool, broadcast_degrees: bool | None = None
) -> tuple[DataFrame, DataFrame]:
    """(oriented edge set with src<dst per pair, undirected degrees).

    Ids are int-compressed when they fit int32 (shared Heavy-vs-Huge
    analogue, cached per snapshot via graph.id_type): the wedge
    self-join and the left_semi close are the two big shuffles of the
    plan, and both move a third fewer bytes on int tuples. Both callers
    cast the ids they emit back to long."""
    edges = graph.edges
    if graph.id_type() == "int":
        edges = edges.select(
            F.col("src").cast("int").alias("src"),
            F.col("dst").cast("int").alias("dst"),
            "weight",
        )
    und = undirect(edges)  # both directions, deduped
    deg = degrees(und, "out")  # undirected degree = out-degree of doubled set
    # orient by FILTERING und: every unordered pair appears exactly
    # twice (once per direction), and the strict (degree, id) — or
    # plain id — total order keeps exactly one of the two rows. This
    # replaces `orient()`'s canonicalize-then-groupBy with a map-side
    # filter: one full shuffle less, same result (measured: the degree
    # default's r2 bench regression was mostly this extra stage).
    if by_degree:
        # the two degree joins are the only shuffles the degree
        # orientation adds over the id orientation (the r2→r3 bench
        # regression was exactly their cost). Degrees are O(V) —
        # (id, count) rows, a few MB up to millions of nodes — so
        # BROADCAST them whenever V is plausibly under the driver/
        # executor budget and both joins become map-side over the
        # cached undirected set: zero extra shuffles, same plan shape
        # the id orientation gets. Above the cutoff (or with
        # broadcast_degrees=False) fall back to the shuffle join —
        # the correct default at the billions-of-nodes scale.
        if broadcast_degrees is None:
            broadcast_degrees = graph.node_count() <= _BROADCAST_DEGREE_MAX_NODES
        degj = F.broadcast(deg) if broadcast_degrees else deg
        dsrc = degj.select(F.col("id").alias("src"), F.col("degree").alias("_dsrc"))
        ddst = degj.select(F.col("id").alias("dst"), F.col("degree").alias("_ddst"))
        ori = (
            und.join(dsrc, "src").join(ddst, "dst")
            .filter(
                (F.col("_dsrc") < F.col("_ddst"))
                | ((F.col("_dsrc") == F.col("_ddst")) & (F.col("src") < F.col("dst")))
            )
        )
    else:
        ori = und.filter(F.col("src") < F.col("dst"))
    return ori.select("src", "dst"), deg


def _close_wedges(ori: DataFrame) -> DataFrame:
    """(a, b, c) for every oriented wedge a→b→c closed by the edge a→c."""
    e1 = ori.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = ori.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = ori.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"], "left_semi")


def triangle_stream(
    graph: Graph, by_degree: bool = True, broadcast_degrees: bool | None = None
) -> DataFrame:
    """All triangles as (a, b, c) rows, each unordered triple once,
    corners sorted ascending (deterministic; ref TriangleStream emits
    node-id ordered triples from the u<s<t scan)."""
    ori, _ = _oriented(graph, by_degree, broadcast_degrees)
    tri = _close_wedges(ori).select(*(F.col(c).cast("long").alias(c) for c in "abc"))
    if by_degree:
        # degree orientation breaks id order inside triples — restore it
        tri = tri.select(
            F.array_sort(F.array("a", "b", "c")).alias("t")
        ).select(
            F.col("t")[0].alias("a"), F.col("t")[1].alias("b"), F.col("t")[2].alias("c")
        )
    return tri


def triangle_count(
    graph: Graph, by_degree: bool = True, broadcast_degrees: bool | None = None
) -> tuple[DataFrame, dict]:
    """Returns (per_node(id, triangles, coefficient), stats with
    triangleCount / averageClusteringCoefficient) — the combined
    surface of `algo.triangleCount` + coefficient write-back
    (`algo/.../TriangleProc.java:58-298`)."""
    t0 = time.time()
    with adaptive_disabled(graph.edges.sparkSession):
        ori, deg = _oriented(graph, by_degree, broadcast_degrees)
        ori = ori.persist()
        per_node_t = (
            _close_wedges(ori)
            .select(F.explode(F.array("a", "b", "c")).alias("id"))
            .groupBy("id")
            .count()
            .select(F.col("id").cast("long").alias("id"), F.col("count").alias("triangles"))
        )
        # deg may carry int-compressed ids — back to long for the node join
        deg = deg.select(F.col("id").cast("long").alias("id"), "degree")
        per_node = (
            graph.nodes.select("id")
            .join(per_node_t, "id", "left")
            .join(deg, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
                F.col("degree"),
            )
            .withColumn(
                "coefficient",
                F.when(
                    F.coalesce(F.col("degree"), F.lit(0)) >= 2,
                    2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(F.lit(0.0)),
            )
            .drop("degree")
            .persist()
        )
        corners, avg = per_node.agg(F.sum("triangles"), F.avg("coefficient")).collect()[0]
        ori.unpersist()
    stats = {
        "triangleCount": (corners or 0) // 3,
        "averageClusteringCoefficient": float(avg or 0.0),
        "computeMillis": int((time.time() - t0) * 1000),
    }
    return per_node, stats
