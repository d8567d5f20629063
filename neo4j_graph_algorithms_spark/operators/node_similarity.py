"""Node similarity — neighborhood Jaccard over the link graph.

EXTENSION (the era's companion library ships `algo.similarity.jaccard`
over id lists; GDS later productized it as nodeSimilarity): score node
pairs by the Jaccard overlap of their out-neighborhoods — the
related-page / co-citation primitive for link graphs.

Spark shape — identical to the exact n-gram dedup plan, with the
adjacency set playing the shingle set (`pipeline/dedup.py::
ngram_jaccard_pairs` is the same algebra over text):

- |A ∩ B| from the shared-neighbor self-join keyed on the neighbor
  (one shuffle), |A ∪ B| = |A| + |B| − |A∩B| from the degree frame;
- the quadratic danger is a high-IN-degree shared neighbor w (every
  pair of w's in-neighbors meets at w): ``max_common_degree`` drops
  such hubs from the candidate join BEFORE it fans out — the
  stop-shingle cap transplanted; sizes and intersections then
  consistently exclude the dropped hubs (the capped measure is the
  Jaccard of the hub-filtered neighborhoods, stated in the result);
- the DEFAULT is ``"auto"``: the ``AUTO_CAP_FLOOR`` cap engages only
  when the graph actually has a hub past it (ordinary graphs keep
  the exact answer and the exact plan), and the dropped-hub counts
  are surfaced in the stats dict and a logged warning, so a capped
  run is never silent;
- output is (id_a, id_b, similarity) with id_a < id_b, thresholded;
  `top_k` keeps the k best partners per node via a per-node window.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..graph import Graph, undirect


#: metric -> similarity expression over (common, sz_a, sz_b). Jaccard
#: is the nodeSimilarity default; overlap (subset affinity) and cosine
#: (set cosine) mirror the companion library's algo.similarity.overlap
#: / .cosine over id lists.
_METRICS = {
    "jaccard": lambda c, a, b: c / (a + b - c),
    "overlap": lambda c, a, b: c / F.least(a, b),
    "cosine": lambda c, a, b: c / F.sqrt(a * b),
}

#: the graded auto cap. The shared-neighbor self-join co-locates every
#: row of one dst key in one task and emits d²/2 pairs from it, so the
#: cap is a PER-TASK output bound, not a quantile: d = 1000 → ~500k
#: pair rows from the worst key — one healthy task. A quantile-derived
#: cap (e.g. p99.9 of in-degrees) is exactly wrong here: it exempts
#: the extreme tail, which is the only part that hurts. Below the cap,
#: capping would trade exactness for nothing, so `auto` engages the
#: filter ONLY when some shared neighbor actually exceeds it.
AUTO_CAP_FLOOR = 1000


def node_similarity(
    graph: Graph,
    threshold: float = 0.1,
    direction: str = "out",
    max_common_degree: int | str | None = "auto",
    top_k: int | None = None,
    metric: str = "jaccard",
    return_stats: bool = False,
) -> DataFrame | tuple[DataFrame, dict]:
    """Similar node pairs: (id_a, id_b, similarity), a < b,
    similarity ≥ threshold over `direction` neighborhoods.
    ``metric``: jaccard | overlap | cosine (see _METRICS) — all three
    share the intersection/size frames; only the final expression
    differs.

    ``max_common_degree``: "auto" (default — drop shared-neighbor
    hubs past AUTO_CAP_FLOOR, engaging ONLY when the graph actually
    has such a hub, so hub-free graphs keep the exact answer and the
    exact uncapped plan), an int (explicit cap), or None (never cap —
    the quadratic-risk escape hatch, caller's responsibility at
    scale).

    ``return_stats=True`` returns (df, stats) with the engaged cap and
    dropped-hub/edge counts, so a capped (approximate) run is visible.
    """
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")
    if direction == "out":
        adj = graph.edges.select("src", "dst")
    elif direction == "in":
        adj = graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    else:
        adj = undirect(graph.edges).select("src", "dst")
    adj = adj.distinct()

    stats: dict = {"cap": None, "dropped_hubs": 0, "dropped_edges": 0}
    cap: int | None
    if max_common_degree == "auto":
        in_deg = adj.groupBy("dst").agg(F.count("*").alias("_in")).persist()
        max_in = int(in_deg.agg(F.max("_in")).collect()[0][0] or 0)
        # engage only when a hub actually exceeds the cap — otherwise
        # drop the filter join entirely (identical plan to uncapped)
        cap = AUTO_CAP_FLOOR if max_in > AUTO_CAP_FLOOR else None
        if cap is None:
            in_deg.unpersist()
            in_deg = None
    elif max_common_degree is None:
        cap, in_deg = None, None
    else:
        cap = int(max_common_degree)
        in_deg = adj.groupBy("dst").agg(F.count("*").alias("_in")).persist()
    if cap is not None:
        dropped = in_deg.filter(F.col("_in") > cap).agg(
            F.count("*").alias("h"), F.sum("_in").alias("e")
        ).collect()[0]
        stats.update(
            cap=cap,
            dropped_hubs=int(dropped.h or 0),
            dropped_edges=int(dropped.e or 0),
        )
        if stats["dropped_hubs"]:
            logging.getLogger(__name__).warning(
                "node_similarity: dropping %d shared-neighbor hubs (%d edges, "
                "in-degree > %d) from the candidate join — similarities are "
                "over the hub-filtered neighborhoods",
                stats["dropped_hubs"], stats["dropped_edges"], cap,
            )
        adj = (
            adj.join(in_deg.filter(F.col("_in") <= cap), "dst")
            .select("src", "dst")
        )
    adj = adj.persist()
    sizes = adj.groupBy("src").agg(F.count("*").alias("sz"))

    common = (
        adj.alias("a").join(adj.alias("b"), "dst")
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(F.col("a.src").alias("id_a"), F.col("b.src").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    out = (
        common
        .join(sizes.select(F.col("src").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("src").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a", "id_b",
            _METRICS[metric](
                F.col("common"), F.col("sz_a"), F.col("sz_b")
            ).alias("similarity"),
        )
        .filter(F.col("similarity") >= threshold)
    )
    if top_k is not None:
        # keep each node's k best partners (either column position),
        # deterministic tie-break on the partner id
        sym = out.unionByName(
            out.select(
                F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "similarity"
            )
        )
        w = Window.partitionBy("id_a").orderBy(F.desc("similarity"), F.col("id_b"))
        kept = (
            sym.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top_k)
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .distinct()
        )
        out = out.join(kept, ["id_a", "id_b"], "left_semi")
    out = out.localCheckpoint(eager=True)
    adj.unpersist()
    if in_deg is not None:
        in_deg.unpersist()
    if return_stats:
        return out, stats
    return out
