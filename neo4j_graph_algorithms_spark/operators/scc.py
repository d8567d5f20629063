"""Strongly connected components — `algo.scc.*`.

Reference ships Tarjan variants (sequential: `impl/SCCTarjan.java:22-45`,
`SCCIterativeTarjan.java`, `SCCTunedTarjan.java`) and the parallel
**MultiStep** pipeline: trim → FW-BW on the giant SCC → coloring →
Tarjan remainder (`impl/multistepscc/MultistepSCC.java:22-46`,
`MultiStepColoring.java`, `MultiStepTrim.java`, `MultiStepFWBW.java`).
Tarjan's DFS stack cannot distribute; the MultiStep family is *already*
the distributed formulation, so the rebuild implements exactly that
shape (SURVEY.md §2.c #9):

1. **trim** — repeatedly peel nodes with in- or out-degree 0 within the
   active set; each is its own singleton SCC (`MultiStepTrim.java`).
2. **color** — propagate the maximum node id along forward edges to a
   fixpoint; every color class is closed under forward reachability
   from its root (`MultiStepColoring.java`).
3. **backward sweep** — BFS from each color root over REVERSED edges,
   restricted to same-colored nodes: reached set = the root's SCC
   (`MultiStepFWBW.java` backward phase). All roots sweep in the same
   joins (color is part of the key) — no per-root loop.
4. repeat on the residue until empty.

Fixture `tests/.../impl/SCCTest.java:60-157`: three 3-cycles a-b-c,
d-e-f, g-h-i bridged a→d, g isolated from them — 3 non-trivial SCCs.

Output: (id, component) where component = min original node id of the
SCC — deterministic; the reference's set ids are impl-defined and its
tests compare partitions.
"""

from __future__ import annotations

import time
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpointing import adaptive_disabled, check_termination, releasing, truncate_plan


def scc(
    graph: Graph, max_outer: int | None = None, termination=None
) -> tuple[DataFrame, dict]:
    """MultiStep-shaped SCC; returns (assignments(id, component), stats).

    Termination: every outer round assigns at least one SCC (the color
    root of the maximal color class always discovers its own SCC), so
    the loop converges in at most `condensation-chain-depth` rounds —
    unbounded by default. An explicit ``max_outer`` cap RAISES if nodes
    remain unassigned when it is hit (never silent row loss);
    ``didConverge`` is surfaced in stats either way.
    """
    spark = graph.edges.sparkSession
    t0 = time.time()
    n_parts = spark.sparkContext.defaultParallelism
    # int-id compression (cached Heavy-vs-Huge analogue, graph.id_type):
    # the color-propagation fixpoint — the hot inner loop — shuffles
    # (id, color) tuples every round; both columns halve on int32 ids
    id_t = graph.id_type()
    edges_all = (
        graph.edges.select(
            F.col("src").cast(id_t).alias("src"), F.col("dst").cast(id_t).alias("dst")
        )
        .filter(F.col("src") != F.col("dst")).distinct()
        .repartition(n_parts, "src").persist()
    )
    edges_all.count()

    active = graph.nodes.select(F.col("id").cast(id_t).alias("id"))
    # per-round assignment frames: each is a cheap projection of frames
    # already materialized inside the round (trim keep-sets, reached
    # sweeps), so they are collected LAZILY and unioned once at the end
    # — the old union+localCheckpoint per assign() call rewrote the
    # entire O(assigned) accumulator every trim peel and every outer
    # round (O(rounds × V) copies on a deep condensation chain)
    assigned_frames: list[DataFrame] = []
    outer = 0
    converged = False
    with releasing(spark, [edges_all]), adaptive_disabled(spark):
        # per-round state frames go through truncate_plan (not plain
        # localCheckpoint): active/color/reached all sit in diamond-
        # shaped update loops whose checkpoint-origin chains otherwise
        # grow exponentially with round count — a >20-link condensation
        # chain or >20-node cycle would hang the driver in stats
        # estimation (plans/checkpointing.truncate_plan). `sub` keeps a
        # plain localCheckpoint: its origin is shallow (persisted edges
        # ⨝ severed active) and the preserved src-partitioning is what
        # keeps the color fixpoint's per-round join exchange-free.
        active = truncate_plan(active)
        while max_outer is None or outer < max_outer:
            check_termination(spark, termination, outer)
            outer += 1
            if active.isEmpty():
                converged = True
                break
            # edges restricted to the active set; partitioned by `src`
            # before the checkpoint (localCheckpoint preserves
            # outputPartitioning) so the color-propagation fixpoint loop
            # — the hot inner loop, one join on src per round — streams
            # the cached sub-graph in place and shuffles only the color
            # frame
            sub = (
                edges_all.join(active.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(active.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .repartition(n_parts, "src")
                .localCheckpoint(eager=True)
            )
            # 1. trim: peel degree-0 nodes iteratively (singleton SCCs)
            while True:
                has_out = sub.select(F.col("src").alias("id")).distinct()
                has_in = sub.select(F.col("dst").alias("id")).distinct()
                keep = active.join(has_out, "id", "left_semi").join(has_in, "id", "left_semi")
                keep = truncate_plan(keep)
                trimmed = active.join(keep, "id", "left_anti")
                n_trimmed = trimmed.count()
                if n_trimmed == 0:
                    break
                assigned_frames.append(trimmed.select("id", F.col("id").alias("component")))
                active = keep
                sub = (
                    sub.join(active.withColumnRenamed("id", "src"), "src", "left_semi")
                    .join(active.withColumnRenamed("id", "dst"), "dst", "left_semi")
                    .repartition(n_parts, "src")
                    .localCheckpoint(eager=True)
                )
            if active.isEmpty():
                converged = True
                break
            # 2. color: forward max-id propagation to fixpoint
            color = active.select("id", F.col("id").alias("color")).localCheckpoint(eager=True)
            while True:
                pushed = (
                    sub.join(color.select(F.col("id").alias("src"), "color"), "src")
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.max("color").alias("nc"))
                )
                stepped = truncate_plan(
                    color.join(pushed, "id", "left").select(
                        "id", F.greatest("color", F.coalesce("nc", "color")).alias("color")
                    )
                )
                changed = (
                    stepped.join(color.withColumnRenamed("color", "prev"), "id")
                    .filter(F.col("color") != F.col("prev"))
                    .count()
                )
                color = stepped
                if changed == 0:
                    break
            # 3. backward sweep from each color root within its class.
            # `reached` accumulates as a lazy union of the per-step
            # frames (each checkpointed once as `step`); the anti-join
            # probes that union — never a per-step rewrite of the whole
            # reached set (re-folded every 64 steps to bound plan width)
            roots = color.filter(F.col("id") == F.col("color")).select("color")
            step = roots.select(
                F.col("color").alias("id"), "color"
            ).localCheckpoint(eager=True)
            reached = step
            frontier = step
            sweep_steps = 1
            while True:
                step = truncate_plan(
                    sub.join(frontier.select(F.col("id").alias("dst"), "color"), "dst")
                    .select(F.col("src").alias("id"), "color")
                    .distinct()
                    .join(color.withColumnRenamed("color", "c2"), "id")
                    .filter(F.col("color") == F.col("c2"))
                    .select("id", "color")
                    .join(reached, ["id", "color"], "left_anti")
                )
                if step.isEmpty():
                    break
                reached = reached.unionByName(step)
                sweep_steps += 1
                if sweep_steps % 64 == 0:
                    reached = truncate_plan(reached)
                frontier = step
            # SCC id = min node id of the reached set per color
            mins = reached.groupBy("color").agg(F.min("id").alias("component"))
            assigned_frames.append(reached.join(mins, "color").select("id", "component"))
            active = truncate_plan(
                active.join(reached.select("id"), "id", "left_anti")
            )

    if not converged:
        converged = active.isEmpty()
    if not converged:
        n_left = active.count()
        raise RuntimeError(
            f"scc: max_outer={max_outer} outer rounds exhausted with "
            f"{n_left} nodes unassigned (didConverge=False) — raise the "
            "cap (a chain-shaped SCC condensation needs one round per link)"
        )
    if assigned_frames:
        result = reduce(DataFrame.unionByName, assigned_frames).select(
            F.col("id").cast("long").alias("id"),
            F.col("component").cast("long").alias("component"),
        )
    else:
        result = graph.nodes.select("id", F.col("id").alias("component"))
    stats = {
        "outerRounds": outer,
        "didConverge": converged,
        "computeMillis": int((time.time() - t0) * 1000),
    }
    return result, stats
