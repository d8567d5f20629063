"""Delta-push PageRank — Spark-native rebuild of the reference kernel.

Reference semantics (pinned by its own fixtures, which we replicate in
`tests/test_pagerank.py`):

- scores initialize to ``alpha = 1 - damping`` (`impl/PageRank.java:444-453`)
- each superstep, every node with ``delta > 0`` pushes
  ``damping * delta / outDegree`` to its OUT-neighbors (:455-481);
  the sum received becomes the node's next delta and is added to its
  score (:505-517)
- **dangling nodes push nothing** — no sink-mass redistribution; an
  unreferenced sink keeps exactly ``1-d``
  (`tests/.../impl/PageRankTest.java:139-142`,
  `PageRankWikiTest.java:74,131-141`)
- unweighted; OUTGOING direction (`algo/.../PageRankProc.java:143-147`)
- reference runs a fixed iteration count (default 20, damping 0.85,
  `PageRankProc.java:54-55`); we additionally support a tolerance
  (max |delta| < tol) termination as required by the north rule
  (1e-6 convergence).

Deliberate divergences (documented in SURVEY.md §4):

- no int fixed-point quantization of messages (×100,000,
  `PageRank.java:54,464,512`) — a JVM atomic-contention workaround, not
  semantics; float64 DataFrame math is strictly more accurate.
- the reference's degree-budget thread partitions
  (`PageRank.java:281-309`) become Catalyst shuffle partitions: the
  edge table is hash-partitioned by ``src`` once and cached. An
  explicit cumulative-degree partitioner feeding a per-partition numpy
  gather-scatter measured over 2x slower than this hash join on the
  same 1.2M-edge graph, so the plain join is the only plan.

One Spark job per superstep, one per fold (the reference's superstep
ends at one thread-pool barrier, `impl/PageRank.java:344-374`): the
push is `edges ⨝ delta` as a co-partitioned shuffled hash join, then
`groupBy(dst).sum` with map-side partial aggregation; the pushed frame
is local-checkpointed by the same job that computes its max delta.

Skew: optional salting (``salt_buckets``) forces an explicit two-phase
aggregation `groupBy(salt, dst) → groupBy(dst)` for power-law in-degree
hubs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpointing import SuperstepDriver, _release, adaptive_disabled


def _join_active(edges_inv: DataFrame, active: DataFrame) -> DataFrame:
    """edges ⨝ active on src, hash-built on `active`: a broadcast of a
    small frontier would cost a job of its own every superstep, and
    both sides already arrive hash-partitioned by the key."""
    return edges_inv.join(active.hint("shuffle_hash"), "src")


def _messages_dataframe(edges_inv: DataFrame, active: DataFrame, damping: float) -> DataFrame:
    """msgs(dst, recv): one join + hash agg per superstep."""
    return (
        _join_active(edges_inv, active)
        .select("dst", (F.col("delta") * F.col("inv_deg")).alias("m"))
        .groupBy("dst")
        .agg((F.lit(damping) * F.sum("m")).alias("recv"))
    )


def _messages_salted(
    edges_inv: DataFrame, active: DataFrame, damping: float, salt_buckets: int
) -> DataFrame:
    """Explicit two-phase aggregation: partial sums per (dst, salt) —
    salt derived from src so a hub dst's incoming mass is combined in
    `salt_buckets` independent reducers before the final (small) agg."""
    partial = (
        _join_active(edges_inv, active)
        .select(
            "dst",
            F.pmod(F.col("src"), F.lit(salt_buckets)).alias("_salt"),
            (F.col("delta") * F.col("inv_deg")).alias("m"),
        )
        .groupBy("dst", "_salt")
        .agg(F.sum("m").alias("pm"))
    )
    return partial.groupBy("dst").agg((F.lit(damping) * F.sum("pm")).alias("recv"))


def _edge_table(graph: Graph, id_t: str, n_parts: int, weighted: bool, article: bool) -> DataFrame:
    """edges_inv(src, dst, inv_deg): each edge with the fraction of its
    source's delta it carries, hash-partitioned by src. The window
    reuses that partitioning (one shuffle, no degree join), and so
    does every superstep's join once the table is cached
    (InMemoryRelation preserves outputPartitioning): the edge table
    never moves again, so per-superstep shuffle volume is O(V)."""
    edges = graph.edges
    cols = [F.col("src").cast(id_t).alias("src"), F.col("dst").cast(id_t).alias("dst")]
    by_src = Window.partitionBy("src")
    if weighted:
        # per-edge push fraction w/Σw replaces 1/deg; everything
        # downstream (messages, salting, folds) is weight-agnostic
        edges = edges.filter(F.col("weight") > 0)
        cols.append("weight")
        inv_deg = F.col("weight") / F.sum("weight").over(by_src)
    elif article:
        avg_deg = graph.edges.count() / max(graph.node_count(), 1)
        inv_deg = F.lit(1.0) / (F.count("*").over(by_src) + F.lit(float(avg_deg)))
    else:
        inv_deg = F.lit(1.0) / F.count("*").over(by_src)
    return (
        edges.select(*cols).repartition(n_parts, "src")
        .select("src", "dst", inv_deg.alias("inv_deg"))
    )


def pagerank(
    graph: Graph,
    damping: float = 0.85,
    max_iterations: int = 20,
    tolerance: float | None = None,
    salt_buckets: int = 1,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    num_partitions: int | None = None,
    fuse: int = 5,
    termination=None,
    source_nodes: DataFrame | None = None,
    weighted: bool = False,
    article: bool = False,
    init_ranks: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """Run PageRank; returns (ranks(id, rank), stats).

    ``weighted`` (EXTENSION — the reference loads PageRank unweighted,
    `algo/.../PageRankProc.java:143-147`): each node pushes
    ``damping * delta * w(u,v) / Σ_out w(u,·)`` instead of the uniform
    ``1/outDegree`` split. Only the per-edge push fraction changes — the
    delta recurrence, dangling convention (push nothing), and the
    message plan (plain or salted) are untouched, because the kernel
    already carries the fraction as a per-edge ``inv_deg`` column.
    Edges with non-positive weight are dropped from the push (they
    contribute no mass, and a node whose out-weights sum to 0 behaves
    as dangling). With all weights equal this reduces exactly to the
    unweighted kernel (differential-tested).

    ``article`` (EXTENSION — ArticleRank, ships in later Neo4j
    releases): push denominator ``outDegree + avgOutDegree`` (avg =
    E/V over the whole graph) instead of ``outDegree`` — damping the
    influence of low-out-degree citers. Again only the per-edge
    ``inv_deg`` changes; the affine fixpoint / delta recurrence is
    untouched. Mutually exclusive with ``weighted``.

    ``init_ranks`` (EXTENSION — warm-start / incremental PageRank):
    restart the iteration from a previous (id, rank) estimate — e.g.
    the last converged run before edges were appended. One O(E)
    residual pass seeds ``delta₀ = α + d·Mᵀr₀ − r₀`` and the SAME
    delta-push loop then runs with SIGNED deltas (a graph change can
    lower mass, so negative residuals must propagate; the geometric
    series r* = r₀ + Σ (d·Mᵀ)ᵏ·delta₀ converges identically). The
    residual pass itself counts as a superstep (it applies delta₀).
    Exact identity used by the oracle: residual(r_k of a cold run)
    equals the cold run's delta_{k+1}, so warm-starting from a
    k-iteration estimate and running j loop supersteps reproduces cold
    k+1+j bit-for-float-bit. Nodes absent from ``init_ranks`` (appended
    nodes) start at the cold ``α``. For a small perturbation the
    residual is concentrated near the changed edges, so convergence
    takes O(log(perturbation)/log d) supersteps instead of the full
    cold schedule — the checkpoint-resume story extended to GRAPH
    updates, not just mid-run restarts.

    ``source_nodes`` (EXTENSION — no reference counterpart): personalized
    PageRank. Teleport mass ``1-d`` is seeded ONLY at the given (id)
    frame instead of every node — the delta-push recurrence is otherwise
    identical, so scores are the unnormalized per-seed convention
    consistent with the reference's uniform init (each seed contributes
    exactly the mass a node gets in the global run; divide by |S| for
    the stochastic-vector convention). Nodes unreachable from the seed
    set stay at exactly 0. The first supersteps only touch the seeds'
    out-neighborhoods, so frontier volume starts at O(|S|·deg) — the
    seed-expansion workload this exists for.

    stats mirrors the reference's result row
    (`algo/.../results/PageRankScore.java` Stats: nodes, iterations,
    computeMillis) plus per-superstep convergence history.

    Execution shape (the delta-push invariant rank_t = rank_0 +
    Σ deltas received, `impl/PageRank.java:505-517`, lets the loop
    iterate on the 2-column *delta* frame alone):

    - set-up, one job: the edge table is hash-partitioned by ``src``
      and its per-edge push fraction ``inv_deg`` computed by a window
      over ``src``, then cached. It never moves again.
    - per superstep, one job: ``edges ⨝ delta`` (shuffled hash join;
      the delta frame is already hash-partitioned by id, except right
      after a fold) → two-phase sum by dst → local checkpoint of the
      new delta frame, written while the same job computes its max
      delta. No rank state is touched.
    - every ``fuse`` supersteps, one job: the checkpointed delta frames
      fold into the running rank accumulator with one union and one
      aggregation, which also carries the last frame's delta.

    This keeps per-superstep shuffle volume at O(active) and the job
    count at one per superstep, which is what the N→4N scaling
    criterion needs — fixed scheduling overhead is the enemy of
    scaling efficiency.
    """
    if weighted and article:
        raise ValueError("weighted and article are mutually exclusive")
    if init_ranks is not None and source_nodes is not None:
        raise ValueError("init_ranks and source_nodes are mutually exclusive")

    spark = graph.edges.sparkSession
    loop = SuperstepDriver(spark, checkpoint_dir, checkpoint_every, termination)

    alpha = 1.0 - damping

    def send(active: DataFrame) -> DataFrame:
        """d·Mᵀ·active — (id, delta) messages for an (src-named-id,
        delta) frame; shared by the superstep push and the warm-start
        residual pass."""
        if salt_buckets > 1:
            msgs = _messages_salted(edges_inv, active, damping, salt_buckets)
        else:
            msgs = _messages_dataframe(edges_inv, active, damping)
        return msgs.select(F.col("dst").alias("id"), F.col("recv").alias("delta"))

    # warm starts propagate SIGNED residuals; cold deltas are never
    # negative, so this filter (and the max |delta| test) fit every variant
    active_pred = F.col("delta") != 0.0

    def split(state: DataFrame):
        """(id, rank, delta) state → loop state (rank accumulator,
        active delta frontier)."""
        return state.select("id", "rank"), state.select("id", "delta").filter(active_pred)

    def init():
        if init_ranks is not None:
            # warm start: delta₀ = α + d·Mᵀ·r₀ − r₀ (one O(E) pass);
            # appended nodes absent from the estimate start cold at α
            r0 = (
                graph.nodes.select(F.col("id").cast(id_t).alias("id"))
                .join(
                    init_ranks.select(
                        F.col("id").cast(id_t).alias("id"), F.col("rank")
                    ),
                    "id", "left",
                )
                .select("id", F.coalesce("rank", F.lit(alpha)).alias("rank"))
                .localCheckpoint(eager=True)  # referenced twice below
            )
            # the residual pass IS a superstep: the loop convention is
            # that state.delta is already folded into state.rank, so
            # rank₀' = r₀ + delta₀ = α + d·Mᵀ·r₀ (warm-starting from a
            # cold k-iteration estimate thus lands exactly on cold k+1,
            # and each loop iteration advances one more cold step)
            msgs = send(r0.select(F.col("id").alias("src"), F.col("rank").alias("delta")))
            state = r0.join(msgs.withColumnRenamed("delta", "_recv"), "id", "left").select(
                "id",
                (F.lit(alpha) + F.coalesce("_recv", F.lit(0.0))).alias("rank"),
                (F.lit(alpha) + F.coalesce("_recv", F.lit(0.0)) - F.col("rank")
                 ).alias("delta"),
            )
        elif source_nodes is not None:
            seeds = source_nodes.select(
                F.col("id").cast(id_t).alias("id"), F.lit(True).alias("_seed")
            ).distinct()
            seeded = F.when(F.col("_seed"), F.lit(alpha)).otherwise(F.lit(0.0))
            state = (
                graph.nodes.select(F.col("id").cast(id_t).alias("id"))
                .join(seeds, "id", "left")
                .select("id", seeded.alias("rank"), seeded.alias("delta"))
            )
        else:
            state = graph.nodes.select(
                F.col("id").cast(id_t).alias("id"),
                F.lit(alpha).alias("rank"), F.lit(alpha).alias("delta"),
            )
        state = loop.cache.step(state, 0)
        if init_ranks is not None:
            _release(r0)
        return split(state)

    def push(cur: DataFrame) -> DataFrame:
        """One delta superstep: cur(id, active delta) → next deltas.

        Iterating on the *delta* frame alone (never the full rank state)
        keeps each superstep's plan referencing its predecessor exactly
        once, so a fused block grows the logical plan linearly instead
        of 2^k (the rank join would reference the state twice).
        """
        return send(cur.select(F.col("id").alias("src"), "delta"))

    # checkpointed delta frames pushed since the last fold; the last
    # superstep always folds, and a cancelled run's are released by the
    # driver with its other local checkpoints
    pending: list[DataFrame] = []

    def fold_state(acc: DataFrame) -> DataFrame:
        """acc + Σ pending deltas → (id, rank, delta=last frame's delta),
        as one union and one aggregation. Each pending frame is a local
        checkpoint, so the union reads its blocks and recomputes no
        push."""
        zero = F.lit(0.0)
        parts = acc.select("id", F.col("rank").alias("v"), zero.alias("d"))
        for i, p in enumerate(pending):
            last = F.col("delta") if i == len(pending) - 1 else zero
            parts = parts.unionByName(
                p.select("id", F.col("delta").alias("v"), last.alias("d"))
            )
        return parts.groupBy("id").agg(F.sum("v").alias("rank"), F.sum("d").alias("delta"))

    def superstep(it: int, st):
        acc, cur = st
        # a lazy localCheckpoint keeps the frame's hash(id) partitioning,
        # so the next push joins it without an exchange; the max-delta
        # job below is the one job that computes and checkpoints it
        cur = push(cur).localCheckpoint(eager=False)
        pending.append(cur)
        top = cur.agg(F.max(F.abs("delta"))).collect()[0][0] or 0.0
        converged = tolerance is not None and top < tolerance
        folded = (
            len(pending) >= max(1, fuse) or converged or it == max_iterations
            or loop.cache.durable(it)
        )
        if folded:
            state = loop.cache.step(fold_state(acc), it, value_col="delta")
            for p in pending:
                _release(p)
            pending.clear()
            acc, cur = split(state)
        max_delta = None if tolerance is None else top
        return (acc, cur), {"max_delta": max_delta, "folded": folded}, converged

    # AQE would run every query stage as a job of its own
    with adaptive_disabled(spark):
        # int-id compression (shared Heavy-vs-Huge analogue; bound scan
        # cached per snapshot via graph.id_type). inv_deg and messages stay
        # float64: a float32 reciprocal costs ~3e-8 per hop (measured) —
        # too close to the 1e-6 parity bar.
        id_t = graph.id_type()
        n_parts = num_partitions or spark.sparkContext.defaultParallelism
        edges_inv = loop.persist(_edge_table(graph, id_t, n_parts, weighted, article))
        acc, _ = loop.run(
            max_iterations, init, lambda df, _meta: split(df), superstep, resume
        )
        n_nodes = graph.node_count()

    result = acc.select(F.col("id").cast("long").alias("id"), "rank")
    stats = {
        "nodes": n_nodes,
        "iterations": loop.ran,
        "didConverge": loop.stopped,
        "damping": damping,
        "computeMillis": loop.millis(),
        "history": loop.history,
    }
    return result, stats
