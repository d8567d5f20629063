"""Neighborhood function N(t) + effective diameter — HyperANF on DataFrames.

EXTENSION (no counterpart in the reference's 47-procedure surface): the
standard web-scale link-graph measurement — how many ordered pairs
(s, v) are within t hops, for t = 1..T — from which the effective
diameter (smallest t with N(t) ≥ q·N(T)) falls out. On a 10^12-file
repo graph the exact answer is an O(V²) object, so the scale path is
the HyperANF scheme (Boldi/Rosa/Vigna, WWW'11): one HyperLogLog sketch
per node, one sketch-union superstep per depth, Σ per-node estimates
per step.

Spark-first shape — the entire kernel is JVM-side column algebra, no
Python UDF anywhere:

- a sketch is an ``array<tinyint>`` of m = 2^p registers; the node's
  own seed register comes from ``xxhash64(id)`` (low p bits index,
  leading-zero rank of the remaining 64-p bits as the value) via
  ``F.transform`` over a static sequence;
- the per-superstep union is ``edges ⨝ frontier`` then an elementwise-
  max merge: ``F.aggregate(collect_list(sketch), zeros,
  zip_with(acc, x, greatest))`` — a real map-side-combinable hash
  aggregation (optionally two-phase/salted for hub in-degrees, the
  same anti-skew discipline as PageRank's message sum);
- the estimator (raw HLL + linear-counting small-range correction) is
  ``F.aggregate(sketch, pow(2, -r))`` + ``F.filter(sketch, r == 0)``
  column expressions, summed across nodes in the same job;
- the systolic optimization from the paper maps to the frontier
  discipline every other kernel here uses: sketches are monotone, so
  only nodes whose sketch CHANGED last step need to send it again —
  array equality is a plain column comparison.

State is O(V·m) rows of fixed width (p=8 → 256 B/node ≈ 256 GB at
10^12 nodes, spread over executors and re-rooted per superstep), vs
the O(V²) exact object. The exact twin (`neighborhood_exact`) rides
the MS-BFS engine's (node, depth, n_sources) aggregate and is the
differential/oracle anchor at test scales.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph, undirect
from ..plans.checkpointing import SuperstepDriver, _release


def _edges_pull(graph: Graph, direction: str) -> DataFrame:
    """Edge frame oriented so a join on ``dst`` pulls the neighbor
    sketches a node must union: ball-from-v follows OUT edges, so v
    pulls from its out-neighbors (w of v→w)."""
    if direction == "out":
        return graph.edges.select("src", "dst")
    if direction == "in":
        return graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return undirect(graph.edges).select("src", "dst")


def _alpha(m: int) -> float:
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _seed_sketch(id_col, p: int):
    """m-register sketch containing exactly {id}: register
    ``hash & (m-1)`` holds the leading-zero rank (+1) of the remaining
    64-p hash bits. Pure column algebra: xxhash64 → index/rank scalars
    → transform over a static 0..m-1 sequence."""
    m = 1 << p
    h = F.xxhash64(id_col)
    idx = F.pmod(h, F.lit(m))  # low bits (pmod: xxhash64 is signed)
    # rank = leading zeros of the high 64-p bits + 1, computed as
    # (64-p) - floor(log2(rest)) for rest > 0; rest == 0 → max rank.
    rest = F.shiftrightunsigned(h, p)
    width = 64 - p
    rank = F.when(rest == 0, F.lit(width + 1)).otherwise(
        F.lit(width) - F.floor(F.log2(rest))
    ).cast("tinyint")
    i = F.sequence(F.lit(0), F.lit(m - 1))
    return F.transform(i, lambda j: F.when(j == idx, rank).otherwise(F.lit(0).cast("tinyint")))


def _merge_agg(col: str, m: int):
    """Group aggregate: elementwise max over the group's sketches.
    collect_list + fold keeps it JVM-side; memory per group is bounded
    by (group size × m) bytes — cap hub fan-in with two-phase salting
    upstream when in-degrees are power-law (see neighborhood_function).
    """
    zeros = F.array_repeat(F.lit(0).cast("tinyint"), m)
    return F.aggregate(
        F.collect_list(col), zeros,
        lambda acc, x: F.zip_with(acc, x, lambda a, b: F.greatest(a, b)),
    )


def _estimate_expr(col: str, m: int):
    """Per-row HLL cardinality estimate: raw alpha·m²/Σ2^-r with the
    linear-counting small-range correction (E ≤ 2.5m and zero registers
    present)."""
    inv_sum = F.aggregate(
        F.col(col), F.lit(0.0), lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double"))
    )
    zeros = F.size(F.filter(F.col(col), lambda r: r == F.lit(0).cast("tinyint")))
    raw = F.lit(_alpha(m) * m * m) / inv_sum
    small = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    return F.when((raw <= 2.5 * m) & (zeros > 0), small).otherwise(raw)


#: per-group sketch-buffer budget for the collect_list merge: with m
#: registers (1 byte each) a group of TARGET sketches buffers
#: ~TARGET·m bytes in one aggregation group — 8 MB keeps even the
#: largest group comfortably inside an executor task.
_SALT_GROUP_BYTES = 8 << 20
_SALT_MAX = 64


def _auto_salt_buckets(max_in_degree: int, m: int) -> int:
    """Salt count that bounds the per-group collect_list buffer to
    ~_SALT_GROUP_BYTES for the worst (max-in-degree) hub — mirrors
    `msbfs._auto_wave_size`'s derive-from-cached-stats discipline.
    1 (plan unchanged) whenever every group already fits."""
    target = max(4096, _SALT_GROUP_BYTES // max(m, 1))
    if max_in_degree <= target:
        return 1
    return min(_SALT_MAX, -(-max_in_degree // target))


def neighborhood_function(
    graph: Graph,
    max_depth: int = 16,
    p: int = 10,
    direction: str = "out",
    tolerance: float = 0.0,
    salt_buckets: int | str = "auto",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    termination=None,
) -> tuple[DataFrame, dict]:
    """HyperANF: approximate N(t) for t = 1..max_depth.

    Returns (df(depth, n_pairs_est), stats). ``n_pairs_est`` is the
    estimated count of ordered pairs (s, v), s ≠ v, d(s→v) ≤ t — the
    self-pair V is subtracted so the numbers line up with
    `neighborhood_exact` and the apsp-style oracles. stats carries the
    per-depth history, `effective_diameter_90` (linear interpolation,
    HyperANF convention), and convergence info.

    ``tolerance``: stop early when N(t) grows by less than this
    relative fraction (0 = run all depths or until the frontier
    empties, whichever is first — the frontier empties exactly when
    every sketch is saturated, i.e. true convergence).

    ``salt_buckets`` > 1 splits the merge into partial (id, salt)
    merges before the final per-id merge — bounding the collect_list
    group size for power-law in-degree hubs, exactly like PageRank's
    salted two-phase message sum. The default ``"auto"`` derives the
    bucket count from the graph's max pull-side in-degree and the
    sketch width (`_auto_salt_buckets`), so the single-phase plan is
    kept whenever every group fits the buffer budget and a hub graph
    gets the two-phase merge without caller tuning; the chosen count
    is surfaced in stats.

    ``checkpoint_dir`` + ``resume=True``: durable depth snapshots
    (state (id, sketch, _changed) + the N(t) series so far in
    meta.json); sketches are monotone and the `_changed` column
    restores the exact systolic frontier, so a killed deep run resumed
    from its last snapshot continues the exact sketch sequence (the
    `IterationCache` contract shared with pagerank/wcc). The per-depth
    N(t) float SUMS may differ from an uninterrupted run in the last
    ulp — the parquet re-read changes the summation order.
    """
    spark = graph.edges.sparkSession
    loop = SuperstepDriver(spark, checkpoint_dir, checkpoint_every, termination)
    m = 1 << p
    id_t = graph.id_type()

    edges = _edges_pull(graph, direction).select(
        F.col("src").cast(id_t).alias("src"), F.col("dst").cast(id_t).alias("dst")
    )
    n_parts = spark.sparkContext.defaultParallelism
    n_nodes = graph.node_count()
    edges = loop.persist(edges.repartition(n_parts, "dst"))

    if salt_buckets == "auto":
        # the merge groups on the PULL side's src — group size = that
        # node's out-count in the oriented frame; one cheap agg over
        # the just-cached edges
        with loop.setup():
            max_in = edges.groupBy("src").agg(F.count("*").alias("d")).agg(
                F.max("d")
            ).collect()[0][0] or 0
        salt_buckets = _auto_salt_buckets(int(max_in), m)
    salt_buckets = int(salt_buckets)

    def total(sketches: DataFrame) -> float:
        """Σ per-node estimates: N(t) including the V self-pairs."""
        return float(
            sketches.select(_estimate_expr("sketch", m).alias("e"))
            .agg(F.sum("e")).collect()[0][0] or 0.0
        )

    def init():
        sketches = graph.nodes.select(
            F.col("id").cast(id_t).alias("id"), _seed_sketch(F.col("id"), p).alias("sketch")
        ).localCheckpoint(eager=True)
        # every sketch "changed" at t=0
        return sketches, sketches, total(sketches), []

    def restore(state: DataFrame, meta: dict):
        state = state.localCheckpoint(eager=True)
        return (
            state,
            state.filter(F.col("_changed")).select("id", "sketch"),
            float(meta["prev_n"]),
            list(meta["series"]),
        )

    # loop state (sketches, frontier, prev_n, series): the per-node
    # sketches (the eager localCheckpoint of the last depth, released
    # once the next depth's exists), those that changed last depth, the
    # last raw Σ estimate, and the N(t) series so far (depth t at index t-1)
    def superstep(depth: int, st):
        sketches, frontier, prev_n, series = st
        msgs = edges.join(
            frontier.select(F.col("id").alias("dst"), "sketch"), "dst"
        ).select(F.col("src").alias("id"), "sketch")
        if salt_buckets > 1:
            # any row→salt assignment is correct (elementwise max is
            # associative + commutative, so the merged sketch doesn't
            # depend on grouping order); a per-row counter spreads a
            # hub's fan-in evenly over the partial reducers
            partial = msgs.withColumn(
                "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
            )
            inc = (
                partial.groupBy("id", "_salt").agg(_merge_agg("sketch", m).alias("sketch"))
                .groupBy("id").agg(_merge_agg("sketch", m).alias("inc"))
            )
        else:
            inc = msgs.groupBy("id").agg(_merge_agg("sketch", m).alias("inc"))
        nxt = (
            sketches.join(inc, "id", "left")
            .select(
                "id", "sketch",
                F.when(
                    F.col("inc").isNull(), F.col("sketch")
                ).otherwise(
                    F.zip_with("sketch", "inc", lambda a, b: F.greatest(a, b))
                ).alias("_merged"),
            )
            .select(
                "id",
                F.col("_merged").alias("sketch"),
                (F.col("_merged") != F.col("sketch")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        _release(sketches)
        n_est = total(nxt)
        frontier = nxt.filter("_changed").select("id", "sketch")
        changed = frontier.count()
        growth = (n_est - prev_n) / prev_n if prev_n > 0 else 1.0
        series.append(max(0.0, n_est - n_nodes))
        # durable snapshot at END of round, so meta carries the series
        # through this depth and the running raw estimate (the resume
        # anchor); per-round truncation already happened via the eager
        # localCheckpoint above
        if loop.cache.durable(depth):
            loop.cache.step(nxt, depth, metrics={"series": series, "prev_n": n_est})
        stop = changed == 0 or (tolerance > 0 and growth < tolerance)
        return (
            (nxt, frontier, n_est, series),
            {"n_pairs_est": series[-1], "changed": changed},
            stop,
        )

    sketches, *_, nf = loop.run(max_depth, init, restore, superstep, resume)
    _release(sketches)  # the result is built from the driver-side series
    # stopped with a still-moving frontier = the tolerance cut, not convergence
    converged = loop.stopped and loop.history[-1]["changed"] == 0

    # effective diameter at q=0.9 with linear interpolation between
    # depths (HyperANF convention); denominator = last measured N
    eff_d = None
    if nf:
        target = 0.9 * nf[-1]
        for i, v in enumerate(nf):
            if v >= target:
                # nf[i] is depth i+1; interpolate from the previous
                # depth (depth 0 contributes 0 non-self pairs), so the
                # crossing lands in (i, i+1]
                lo = nf[i - 1] if i > 0 else 0.0
                frac = (target - lo) / (v - lo) if v > lo else 0.0
                eff_d = i + frac
                break

    rows = [(d, float(v)) for d, v in enumerate(nf, start=1)]
    out = spark.createDataFrame(rows, "depth int, n_pairs_est double")
    stats = {
        "nodes": n_nodes,
        "registers": m,
        "salt_buckets": salt_buckets,
        "depths_run": len(nf),
        "didConverge": converged,
        "effective_diameter_90": eff_d,
        "history": loop.history,
        "computeMillis": loop.millis(),
    }
    return out, stats


def neighborhood_exact(
    graph: Graph,
    max_depth: int = 16,
    direction: str = "out",
    termination=None,
) -> DataFrame:
    """Exact N(t): (depth, n_pairs) — cumulative ordered pairs (s, v),
    s ≠ v, with d(s→v) ≤ depth, for depth = 1..max_depth.

    Rides the MS-BFS engine's (node, depth, n_sources) aggregate
    (bitmask frontiers, wave-bounded state), so it never materializes
    the O(V²) pair list; the per-depth totals are one tiny groupBy over
    the aggregate plus a running-sum window over ≤ max_depth rows.
    """
    from .msbfs import ms_bfs_depths

    from pyspark.sql import Window

    depths = ms_bfs_depths(
        graph, direction=direction, max_depth=max_depth, termination=termination
    )
    per_depth = depths.groupBy("depth").agg(F.sum("n_sources").alias("n"))
    # the window runs over at most max_depth rows — driver-scale state
    w = Window.orderBy("depth").rowsBetween(Window.unboundedPreceding, 0)
    present = per_depth.select(
        "depth", F.sum("n").over(w).cast("long").alias("n_pairs")
    )
    # densify: depths past the diameter still report the (flat) total
    spark = graph.edges.sparkSession
    all_d = spark.range(1, max_depth + 1).select(F.col("id").cast("int").alias("depth"))
    wd = Window.orderBy("depth").rowsBetween(Window.unboundedPreceding, 0)
    return (
        all_d.join(present, "depth", "left")
        .select("depth", F.max("n_pairs").over(wd).alias("n_pairs"))
        .select("depth", F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"))
    )
