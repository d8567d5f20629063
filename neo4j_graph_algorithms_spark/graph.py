"""Graph normalization layer — the Spark analogue of the reference's
``GraphLoader`` + storage back-ends.

Reference (see SURVEY.md §1): the Java engine projects a Neo4j store into
an immutable in-memory adjacency snapshot (`core/.../core/GraphLoader.java:55-563`,
`core/.../heavyweight/HeavyGraphFactory.java:58-137`). Here the "graph
snapshot" is a pair of DataFrames:

    nodes(id: long, ...optional property columns)
    edges(src: long, dst: long, weight: double)

and each GraphLoader feature maps to a declarative transformation
(SURVEY.md §2.a, operator-for-operator):

- label / rel-type scan          -> `filter()` before construction
- IdMapping long->dense          -> `densify_ids` (zipWithIndex-free
                                    `row_number` over sorted distinct keys)
- `withOptional*WeightsFromProperty(prop, default)`
                                 -> `F.coalesce(col, lit(default))`
- `withAccumulateWeights(true)`  -> `groupBy(src,dst).sum(weight)`
  (`GraphLoader.java:552-555`)
- `asUndirected(true)`           -> union with reversed edges
  (`GraphLoader.java:136-139`)
- `Degrees`                      -> cached groupBy count
  (`api/Degrees.java:29-32`)

All transformations are lazy; callers `persist()` via `Graph.cache()`
once the normalized form is final (the analogue of the reference's
load-once-then-compute lifecycle, `doc/design.adoc:10-38`).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SRC, DST, WEIGHT = "src", "dst", "weight"


def normalize_edges(
    edges: DataFrame,
    src: str = SRC,
    dst: str = DST,
    weight: str | None = None,
    default_weight: float = 1.0,
    accumulate_weights: bool = False,
    dedup: bool = False,
) -> DataFrame:
    """Project an arbitrary DataFrame into canonical (src, dst, weight).

    `weight=None` attaches the default (ref: NullWeightMap,
    `core/.../core/NullWeightMap.java` — constant default for absent
    properties). `accumulate_weights` sums parallel-edge weights
    (ref `HeavyCypherGraphFactory.java:142-151`); `dedup` keeps one
    parallel edge (weight of an arbitrary-but-deterministic one: max).
    """
    cols = [F.col(src).cast("long").alias(SRC), F.col(dst).cast("long").alias(DST)]
    if weight is not None:
        cols.append(F.coalesce(F.col(weight).cast("double"), F.lit(default_weight)).alias(WEIGHT))
    else:
        cols.append(F.lit(float(default_weight)).alias(WEIGHT))
    out = edges.select(*cols)
    if accumulate_weights:
        out = out.groupBy(SRC, DST).agg(F.sum(WEIGHT).alias(WEIGHT))
    elif dedup:
        out = out.groupBy(SRC, DST).agg(F.max(WEIGHT).alias(WEIGHT))
    return out


def undirect(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """asUndirected: each edge present in both directions.

    Ref `GraphLoader.java:136-139` + triangle loading
    `algo/.../TriangleProc.java:102-106`. With `dedup`, parallel /
    reciprocal duplicates collapse so every unordered pair appears
    exactly twice (once per direction) — the invariant the triangle
    kernels rely on.
    """
    rev = edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), F.col(WEIGHT))
    out = edges.unionByName(rev)
    if dedup:
        out = out.groupBy(SRC, DST).agg(F.max(WEIGHT).alias(WEIGHT))
    return out.filter(F.col(SRC) != F.col(DST))


def orient(edges: DataFrame, by_degree: DataFrame | None = None) -> DataFrame:
    """Canonical one-direction-per-pair orientation for triangle plans.

    Default: low id -> high id (the Spark analogue of the reference's
    `t > u` once-per-triple pruning, `impl/TriangleCountQueue.java:119-145`).
    With `by_degree` (a `(id, degree)` DataFrame), points each edge from
    the lower-degree endpoint to the higher-degree one — the standard
    anti-skew orientation: a hub vertex then has small *out*-adjacency in
    the wedge join.
    """
    und = edges.filter(F.col(SRC) != F.col(DST))
    if by_degree is None:
        return (
            und.select(
                F.least(SRC, DST).alias(SRC),
                F.greatest(SRC, DST).alias(DST),
                F.col(WEIGHT),
            )
            .groupBy(SRC, DST)
            .agg(F.max(WEIGHT).alias(WEIGHT))
        )
    dsrc = by_degree.select(F.col("id").alias(SRC), F.col("degree").alias("_dsrc"))
    ddst = by_degree.select(F.col("id").alias(DST), F.col("degree").alias("_ddst"))
    j = und.join(dsrc, SRC, "left").join(ddst, DST, "left").na.fill({"_dsrc": 0, "_ddst": 0})
    # rank = (degree, id): strict total order => each pair oriented once
    keep_fwd = (F.col("_dsrc") < F.col("_ddst")) | (
        (F.col("_dsrc") == F.col("_ddst")) & (F.col(SRC) < F.col(DST))
    )
    return (
        j.select(
            F.when(keep_fwd, F.col(SRC)).otherwise(F.col(DST)).alias(SRC),
            F.when(keep_fwd, F.col(DST)).otherwise(F.col(SRC)).alias(DST),
            F.col(WEIGHT),
        )
        .groupBy(SRC, DST)
        .agg(F.max(WEIGHT).alias(WEIGHT))
    )


def degrees(edges: DataFrame, direction: str = "out") -> DataFrame:
    """(id, degree) — ref `api/Degrees.java`, O(1) array read in Java,
    a cached pre-aggregation here (broadcastable when small)."""
    if direction == "out":
        key = SRC
    elif direction == "in":
        key = DST
    else:  # both
        both = edges.select(F.col(SRC).alias("id")).unionByName(
            edges.select(F.col(DST).alias("id"))
        )
        return both.groupBy("id").agg(F.count("*").alias("degree"))
    return edges.groupBy(F.col(key).alias("id")).agg(F.count("*").alias("degree"))


def distributed_rank(
    df: DataFrame, col: str = "id", n_buckets: int | None = None
) -> DataFrame:
    """(col, _rank): zero-based global rank ordered by `col` over DISTINCT
    values, with no single-reducer window. Two-level scan:

    1. range-shuffle rows into ordered buckets (`repartitionByRange` —
       bucket i's values all precede bucket i+1's);
    2. within-bucket `row_number` (parallel across buckets);
    3. per-bucket counts -> exclusive bases (n_buckets rows, the only
       global window) broadcast-joined back.

    This is the IdMapping-scale replacement for `row_number() over
    (order by col)`: identical output, O(rows/bucket) per task.
    """
    spark = df.sparkSession
    n_buckets = n_buckets or spark.sparkContext.defaultParallelism * 4
    bucketed = (
        df.select(col)
        .repartitionByRange(n_buckets, F.col(col))
        .withColumn("_bkt", F.spark_partition_id())
    )
    w_in = Window.partitionBy("_bkt").orderBy(col)
    # localCheckpoint (not persist): the two consumers below read the
    # materialized RDD, and its blocks are released by the context
    # cleaner once the caller drops the result — a bare persist() here
    # leaked a cached frame per densify_ids/source-numbering call
    ranked = bucketed.withColumn("_r_in", F.row_number().over(w_in) - 1).localCheckpoint(
        eager=True
    )
    bases = (
        ranked.groupBy("_bkt")
        .agg(F.count("*").alias("_cnt"))
        .withColumn(
            "_base",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_bkt", "_base")
    )
    return (
        ranked.join(F.broadcast(bases), "_bkt")
        .select(F.col(col), (F.col("_r_in") + F.col("_base")).cast("long").alias("_rank"))
    )


def densify_ids(
    edges: DataFrame, nodes: DataFrame | None = None, id_col: str = "id"
) -> tuple[DataFrame, DataFrame]:
    """Bidirectional long<->dense mapping (ref IdMap,
    `core/.../core/IdMap.java:36-53` and density guarantee
    `doc/design.adoc:97-102`).

    Returns `(mapping, dense_edges)` where mapping is
    `(orig_id: long, id: long dense 0..N-1)` and dense_edges has src/dst
    remapped. Deterministic: dense id = rank of original id. The reverse
    map is the same DataFrame read the other way (the Java `long[]
    graphIds` array).

    Scale note: the rank is a *distributed two-level scan*
    (`distributed_rank`): range-bucketed parallel windows + broadcast
    bucket bases — never a single global window, so the mapping build
    has no one-reducer bottleneck at 10^12 ids. (The
    hot ingest path in `sources/link_extract.py` skips ranking entirely
    and hashes.)
    """
    ids = edges.select(F.col(SRC).alias(id_col)).unionByName(edges.select(F.col(DST).alias(id_col)))
    if nodes is not None:
        ids = ids.unionByName(nodes.select(F.col(id_col)))
    distinct = ids.distinct()
    mapping = distributed_rank(distinct, id_col).select(
        F.col(id_col).alias("orig_id"), F.col("_rank").alias("id")
    )
    m_src = mapping.select(F.col("orig_id").alias(SRC), F.col("id").alias("_nsrc"))
    m_dst = mapping.select(F.col("orig_id").alias(DST), F.col("id").alias("_ndst"))
    dense = (
        edges.join(m_src, SRC)
        .join(m_dst, DST)
        .select(F.col("_nsrc").alias(SRC), F.col("_ndst").alias(DST), F.col(WEIGHT))
    )
    return mapping, dense


def compact_id_type(df: DataFrame, cols: tuple[str, ...] = (SRC, DST)) -> str:
    """``"int"`` when every id in `cols` fits int32, else ``"long"`` —
    the Spark analogue of the reference's Heavy (int) vs Huge (long)
    backend split (`core/.../heavyweight` vs `core/.../huge`,
    SURVEY.md §1.2). Casting ids down shrinks the per-edge tuple 24→16
    bytes, and the memory-bandwidth-bound superstep joins move a third
    fewer bytes — on this sandbox memory bandwidth is exactly the
    scaling ceiling (BASELINE.md), so every long-id kernel loop should
    run through this check.

    Both bounds matter: the documented ingest path assigns full-range
    xxhash64 ids, ~half of them negative — a frame whose max fits int32
    but whose min is below INT_MIN must stay long, or the cast fails
    under ANSI mode (or silently wraps ids without it)."""
    mx_expr = F.greatest(*cols) if len(cols) > 1 else F.col(cols[0])
    mn_expr = F.least(*cols) if len(cols) > 1 else F.col(cols[0])
    bounds = df.agg(F.max(mx_expr).alias("mx"), F.min(mn_expr).alias("mn")).collect()[0]
    max_id = bounds["mx"] or 0
    min_id = bounds["mn"] or 0
    return "int" if (max_id <= (1 << 31) - 1 and min_id >= -(1 << 31)) else "long"


@dataclass
class Graph:
    """Immutable graph snapshot: the Spark analogue of
    `core/.../api/Graph.java:27` (IdMapping + Degrees + NodeIterator +
    RelationshipIterator + RelationshipWeights in one composite)."""

    nodes: DataFrame  # (id: long, ...props)
    edges: DataFrame  # (src: long, dst: long, weight: double)
    _cached: list[DataFrame] = field(default_factory=list, repr=False)
    _id_type: str | None = field(default=None, repr=False, compare=False)
    _node_count: int | None = field(default=None, repr=False, compare=False)

    @classmethod
    def from_edges(
        cls,
        edges: DataFrame,
        nodes: DataFrame | None = None,
        **norm_kwargs,
    ) -> "Graph":
        e = normalize_edges(edges, **norm_kwargs)
        if nodes is None:
            ids = e.select(F.col(SRC).alias("id")).unionByName(e.select(F.col(DST).alias("id")))
            nodes = ids.distinct()
        else:
            nodes = nodes.withColumn("id", F.col("id").cast("long"))
        return cls(nodes=nodes, edges=e)

    @classmethod
    def from_edge_list(
        cls,
        spark: SparkSession,
        edge_list: list[tuple],
        n_nodes: int | None = None,
        node_rows: list[tuple] | None = None,
        node_schema: str = "id long",
    ) -> "Graph":
        """Literal fixture constructor (tests; FIXTURES.md graphs)."""
        rows = [
            (int(s), int(d), float(w[0]) if w else 1.0) for (s, d, *w) in edge_list
        ]
        e = spark.createDataFrame(rows, "src long, dst long, weight double")
        if node_rows is not None:
            n = spark.createDataFrame(node_rows, node_schema)
        elif n_nodes is not None:
            n = spark.range(n_nodes).select(F.col("id"))
        else:
            n = None
        return cls.from_edges(e, nodes=n, weight="weight")

    def out_degrees(self) -> DataFrame:
        return degrees(self.edges, "out")

    def in_degrees(self) -> DataFrame:
        return degrees(self.edges, "in")

    def undirected(self) -> "Graph":
        return Graph(nodes=self.nodes, edges=undirect(self.edges))

    def reversed(self) -> "Graph":
        return Graph(
            nodes=self.nodes,
            edges=self.edges.select(
                F.col(DST).alias(SRC), F.col(SRC).alias(DST), F.col(WEIGHT)
            ),
        )

    def cache(self) -> "Graph":
        self.nodes = self.nodes.persist()
        self.edges = self.edges.persist()
        self._cached = [self.nodes, self.edges]
        return self

    def release(self) -> None:
        """Ref `Graph.release()` — drop the snapshot."""
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def id_type(self) -> str:
        """Cached `compact_id_type` over BOTH edge endpoints and node ids.

        The snapshot is immutable, so the bound scan runs at most once
        per Graph no matter how many kernels (or kernel-internal frames)
        ask — previously WCC/LPA each re-ran two full-table aggregations
        per call, several O(E)+O(V) scans ahead of every kernel in a
        chained pipeline. Covering the node frame too makes the answer
        safe for any kernel frame whose values are node ids (labels,
        components, sources): isolated node ids outside the edge range
        can't be silently truncated by an edges-only check.
        """
        if self._id_type is None:
            eb = self.edges.agg(
                F.max(F.greatest(SRC, DST)).alias("mx"),
                F.min(F.least(SRC, DST)).alias("mn"),
            ).collect()[0]
            nb = self.nodes.agg(
                F.max("id").alias("mx"), F.min("id").alias("mn")
            ).collect()[0]
            mx = max(eb["mx"] or 0, nb["mx"] or 0)
            mn = min(eb["mn"] or 0, nb["mn"] or 0)
            self._id_type = (
                "int" if (mx <= (1 << 31) - 1 and mn >= -(1 << 31)) else "long"
            )
        return self._id_type

    def node_count(self) -> int:
        """Memoized like `id_type`: kernels chained on one snapshot
        (WCC, the triangle broadcast decision, PageRank) share one
        count job."""
        if self._node_count is None:
            self._node_count = self.nodes.count()
        return self._node_count

    def edge_count(self) -> int:
        return self.edges.count()
