"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Strategy: the link-graph kernels run over an edge table extracted from a
repo-file table derived *deterministically from the driver's `documents`
testdata* (`sources/link_extract.py`), so a DuckDB oracle can rebuild the
identical content strings with plain SQL and re-derive the same edges.
The iterative kernels (PageRank and variants / WCC / LPA / SCC /
delta-SSSP / MST / Brandes / k-core / dup-cluster WCC) get **unrolled**
SQL oracles — the exact superstep recurrence expanded to a fixed CTE
chain (run past the observed convergence depth where the recurrence is
a monotone fixpoint) — because both engines are deterministic given
synchronous semantics. Floating-point columns are rounded (6 dp) on
BOTH sides so summation order can't flip the value hash.

Each query is declared once, where it is defined: ``@query(oracle,
headline=..., check=...)`` on its ``q_<name>`` function registers a
`Query` in `QUERIES`, and `queries()`, `oracle_sql()` and bench.py's
`HEADLINE` are derived from that table. An oracle-backed query carries
its DuckDB SQL; a rows-only query (seeded hashing or an
argmax-contraction hierarchy that plain SQL can't replay) names its
ORACLE-BACKED `*_check` twin, which computes the query's SQL-verifiable
invariants Spark-side (edge-valid transitions and exact walker counts;
refinement-consistent coarsening; monotone ±10%-of-exact HLL estimates;
planted-duplicate recall floors) against constants the DuckDB side
derives from the base tables — so the driver gate verifies every
operator, not just the hash-reproducible ones; the raw outputs
additionally stay differential-tested in pytest.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROUND = 6  # decimal places for float result columns (both engines)


# --------------------------------------------------------------------------
# shared Spark-side helpers
# --------------------------------------------------------------------------

def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _doc_link_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → repo-file table → vectorized link extraction.

    Returns raw link rows (src, dst, content_sha256) in doc-id space —
    one row per import line (duplicates preserved)."""
    from neo4j_graph_algorithms_spark.sources.link_extract import (
        extract_links,
        repo_table_from_documents,
    )

    docs = _read(spark, sf_dir, "documents")
    files = repo_table_from_documents(docs)
    links = extract_links(files)
    # anchored doc-id extraction; FILTER BEFORE CAST: under the default
    # ANSI mode (spark.sql.ansi.enabled=true in Spark 4) casting the ''
    # a non-matching regexp_extract yields would raise
    # CAST_INVALID_INPUT, so rows whose path/target isn't src/d<N>.py
    # (an import-looking line in the document text) are dropped first —
    # the same WHERE-then-CAST order the DuckDB oracle uses
    pat = r"^src/d(\d+)\.py$"
    return (
        links.filter(F.col("path").rlike(pat) & F.col("dst_path").rlike(pat))
        .select(
            F.regexp_extract("path", pat, 1).cast("long").alias("src"),
            F.regexp_extract("dst_path", pat, 1).cast("long").alias("dst"),
            "content_sha256",
        )
    )


def _doc_graph(spark: SparkSession, sf_dir: str):
    """Deduped doc link graph with the full document set as nodes."""
    from neo4j_graph_algorithms_spark.graph import Graph

    edges = _doc_link_rows(spark, sf_dir).select("src", "dst")
    nodes = _read(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    return Graph.from_edges(edges, nodes=nodes, dedup=True)


# --------------------------------------------------------------------------
# shared SQL fragments (DuckDB oracle side)
# --------------------------------------------------------------------------

# content rebuilt exactly as sources.link_extract.repo_table_from_documents
# builds it: text + chain/hub import lines, self-imports skipped.
_SQL_DOC_EDGES = r"""
nn AS (SELECT count(*) AS n FROM documents),
files AS MATERIALIZED (
  SELECT doc_id AS i,
         text
         || CASE WHEN (doc_id+1) % nn.n <> doc_id
                 THEN chr(10) || 'import src/d' || ((doc_id+1) % nn.n) || '.py' ELSE '' END
         || CASE WHEN (doc_id+2) % nn.n <> doc_id
                 THEN chr(10) || 'import src/d' || ((doc_id+2) % nn.n) || '.py' ELSE '' END
         || CASE WHEN doc_id % 97 <> doc_id
                 THEN chr(10) || 'import src/d' || (doc_id % 97) || '.py' ELSE '' END
         AS content
  FROM documents, nn
),
raw_links AS MATERIALIZED (
  SELECT i AS src,
         CAST(unnest(regexp_extract_all(content, '(?m)^import\s+(src/d\d+\.py)$', 1)) AS VARCHAR) AS dst_path,
         sha256(content) AS content_sha256
  FROM files
),
resolved AS MATERIALIZED (
  SELECT src,
         CAST(regexp_extract(dst_path, '^src/d(\d+)\.py$', 1) AS BIGINT) AS dst,
         content_sha256
  FROM raw_links
  WHERE regexp_extract(dst_path, '^src/d(\d+)\.py$', 1) <> ''
),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM resolved)
"""
# the same CTEs as a query's WITH clause
_SQL_EDGES_CTE = "WITH " + _SQL_DOC_EDGES.strip().rstrip(",")


def _sql_pagerank_unrolled(
    iterations: int,
    seed_pred: str | None = None,
    weighted: bool = False,
    article: bool = False,
) -> str:
    """Reference delta-push recurrence expanded to a CTE chain
    (init 1-d; push d*delta/outdeg; dangling nodes push nothing).
    ``seed_pred`` (personalized variant) restricts the 0.15 init mass
    to documents matching the predicate; all other nodes start at 0.
    ``weighted`` pushes d*delta*w/Σw with the deterministic edge weight
    ((src + 2*dst) % 7) + 1 — dependent on BOTH endpoints, so it does
    not cancel back to the uniform 1/deg split. ``article`` pushes
    d*delta/(outdeg + E/V) — the ArticleRank denominator."""
    init = f"CASE WHEN {seed_pred} THEN 0.15 ELSE 0.0 END" if seed_pred else "0.15"
    w = "(((e.src + 2*e.dst) % 7) + 1.0)"
    parts = [
        "WITH " + _SQL_DOC_EDGES.strip().rstrip(",") + ",",
        (f"deg AS (SELECT src, sum((((src + 2*dst) % 7) + 1.0)) AS d FROM e GROUP BY src),"
         if weighted else
         "deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),"),
        "avgd AS (SELECT (SELECT count(*) * 1.0 FROM e) / (SELECT count(*) FROM documents) AS a),",
        f"r0 AS (SELECT doc_id AS id, {init} AS rank, {init} AS delta FROM documents),",
    ]
    if weighted:
        push = f"r.delta * {w} / deg.d"
    elif article:
        push = "r.delta / (deg.d + avgd.a)"
    else:
        push = "r.delta / deg.d"
    for k in range(1, iterations + 1):
        p, c = f"r{k - 1}", f"r{k}"
        parts.append(
            f"m{k} AS MATERIALIZED (SELECT e.dst AS id, 0.85 * sum({push}) AS recv "
            f"FROM e JOIN {p} r ON e.src = r.id JOIN deg ON deg.src = e.src "
            f"CROSS JOIN avgd WHERE r.delta > 0 GROUP BY e.dst),"
        )
        parts.append(
            f"{c} AS MATERIALIZED (SELECT r.id, r.rank + coalesce(m.recv, 0) AS rank, "
            f"coalesce(m.recv, 0) AS delta FROM {p} r LEFT JOIN m{k} m ON r.id = m.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT id, ROUND(rank, {ROUND}) AS rank FROM r{iterations} ORDER BY id")
    return "\n".join(parts)


def _sql_wcc_unrolled(rounds: int) -> str:
    """Min-label fixpoint over the thresholded part–supplier bipartite
    graph, expanded to `rounds` neighbor-min CTE steps (enough to pass
    the graph's diameter; convergence asserted by tests/check harness)."""
    parts = [
        "WITH edges_t AS MATERIALIZED (",
        "  SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst",
        "  FROM lineitem WHERE l_quantity >= 48.0),",
        "nodes AS MATERIALIZED (SELECT DISTINCT l_partkey AS id FROM lineitem",
        "          UNION SELECT DISTINCT l_suppkey + 1000000 FROM lineitem),",
        "sym AS MATERIALIZED (SELECT src, dst FROM edges_t",
        "        UNION SELECT dst, src FROM edges_t),",
        "c0 AS (SELECT id, id AS component FROM nodes),",
    ]
    for k in range(1, rounds + 1):
        p, c = f"c{k - 1}", f"c{k}"
        parts.append(
            f"{c} AS MATERIALIZED (SELECT n.id, least(n.component, coalesce(m.mc, n.component)) AS component "
            f"FROM {p} n LEFT JOIN ("
            f"SELECT s.dst AS id, min(r.component) AS mc "
            f"FROM sym s JOIN {p} r ON s.src = r.id GROUP BY s.dst"
            f") m ON n.id = m.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT id, component FROM c{rounds} ORDER BY id")
    return "\n".join(parts)


def _sql_ngram_clusters_unrolled(rounds: int, shingle_k: int = 20) -> str:
    """Transitive closure (min-label fixpoint) of the exact n-gram
    Jaccard ≥ 0.85 pair graph, unrolled to `rounds` neighbor-min steps
    (far above the cluster diameter at checked scales; convergence is
    asserted by hash equality with the Spark WCC fixpoint), then a
    corpus-wide left join marking the min-id canonical survivor.
    shingle_k=20 mirrors the driver query (see q_ngram_dup_clusters)."""
    parts = [
        "WITH idx AS (SELECT i FROM generate_series(1, 1024) t(i)),",
        "sh AS MATERIALIZED (",
        f"  SELECT DISTINCT doc_id AS id, substr(text, CAST(i AS INT), {shingle_k}) AS s",
        f"  FROM documents JOIN idx ON i <= greatest(len(text) - {shingle_k - 1}, 1)),",
        "sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),",
        "inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n",
        "          FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id",
        "          GROUP BY a.id, b.id),",
        "pairs AS MATERIALIZED (SELECT id_a, id_b",
        "       FROM inter JOIN sizes sa ON sa.id = id_a",
        "            JOIN sizes sb ON sb.id = id_b",
        "       WHERE n * 1.0 / (sa.sz + sb.sz - n) >= 0.85),",
        "sym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs",
        "     UNION SELECT id_b, id_a FROM pairs),",
        "c0 AS (SELECT DISTINCT src AS id, src AS comp FROM sym),",
    ]
    for k in range(1, rounds + 1):
        p, c = f"c{k - 1}", f"c{k}"
        parts.append(
            f"{c} AS MATERIALIZED (SELECT n.id, least(n.comp, coalesce(m.mc, n.comp)) AS comp "
            f"FROM {p} n LEFT JOIN ("
            f"SELECT s.dst AS id, min(r.comp) AS mc "
            f"FROM sym s JOIN {p} r ON s.src = r.id GROUP BY s.dst"
            f") m ON n.id = m.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        "SELECT d.doc_id AS id, coalesce(c.comp, d.doc_id) AS cluster_id,\n"
        "       CAST(coalesce(c.comp, d.doc_id) = d.doc_id AS INT) AS is_canonical\n"
        f"FROM documents d LEFT JOIN c{rounds} c ON d.doc_id = c.id ORDER BY id"
    )
    return "\n".join(parts)


def _sql_lpa_unrolled(iterations: int) -> str:
    """Synchronous LPA with parity half-steps and deterministic
    tie-break (max vote, then min label) — the exact recurrence of
    operators/label_propagation.py, unit edge weights."""
    parts = ["WITH " + _SQL_DOC_EDGES.strip().rstrip(",") + ",",
             "l0 AS (SELECT doc_id AS id, doc_id AS label FROM documents),"]
    step = 0
    for _ in range(iterations):
        for parity in (0, 1):
            p, c = f"l{step}", f"l{step + 1}"
            parts.append(
                f"v{step} AS MATERIALIZED (SELECT e.src AS node, l.label AS nbr_label, "
                f"sum(1.0) AS vote FROM e JOIN {p} l ON e.dst = l.id "
                f"GROUP BY e.src, l.label),"
            )
            parts.append(
                f"w{step} AS MATERIALIZED (SELECT node, nbr_label FROM ("
                f"SELECT node, nbr_label, row_number() OVER "
                f"(PARTITION BY node ORDER BY vote DESC, nbr_label ASC) AS rn FROM v{step}"
                f") WHERE rn = 1),"
            )
            parts.append(
                f"{c} AS MATERIALIZED (SELECT l.id, CASE WHEN l.id % 2 = {parity} "
                f"AND w.nbr_label IS NOT NULL THEN w.nbr_label ELSE l.label END AS label "
                f"FROM {p} l LEFT JOIN w{step} w ON l.id = w.node),"
            )
            step += 1
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT id, label FROM l{step} ORDER BY id")
    return "\n".join(parts)


def _sql_sssp_unrolled(rounds: int) -> str:
    """k-round Bellman-Ford relaxation from doc 0 with weight
    (src % 7) + 1 — exactly the hop-bounded distances the frontier
    relaxation in operators/shortest_path.py produces after k rounds."""
    parts = [
        "WITH " + _SQL_DOC_EDGES.strip().rstrip(",") + ",",
        "we AS MATERIALIZED (SELECT src, dst, (src % 7) + 1.0 AS w FROM e),",
        "d0 AS (SELECT doc_id AS id, CASE WHEN doc_id = 0 THEN 0.0 "
        "ELSE CAST('infinity' AS DOUBLE) END AS dist FROM documents),",
    ]
    for k in range(1, rounds + 1):
        p, c = f"d{k - 1}", f"d{k}"
        parts.append(
            f"{c} AS MATERIALIZED (SELECT n.id, least(n.dist, "
            f"coalesce(m.nd, CAST('infinity' AS DOUBLE))) AS dist "
            f"FROM {p} n LEFT JOIN ("
            f"SELECT we.dst AS id, min(r.dist + we.w) AS nd "
            f"FROM we JOIN {p} r ON we.src = r.id "
            f"WHERE r.dist < CAST('infinity' AS DOUBLE) GROUP BY we.dst"
            f") m ON n.id = m.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT id, ROUND(dist, {ROUND}) AS distance FROM d{rounds} "
        "WHERE dist < CAST('infinity' AS DOUBLE) ORDER BY id"
    )
    return "\n".join(parts)


def _sql_apsp_prefix(max_depth: int) -> str:
    """Depth-bounded unweighted BFS all-pairs CTE chain (no final
    SELECT): frontier f_k = unseen successors of f_{k-1}; cumulative
    c_k tracks shortest depth."""
    parts = [
        "WITH " + _SQL_DOC_EDGES.strip().rstrip(",") + ",",
        "c0 AS (SELECT doc_id AS source, doc_id AS target, 0 AS depth FROM documents),",
        "f0 AS (SELECT * FROM c0),",
    ]
    for k in range(1, max_depth + 1):
        parts.append(
            f"f{k} AS MATERIALIZED (SELECT DISTINCT f.source, e.dst AS target, {k} AS depth "
            f"FROM f{k - 1} f JOIN e ON e.src = f.target "
            f"WHERE NOT EXISTS (SELECT 1 FROM c{k - 1} c "
            f"WHERE c.source = f.source AND c.target = e.dst)),"
        )
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT * FROM c{k - 1} UNION ALL SELECT * FROM f{k}),"
        )
    parts[-1] = parts[-1].rstrip(",")
    return "\n".join(parts)


def _sql_apsp_unrolled(max_depth: int) -> str:
    return (
        _sql_apsp_prefix(max_depth)
        + f"\nSELECT source, target, depth FROM c{max_depth} WHERE depth > 0 "
        "ORDER BY source, target"
    )


def _sql_kcore_unrolled(rounds: int, thresh: float = 45.0) -> str:
    """Iterative h-index fixpoint (c0 = degree; c_{t+1}(v) = h-index of
    neighbor values) on the thresholded part–supplier bipartite graph,
    unrolled to `rounds` ≥ the observed convergence depth (7 at sf0.01;
    the h-index sequence is monotone non-increasing, so extra rounds
    are no-ops). Same recurrence as operators/kcore.py."""
    parts = [
        "WITH et AS MATERIALIZED (",
        f"  SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst",
        f"  FROM lineitem WHERE l_quantity >= {thresh}),",
        "sym AS MATERIALIZED (SELECT src AS node, dst AS nbr FROM et WHERE src <> dst",
        "     UNION SELECT dst, src FROM et WHERE src <> dst),",
        "c0 AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS core FROM sym GROUP BY node),",
    ]
    for k in range(1, rounds + 1):
        p, c = f"c{k - 1}", f"c{k}"
        parts.append(
            f"{c} AS MATERIALIZED (SELECT cc.node, CAST(coalesce(h.h, cc.core) AS BIGINT) AS core "
            f"FROM {p} cc LEFT JOIN ("
            f"SELECT t.node, max(least(t.val, t.rn)) AS h FROM ("
            f"SELECT s.node, p2.core AS val, "
            f"row_number() OVER (PARTITION BY s.node ORDER BY p2.core DESC) AS rn "
            f"FROM sym s JOIN {p} p2 ON s.nbr = p2.node) t GROUP BY t.node"
            f") h ON cc.node = h.node),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT node AS id, core FROM c{rounds} ORDER BY id")
    return "\n".join(parts)


def _sql_neighborhood_unrolled(max_depth: int) -> str:
    """Exact neighborhood function N(t): cumulative ordered pairs
    (s≠v, d(s→v) ≤ t) per depth t, from the same depth-bounded BFS
    chain the apsp oracle uses."""
    return (
        _sql_apsp_prefix(max_depth)
        + f"""
, per AS (SELECT depth, count(*) AS n FROM c{max_depth} WHERE depth > 0 GROUP BY depth),
ds AS (SELECT CAST(i AS INT) AS depth FROM generate_series(1, {max_depth}) t(i))
SELECT ds.depth,
       CAST(coalesce((SELECT sum(n) FROM per WHERE per.depth <= ds.depth), 0) AS BIGINT) AS n_pairs
FROM ds ORDER BY ds.depth"""
    )


def _sql_closeness_unrolled(max_depth: int) -> str:
    """(n-1)/farness over the depth-bounded pair set."""
    return (
        _sql_apsp_prefix(max_depth)
        + f"""
, farness AS (SELECT target AS id, sum(depth) AS f
              FROM c{max_depth} WHERE depth > 0 GROUP BY target),
nn2 AS (SELECT count(*) AS n FROM documents)
SELECT d.doc_id AS id,
       ROUND(CASE WHEN coalesce(fa.f, 0) > 0
                  THEN (nn2.n - 1) * 1.0 / fa.f ELSE 0.0 END, {ROUND}) AS centrality
FROM documents d CROSS JOIN nn2 LEFT JOIN farness fa ON d.doc_id = fa.id
ORDER BY id"""
    )


def _sql_harmonic_unrolled(max_depth: int) -> str:
    """(Σ 1/depth) / (n-1) over the depth-bounded pair set."""
    return (
        _sql_apsp_prefix(max_depth)
        + f"""
, inv AS (SELECT target AS id, sum(1.0 / depth) AS s
          FROM c{max_depth} WHERE depth > 0 GROUP BY target),
nn2 AS (SELECT count(*) AS n FROM documents)
SELECT d.doc_id AS id,
       ROUND(coalesce(inv.s, 0.0) / greatest(nn2.n - 1, 1), {ROUND}) AS centrality
FROM documents d CROSS JOIN nn2 LEFT JOIN inv ON d.doc_id = inv.id
ORDER BY id"""
    )


def _sql_betweenness_unrolled(max_depth: int) -> str:
    """Depth-bounded Brandes, fully unrolled: forward BFS levels carry
    shortest-path counts σ (f_k), the backward pass pulls
    δ(v) = Σ_w σv/σw·(1+δw) from depth-(k+1) successors (d_k) — the
    exact recurrence of operators/betweenness.py::_brandes_wave.
    Centralities are rounded to 3 decimals: δ sums are order-dependent
    float accumulations (unlike the integer farness sums), so a 1e-6
    comparison would sit on the rounding boundary."""
    parts = [
        "WITH " + _SQL_DOC_EDGES.strip().rstrip(",") + ",",
        "f0 AS (SELECT doc_id AS source, doc_id AS node, 1.0 AS sigma FROM documents),",
        "c0 AS (SELECT source, node FROM f0),",
    ]
    for k in range(1, max_depth + 1):
        parts.append(
            f"f{k} AS MATERIALIZED (SELECT f.source, e.dst AS node, sum(f.sigma) AS sigma "
            f"FROM f{k - 1} f JOIN e ON e.src = f.node "
            f"WHERE NOT EXISTS (SELECT 1 FROM c{k - 1} c "
            f"WHERE c.source = f.source AND c.node = e.dst) "
            f"GROUP BY f.source, e.dst),"
        )
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT source, node FROM c{k - 1} "
            f"UNION ALL SELECT source, node FROM f{k}),"
        )
    parts.append(
        f"d{max_depth} AS MATERIALIZED "
        f"(SELECT source, node, sigma, 0.0 AS delta FROM f{max_depth}),"
    )
    for d in range(max_depth, 0, -1):
        parts.append(
            f"ct{d} AS MATERIALIZED (SELECT w.source, e.src AS node, "
            f"sum(pv.sigma / w.sigma * (1.0 + w.delta)) AS acc "
            f"FROM d{d} w JOIN e ON e.dst = w.node "
            f"JOIN f{d - 1} pv ON pv.source = w.source AND pv.node = e.src "
            f"GROUP BY w.source, e.src),"
        )
        parts.append(
            f"d{d - 1} AS MATERIALIZED (SELECT pv.source, pv.node, pv.sigma, "
            f"coalesce(ct.acc, 0.0) AS delta FROM f{d - 1} pv "
            f"LEFT JOIN ct{d} ct ON ct.source = pv.source AND ct.node = pv.node),"
        )
    # depth-0 rows are source==node and excluded (Brandes); every
    # deeper level has source != node by construction (the source is
    # settled at depth 0 and never rediscovered)
    alld = " UNION ALL ".join(
        f"SELECT node, delta FROM d{k}" for k in range(1, max_depth + 1)
    )
    parts.append(f"alld AS ({alld}),")
    parts.append("bc AS (SELECT node AS id, sum(delta) AS c FROM alld GROUP BY node)")
    parts.append(
        "SELECT d.doc_id AS id, ROUND(coalesce(bc.c, 0.0), 3) AS centrality "
        "FROM documents d LEFT JOIN bc ON d.doc_id = bc.id ORDER BY id"
    )
    return "\n".join(parts)


def _sql_delta_sssp_unrolled(max_id: int) -> str:
    """Exact SSSP oracle for delta-stepping on the doc subgraph with
    ids < `max_id`: Bellman-Ford unrolled max_id-1 rounds (≥ the
    longest possible shortest path in a max_id-node graph, so this is
    convergence, not a hop bound). Weights (src % 7) + 1 are small
    integers, so distances are exact doubles on both engines."""
    parts = [
        "WITH " + _SQL_DOC_EDGES.strip().rstrip(",") + ",",
        f"we AS MATERIALIZED (SELECT src, dst, (src % 7) + 1.0 AS w FROM e "
        f"WHERE src < {max_id} AND dst < {max_id}),",
        f"d0 AS (SELECT doc_id AS id, CASE WHEN doc_id = 0 THEN 0.0 "
        f"ELSE CAST('infinity' AS DOUBLE) END AS dist FROM documents "
        f"WHERE doc_id < {max_id}),",
    ]
    for k in range(1, max_id):
        p, c = f"d{k - 1}", f"d{k}"
        parts.append(
            f"{c} AS MATERIALIZED (SELECT n.id, least(n.dist, "
            f"coalesce(m.nd, CAST('infinity' AS DOUBLE))) AS dist "
            f"FROM {p} n LEFT JOIN ("
            f"SELECT we.dst AS id, min(r.dist + we.w) AS nd "
            f"FROM we JOIN {p} r ON we.src = r.id "
            f"WHERE r.dist < CAST('infinity' AS DOUBLE) GROUP BY we.dst"
            f") m ON n.id = m.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT id, ROUND(dist, {ROUND}) AS distance FROM d{max_id - 1} "
        "WHERE dist < CAST('infinity' AS DOUBLE) ORDER BY id"
    )
    return "\n".join(parts)


def _sql_scc64() -> str:
    """SCC oracle on the bounded doc subgraph (ids < 64) with
    deterministic back-edges (reverse of every edge whose src % 3 == 0)
    so real multi-node SCCs exist. Reachability closure by 6 rounds of
    path doubling (R_2k = R_k ∘ R_k; 2^6 = 64 covers every path), then
    component(i) = min{j : i→j and j→i} — the same min-id
    representative operators/scc.py assigns."""
    parts = [
        "WITH " + _SQL_DOC_EDGES.strip().rstrip(",") + ",",
        "e64 AS (SELECT DISTINCT src, dst FROM e "
        "WHERE src < 64 AND dst < 64 AND src <> dst),",
        "eb AS (SELECT src, dst FROM e64 "
        "UNION SELECT dst, src FROM e64 WHERE src % 3 = 0),",
        "r0 AS MATERIALIZED (SELECT src, dst FROM eb "
        "UNION SELECT doc_id, doc_id FROM documents WHERE doc_id < 64),",
    ]
    for k in range(1, 7):
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT DISTINCT a.src, b.dst "
            f"FROM r{k - 1} a JOIN r{k - 1} b ON a.dst = b.src),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        "SELECT x.src AS id, min(x.dst) AS component "
        "FROM r6 x JOIN r6 y ON y.src = x.dst AND y.dst = x.src "
        "GROUP BY x.src ORDER BY id"
    )
    return "\n".join(parts)


def _sql_mst64() -> str:
    """MST oracle on the bounded undirected doc subgraph (ids < 64)
    with DISTINCT deterministic weights (w = a·64 + b on the canonical
    pair): the MST is then unique and an edge belongs to it iff its
    weight equals the minimax path weight between its endpoints (cycle
    property — any path avoiding the edge with a smaller max weight
    would evict it). Minimax distances by 6 rounds of min-max path
    doubling (identity rows at w=0 keep shorter paths)."""
    parts = [
        "WITH " + _SQL_DOC_EDGES.strip().rstrip(",") + ",",
        "e64 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
        "FROM e WHERE src < 64 AND dst < 64 AND src <> dst),",
        "p AS MATERIALIZED (SELECT a, b, CAST(a * 64 + b AS DOUBLE) AS w FROM e64),",
        "m0 AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM p "
        "UNION SELECT b, a, w FROM p "
        "UNION SELECT doc_id, doc_id, 0.0 FROM documents WHERE doc_id < 64),",
    ]
    for k in range(1, 7):
        parts.append(
            f"m{k} AS MATERIALIZED (SELECT src, dst, min(w) AS w FROM ("
            f"SELECT a.src, b.dst, greatest(a.w, b.w) AS w "
            f"FROM m{k - 1} a JOIN m{k - 1} b ON a.dst = b.src) GROUP BY src, dst),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        "SELECT p.a AS src, p.b AS dst, p.w AS weight FROM p "
        "JOIN m6 ON m6.src = p.a AND m6.dst = p.b AND m6.w = p.w "
        "ORDER BY src, dst"
    )
    return "\n".join(parts)


def _sql_louvain_unrolled(iterations: int) -> str:
    """Single-level Louvain, unrolled: per half-step, per node, the
    neighbor community with max modularity gain
    ΔQ = w_in/2m − k_i·(Σtot − [own]k_i)/(2m)² (exactly
    operators/louvain.py's recurrence; parity half-steps, ties broken
    (gain desc, community asc)). Gains are bit-identical across engines
    (sums of unit weights are exact doubles), so the integer community
    labels compare exactly."""
    parts = [
        "WITH " + _SQL_DOC_EDGES.strip().rstrip(",") + ",",
        "sym AS MATERIALIZED (SELECT src, dst FROM e WHERE src <> dst "
        "UNION SELECT dst, src FROM e WHERE src <> dst),",
        "m2 AS (SELECT count(*) * 1.0 AS v FROM sym),",
        "kk AS MATERIALIZED (SELECT src AS id, count(*) * 1.0 AS k FROM sym GROUP BY src),",
        "c0 AS (SELECT doc_id AS id, doc_id AS community FROM documents),",
    ]
    s = 0
    for _ in range(iterations):
        for parity in (0, 1):
            p, c = f"c{s}", f"c{s + 1}"
            parts.append(
                f"win{s} AS MATERIALIZED (SELECT s.src AS id, c.community, "
                f"count(*) * 1.0 AS w_in FROM sym s JOIN {p} c ON s.dst = c.id "
                f"GROUP BY s.src, c.community),"
            )
            parts.append(
                f"tot{s} AS MATERIALIZED (SELECT c.community, sum(kk.k) AS tot "
                f"FROM {p} c JOIN kk ON kk.id = c.id GROUP BY c.community),"
            )
            parts.append(
                f"cand{s} AS MATERIALIZED (SELECT w.id, w.community, "
                f"w.w_in / m2.v - (kk.k * (t.tot - CASE WHEN w.community = own.community "
                f"THEN kk.k ELSE 0.0 END)) / (m2.v * m2.v) AS gain "
                f"FROM win{s} w JOIN tot{s} t ON w.community = t.community "
                f"JOIN kk ON kk.id = w.id JOIN {p} own ON own.id = w.id "
                f"CROSS JOIN m2),"
            )
            parts.append(
                f"best{s} AS MATERIALIZED (SELECT id, community FROM ("
                f"SELECT id, community, gain, row_number() OVER "
                f"(PARTITION BY id ORDER BY gain DESC, community ASC) AS rn "
                f"FROM cand{s}) WHERE rn = 1 AND gain > 0),"
            )
            parts.append(
                f"{c} AS MATERIALIZED (SELECT c.id, CASE WHEN c.id % 2 = {parity} "
                f"AND b.community IS NOT NULL THEN b.community ELSE c.community END "
                f"AS community FROM {p} c LEFT JOIN best{s} b ON b.id = c.id),"
            )
            s += 1
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT id, community FROM c{s} ORDER BY id")
    return "\n".join(parts)


_SQL_ORIENTED = (
    "o AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),"
)

_SQL_TRIANGLES = (
    _SQL_ORIENTED
    + """
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM o e1 JOIN o e2 ON e1.b = e2.a
  JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
tcount AS (SELECT id, count(*) AS triangles FROM corners GROUP BY id),
und AS (SELECT a AS u, b AS v FROM o UNION SELECT b, a FROM o),
deg AS (SELECT u AS id, count(*) AS d FROM und GROUP BY u),
pernode AS (
  SELECT n.doc_id AS id,
         coalesce(t.triangles, 0) AS triangles,
         CASE WHEN coalesce(deg.d, 0) >= 2
              THEN 2.0 * coalesce(t.triangles, 0) / (deg.d * (deg.d - 1))
              ELSE 0.0 END AS coefficient
  FROM documents n
  LEFT JOIN tcount t ON n.doc_id = t.id
  LEFT JOIN deg ON n.doc_id = deg.id)
"""
)

# quality-score expressions shared by both engines (pure arithmetic over
# the text column; identical regex classes in Java regex and RE2)
_STOPWORDS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " la ", " et "],
}


def _occurrences_spark(col, pat: str):
    return (F.length(col) - F.length(F.replace(col, F.lit(pat), F.lit("")))) / len(pat)


def _occurrences_sql(expr: str, pat: str) -> str:
    return f"(len({expr}) - len(replace({expr}, '{pat}', ''))) / {len(pat)}"


def _langid_spark(docs: DataFrame) -> DataFrame:
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    scores = [
        sum(_occurrences_spark(padded, p) for p in pats).alias(f"s_{lang}")
        for lang, pats in _STOPWORDS.items()
    ]
    scored = docs.select("doc_id", *scores)
    # argmax with deterministic tie-break: struct sort orders by score
    # desc then lang desc on ties (mirrored exactly in the SQL oracle)
    pairs = F.array(*[
        F.struct(F.col(f"s_{lang}").alias("s"), F.lit(lang).alias("lang"))
        for lang in _STOPWORDS
    ])
    return scored.select(
        "doc_id",
        F.sort_array(pairs, asc=False)[0]["lang"].alias("lang_pred"),
    )


_FILTER_THRESH = dict(
    min_chars=150, max_chars=100_000, min_tokens=25, max_tokens=10_000,
    min_alpha_ratio=0.80, max_digit_ratio=0.3, max_punct_ratio=0.2,
    min_stopword_density=0.005, languages=("en", "fr"),
)


def _sql_filter_corpus() -> str:
    """DuckDB twin of pipeline.text.filter_corpus at _FILTER_THRESH —
    generated from the SAME constants (STOPWORDS, punct class, rule
    order) so the two sides cannot drift. Rules evaluate on unrounded
    doubles (identical int/int IEEE divisions in both engines); only
    the output ratios are rounded."""
    from neo4j_graph_algorithms_spark.pipeline.text import _PUNCT_CLASS, STOPWORDS

    th = _FILTER_THRESH
    padded = "(' ' || lower(text) || ' ')"

    def occ(pat: str) -> str:
        esc = pat.replace("'", "''")
        return f"(len({padded}) - len(replace({padded}, '{esc}', ''))) / {len(pat)}.0"

    score_exprs = {
        lang: "(" + " + ".join(occ(p) for p in pats) + ")"
        for lang, pats in STOPWORDS.items()
    }
    structs = ", ".join(
        f"{{'s': {expr}, 'lang': '{lang}'}}" for lang, expr in score_exprs.items()
    )
    langs_in = ", ".join(f"'{lang}'" for lang in th["languages"])
    return f"""
WITH raw AS MATERIALIZED (
  SELECT doc_id AS id,
         len(text) AS n_chars,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / greatest(len(text), 1) AS alpha_ratio,
         len(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / greatest(len(text), 1) AS digit_ratio,
         (len(text) - len(regexp_replace(text, '{_PUNCT_CLASS}', '', 'g'))) * 1.0 / greatest(len(text), 1) AS punct_ratio,
         {score_exprs["en"]} / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) AS stopword_density,
         unnest([{structs}]) AS lp
  FROM documents),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY lp.s DESC, lp.lang DESC) AS rn
  FROM raw),
feat AS (SELECT id, n_chars, n_tokens, alpha_ratio, digit_ratio, punct_ratio,
                stopword_density, lp.lang AS lang_pred
         FROM ranked WHERE rn = 1),
verdict AS (
  SELECT *,
    CASE WHEN n_chars < {th["min_chars"]} THEN 'too_short'
         WHEN n_chars > {th["max_chars"]} THEN 'too_long'
         WHEN n_tokens < {th["min_tokens"]} THEN 'too_few_tokens'
         WHEN n_tokens > {th["max_tokens"]} THEN 'too_many_tokens'
         WHEN alpha_ratio < {th["min_alpha_ratio"]} THEN 'low_alpha'
         WHEN digit_ratio > {th["max_digit_ratio"]} THEN 'high_digit'
         WHEN punct_ratio > {th["max_punct_ratio"]} THEN 'high_punct'
         WHEN stopword_density < {th["min_stopword_density"]} THEN 'low_stopword_density'
         WHEN lang_pred NOT IN ({langs_in}) THEN 'wrong_language'
    END AS reject_reason
  FROM feat)
SELECT id, CAST(n_chars AS INT) AS n_chars, CAST(n_tokens AS INT) AS n_tokens,
       ROUND(alpha_ratio, {ROUND}) AS alpha_ratio,
       ROUND(digit_ratio, {ROUND}) AS digit_ratio,
       ROUND(punct_ratio, {ROUND}) AS punct_ratio,
       ROUND(stopword_density, {ROUND}) AS stopword_density,
       lang_pred, reject_reason,
       CAST(reject_reason IS NULL AS INT) AS keep
FROM verdict ORDER BY id"""


def _langid_sql() -> str:
    padded = "(' ' || lower(text) || ' ')"
    score_cols = ", ".join(
        "(" + " + ".join(_occurrences_sql(padded, p) for p in pats) + f") AS s_{lang}"
        for lang, pats in _STOPWORDS.items()
    )
    # deterministic argmax: order langs by (score DESC, lang ASC) — but
    # sort_array desc on (score, lang) picks lang DESC on ties; mirror that
    struct_list = ", ".join(f"(s_{lang}, '{lang}')" for lang in _STOPWORDS)
    return f"""
WITH scored AS (SELECT doc_id, {score_cols} FROM documents),
ranked AS (
  SELECT doc_id, unnest.lang AS lang, unnest.s AS s FROM (
    SELECT doc_id, unnest([{{'s': s_en, 'lang': 'en'}},
                           {{'s': s_de, 'lang': 'de'}},
                           {{'s': s_fr, 'lang': 'fr'}}]) AS unnest
    FROM scored))
SELECT doc_id, lang AS lang_pred FROM (
  SELECT doc_id, lang, row_number() OVER
    (PARTITION BY doc_id ORDER BY s DESC, lang DESC) AS rn
  FROM ranked) WHERE rn = 1 ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# driver contract: one table of queries, each entry declared by `@query`
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank over the link graph extracted from the
    sf0.001 documents-derived repo table (driver checks rows > 0)."""
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    g = _doc_graph(spark, "/root/testdata/sf0.001").cache()
    ranks, _stats = pagerank(g, damping=0.85, max_iterations=10)
    return ranks.select("id", F.round("rank", ROUND).alias("rank"))


class Query(NamedTuple):
    name: str  # the function's name without its `q_` prefix
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None for a rows-only query
    headline: bool  # floor-tracked by bench.py
    check: str | None  # a rows-only query's oracle-backed `*_check` twin


QUERIES: list[Query] = []


def query(
    oracle: str | None = None, *, headline: bool = False, check: Callable | None = None
):
    """Register the decorated ``q_<name>(spark, sf_dir)`` in `QUERIES`
    as query ``<name>``, with its DuckDB ``oracle`` SQL or, for a
    rows-only query, the ``check`` twin function whose oracle verifies
    its invariants."""

    def register(fn):
        QUERIES.append(Query(
            fn.__name__.removeprefix("q_"), fn, oracle, headline,
            check and check.__name__.removeprefix("q_"),
        ))
        return fn

    return register


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every query in declaration order, rows-only ones last: the
    correctness gate checks only the first 50 queries, and every
    oracle-backed query must be among them."""
    return {q.name: q.fn for q in sorted(QUERIES, key=lambda q: q.oracle is None)}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in QUERIES if q.oracle is not None}


@query(_SQL_EDGES_CTE
       + "\nSELECT src, dst, content_sha256 FROM resolved ORDER BY src, dst", headline=True)
def q_link_edges(spark, sf):
    return _doc_link_rows(spark, sf).orderBy("src", "dst")


@query(_SQL_EDGES_CTE
       + "\nSELECT src AS id, count(*) AS out_degree FROM e GROUP BY src", headline=True)
def q_out_degree(spark, sf):
    g = _doc_graph(spark, sf)
    return g.edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_degree")
    )


@query(_SQL_EDGES_CTE
       + """
, indeg AS (SELECT dst AS id, count(*) AS degree FROM e GROUP BY dst)
SELECT degree, count(*) AS n_nodes FROM indeg GROUP BY degree""")
def q_degree_distribution(spark, sf):
    g = _doc_graph(spark, sf)
    indeg = g.edges.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("degree")
    )
    return indeg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


@query(_sql_pagerank_unrolled(5), headline=True)
def q_pagerank(spark, sf):
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    g = _doc_graph(spark, sf).cache()
    ranks, _ = pagerank(g, damping=0.85, max_iterations=5)
    return ranks.select("id", F.round("rank", ROUND).alias("rank"))


@query(_sql_pagerank_unrolled(5, seed_pred="doc_id < 16"))
def q_pagerank_personalized(spark, sf):
    # personalized PageRank (extension): teleport mass seeded at
    # doc ids < 16 only; same delta-push recurrence, so the oracle
    # is the standard unrolled chain with a seeded init
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    g = _doc_graph(spark, sf).cache()
    seeds = (
        _read(spark, sf, "documents")
        .select(F.col("doc_id").alias("id"))
        .filter(F.col("id") < 16)
    )
    ranks, _ = pagerank(g, damping=0.85, max_iterations=5, source_nodes=seeds)
    return ranks.select("id", F.round("rank", ROUND).alias("rank"))


@query(_sql_pagerank_unrolled(5, weighted=True), headline=True)
def q_pagerank_weighted(spark, sf):
    # weighted PageRank (extension): push fraction w/Σw with a
    # deterministic weight on BOTH endpoints ((src+2*dst)%7)+1 — a
    # src-only weight would cancel back to the uniform 1/deg split
    # and test nothing
    from neo4j_graph_algorithms_spark.graph import Graph
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    edges = (
        _doc_link_rows(spark, sf).select("src", "dst").withColumn(
            "weight",
            (F.pmod(F.col("src") + 2 * F.col("dst"), F.lit(7)) + 1).cast("double"),
        )
    )
    nodes = _read(spark, sf, "documents").select(F.col("doc_id").alias("id"))
    g = Graph.from_edges(edges, nodes=nodes, weight="weight", dedup=True).cache()
    ranks, _ = pagerank(g, damping=0.85, max_iterations=5, weighted=True)
    return ranks.select("id", F.round("rank", ROUND).alias("rank"))


@query(_sql_pagerank_unrolled(5), headline=True)
def q_pagerank_warm(spark, sf):
    # warm-start / incremental PageRank (extension): restart from a
    # 3-iteration estimate; the residual pass applies exactly the
    # cold delta_4 and one loop superstep applies delta_5, so the
    # result is bit-for-float-bit the cold 5-iteration chain — the
    # same unrolled SQL oracle as `pagerank`
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    g = _doc_graph(spark, sf).cache()
    r3, _ = pagerank(g, damping=0.85, max_iterations=3)
    ranks, _ = pagerank(g, damping=0.85, max_iterations=1, init_ranks=r3)
    return ranks.select("id", F.round("rank", ROUND).alias("rank"))


@query(_sql_pagerank_unrolled(5, article=True), headline=True)
def q_article_rank(spark, sf):
    # ArticleRank (extension, ships in later Neo4j releases): the
    # push denominator is outDegree + avgOutDegree (E/V), damping
    # low-out-degree citers; same delta-push kernel otherwise
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank

    g = _doc_graph(spark, sf).cache()
    ranks, _ = pagerank(g, damping=0.85, max_iterations=5, article=True)
    return ranks.select("id", F.round("rank", ROUND).alias("rank"))


@query(_sql_wcc_unrolled(14), headline=True)
def q_wcc(spark, sf):
    from neo4j_graph_algorithms_spark.graph import Graph
    from neo4j_graph_algorithms_spark.operators.wcc import wcc

    li = _read(spark, sf, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 1000000).alias("dst"),
        F.col("l_quantity").alias("weight"),
    )
    g = Graph.from_edges(edges, weight="weight", dedup=True).cache()
    # edges are strictly partkey -> suppkey+1e6 (one direction, no
    # reciprocal pairs) and already deduped upstream, so the
    # symmetric union inside wcc cannot contain duplicates — skip
    # its O(E) distinct() shuffle
    comp, _ = wcc(g, threshold=48.0, assume_deduped=True)
    return comp


@query("WITH base AS (" + _sql_wcc_unrolled(14).replace("ORDER BY id", "") + ")\n"
       "SELECT component, count(*) AS n_nodes FROM base GROUP BY component")
def q_wcc_sizes(spark, sf):
    from neo4j_graph_algorithms_spark.operators.wcc import component_stats

    comp = q_wcc(spark, sf)
    _, sizes = component_stats(comp)
    return sizes.select("component", F.col("size").alias("n_nodes"))


@query(_SQL_EDGES_CTE + ",\n" + _SQL_TRIANGLES.strip().rstrip(",")
       + f"\nSELECT id, triangles, ROUND(coefficient, {ROUND}) AS coefficient FROM pernode",
       headline=True)
def q_triangles(spark, sf):
    from neo4j_graph_algorithms_spark.operators.triangles import triangle_count

    g = _doc_graph(spark, sf).cache()
    per_node, _ = triangle_count(g)
    return per_node.select(
        "id", "triangles", F.round("coefficient", ROUND).alias("coefficient")
    )


@query(_SQL_EDGES_CTE + ",\n" + _SQL_TRIANGLES.strip().rstrip(",")
       + f"""
SELECT (SELECT count(*) FROM tri) AS triangle_count,
       ROUND((SELECT avg(coefficient) FROM pernode), {ROUND}) AS avg_coefficient""")
def q_triangle_stats(spark, sf):
    from neo4j_graph_algorithms_spark.operators.triangles import triangle_count

    g = _doc_graph(spark, sf).cache()
    per_node, stats = triangle_count(g)
    return spark.createDataFrame(
        [(int(stats["triangleCount"]),
          round(float(stats["averageClusteringCoefficient"]), ROUND))],
        "triangle_count long, avg_coefficient double",
    )


@query(_SQL_EDGES_CTE + ",\n" + _SQL_TRIANGLES.strip().rstrip(",")
       + "\nSELECT a, b, c FROM tri ORDER BY a, b, c")
def q_triangle_triples(spark, sf):
    # `algo.triangle.stream` — the raw (a, b, c) triple surface
    # (impl/TriangleStream.java:95-160); each unordered triangle
    # once, corners ascending, so the id-oriented SQL `tri` CTE is
    # its exact twin
    from neo4j_graph_algorithms_spark.operators.triangles import triangle_stream

    g = _doc_graph(spark, sf).cache()
    return triangle_stream(g)


@query(_sql_lpa_unrolled(2), headline=True)
def q_label_propagation(spark, sf):
    from neo4j_graph_algorithms_spark.operators.label_propagation import label_propagation

    g = _doc_graph(spark, sf).cache()
    labels, _ = label_propagation(g, iterations=2, seed_col=None)
    return labels


@query("""
SELECT sha256(text) AS text_sha256, count(*) AS n_docs
FROM documents GROUP BY sha256(text)""")
def q_exact_dup_groups(spark, sf):
    docs = _read(spark, sf, "documents")
    return docs.groupBy(F.sha2("text", 256).alias("text_sha256")).agg(
        F.count("*").alias("n_docs")
    )


@query(r"""
SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
FROM documents""")
def q_token_counts(spark, sf):
    docs = _read(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )


@query(f"""
SELECT doc_id,
       CAST(len(text) AS INT) AS n_chars,
       ROUND(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / len(text), {ROUND}) AS alpha_ratio,
       ROUND(len(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / len(text), {ROUND}) AS digit_ratio,
       ROUND(len(regexp_replace(text, '[^ ]', '', 'g')) * 1.0 / len(text), {ROUND}) AS space_ratio
FROM documents""")
def q_quality_scores(spark, sf):
    docs = _read(spark, sf, "documents")
    t = F.col("text")
    ln = F.length(t)
    return docs.select(
        "doc_id",
        ln.alias("n_chars"),
        F.round(F.length(F.regexp_replace(t, "[^a-zA-Z]", "")) / ln, ROUND).alias("alpha_ratio"),
        F.round(F.length(F.regexp_replace(t, "[^0-9]", "")) / ln, ROUND).alias("digit_ratio"),
        F.round(F.length(F.regexp_replace(t, "[^ ]", "")) / ln, ROUND).alias("space_ratio"),
    )


@query(_langid_sql())
def q_lang_id(spark, sf):
    return _langid_spark(_read(spark, sf, "documents"))


@query("""
WITH heads AS (SELECT doc_id, substr(text, 1, 256) AS h FROM documents),
idx AS (SELECT i FROM generate_series(1, 256) t(i)),
sh AS (SELECT doc_id, md5(substr(h, CAST(i AS INT), 8)) AS m
       FROM heads JOIN idx ON i <= greatest(len(h) - 7, 1))
SELECT doc_id, min(m) AS fingerprint FROM sh GROUP BY doc_id""", headline=True)
def q_doc_fingerprint(spark, sf):
    docs = _read(spark, sf, "documents")
    head = F.substring(F.col("text"), 1, 256)
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(head) - 7, F.lit(1))),
        lambda i: F.md5(head.substr(i, F.lit(8))),
    )
    return docs.select("doc_id", F.array_min(shingles).alias("fingerprint"))


@query("""
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 5),
pairs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(q.qv, e.v) /
         (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS sim
  FROM q CROSS JOIN emb e WHERE e.vec_id >= 5)
SELECT query_id, neighbor_id, ROUND(sim, 4) AS sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM pairs) WHERE rank <= 3""", headline=True)
def q_embedding_topk(spark, sf):
    emb = _read(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = q.crossJoin(emb.filter(F.col("vec_id") >= 5))
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nq = F.sqrt(F.aggregate("qv", F.lit(0.0), lambda acc, x: acc + x * x))
    nv = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    sims = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"),
        (dot / (nq * nv)).alias("sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")
    )


@query(f"""
WITH idx AS (SELECT i FROM generate_series(1, 1024) t(i)),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id AS id, substr(text, CAST(i AS INT), 3) AS s
  FROM documents JOIN idx ON i <= greatest(len(text) - 2, 1)),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n
          FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY a.id, b.id),
j AS (SELECT id_a, id_b, n * 1.0 / (sa.sz + sb.sz - n) AS jac
      FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b)
SELECT id_a, id_b, ROUND(jac, {ROUND}) AS jaccard FROM j WHERE jac >= 0.85""")
def q_ngram_dedup_pairs(spark, sf):
    from neo4j_graph_algorithms_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.85)
    return pairs.select("id_a", "id_b", F.round("jaccard", ROUND).alias("jaccard"))


@query(_sql_ngram_clusters_unrolled(8), headline=True)
def q_ngram_dup_clusters(spark, sf):
    # pair list -> transitive clusters -> canonical survivor: the
    # step a production dedup pipeline runs after pair generation
    # (WCC min-label fixpoint over the pair graph, then one corpus
    # left join). int-cast the flag for engine-neutral hashing.
    # k=20 shingles: the synthetic corpus has a tiny 3-gram
    # vocabulary (~400 distinct shingles across 5k docs), so k=3
    # fans the shingle self-join out quadratically at sf0.1; 20-char
    # shingles are near-unique (df~1) and keep the join linear while
    # still catching the near-identical dup pairs the corpus plants.
    from neo4j_graph_algorithms_spark.pipeline.dedup import (
        dup_clusters,
        ngram_jaccard_pairs,
    )

    docs = _read(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(docs, shingle_k=20, threshold=0.85)
    out = dup_clusters(docs, pairs)
    return out.select(
        "id", "cluster_id", F.col("is_canonical").cast("int").alias("is_canonical")
    )


@query(_sql_filter_corpus(), headline=True)
def q_filter_corpus(spark, sf):
    # composite pre-train quality gate — one projection over the
    # scan; the oracle SQL is GENERATED from the same constants
    from neo4j_graph_algorithms_spark.pipeline.text import filter_corpus

    docs = _read(spark, sf, "documents")
    out = filter_corpus(docs, **_FILTER_THRESH)
    return out.select(
        "id", "n_chars", "n_tokens",
        F.round("alpha_ratio", ROUND).alias("alpha_ratio"),
        F.round("digit_ratio", ROUND).alias("digit_ratio"),
        F.round("punct_ratio", ROUND).alias("punct_ratio"),
        F.round("stopword_density", ROUND).alias("stopword_density"),
        "lang_pred", "reject_reason",
        F.col("keep").cast("int").alias("keep"),
    )


@query(_sql_sssp_unrolled(12), headline=True)
def q_sssp_hops12(spark, sf):
    # 12-hop-bounded weighted SSSP from doc 0 (frontier Bellman-Ford
    # after k rounds == min cost over paths of <= k edges, so a
    # k-round unrolled SQL relaxation is the exact oracle);
    # deterministic edge weight (src % 7) + 1 on the deduped graph
    from neo4j_graph_algorithms_spark.graph import Graph
    from neo4j_graph_algorithms_spark.operators.shortest_path import (
        INF,
        shortest_paths,
    )

    edges = (
        _doc_link_rows(spark, sf).select("src", "dst").distinct()
        .withColumn("weight", (F.pmod("src", F.lit(7)) + 1).cast("double"))
    )
    nodes = _read(spark, sf, "documents").select(F.col("doc_id").alias("id"))
    g = Graph.from_edges(edges, nodes=nodes, weight="weight")
    dist, _ = shortest_paths(g, source=0, max_iterations=12)
    return dist.filter(F.col("distance") < INF).select(
        "id", F.round("distance", ROUND).alias("distance")
    )


@query(_sql_apsp_unrolled(4), headline=True)
def q_apsp_hops4(spark, sf):
    # depth-4-bounded unweighted all-pairs over the doc graph — the
    # MS-BFS engine's oracle row (depth >= 1 pairs only, like the
    # reference stream)
    from neo4j_graph_algorithms_spark.operators.msbfs import all_shortest_paths

    g = _doc_graph(spark, sf)
    return all_shortest_paths(g, direction="out", max_depth=4)


@query(_sql_neighborhood_unrolled(4), headline=True)
def q_neighborhood_exact(spark, sf):
    # exact neighborhood function N(t) (EXTENSION, HyperANF family):
    # cumulative reachable ordered pairs per depth via the MS-BFS
    # (node, depth, n_sources) aggregate — never materializes pairs
    from neo4j_graph_algorithms_spark.operators.neighborhood import (
        neighborhood_exact,
    )

    g = _doc_graph(spark, sf)
    return neighborhood_exact(g, max_depth=4, direction="out")


@query(_sql_kcore_unrolled(12), headline=True)
def q_kcore45(spark, sf):
    # core decomposition (EXTENSION): iterative h-index fixpoint on
    # the quantity≥45 part–supplier bipartite graph (cores 1..6 at
    # sf0.01 — heterogeneous, unlike the near-regular doc graph);
    # oracle = the same recurrence unrolled past convergence depth
    from neo4j_graph_algorithms_spark.graph import Graph

    from neo4j_graph_algorithms_spark.operators.kcore import (
        core_decomposition,
    )

    li = _read(spark, sf, "lineitem")
    edges = li.filter(F.col("l_quantity") >= 45.0).select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 1000000).alias("dst"),
    )
    g = Graph.from_edges(edges, dedup=True).cache()
    cores, _ = core_decomposition(g)
    return cores


@query(_SQL_EDGES_CTE + ",\n"
       "sizes AS (SELECT src, count(*) AS sz FROM e GROUP BY src),\n"
       "common AS (SELECT a.src AS id_a, b.src AS id_b, count(*) AS c\n"
       "           FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src\n"
       "           GROUP BY a.src, b.src)\n"
       "SELECT id_a, id_b,\n"
       f"       ROUND(c * 1.0 / (sa.sz + sb.sz - c), {ROUND}) AS similarity\n"
       "FROM common JOIN sizes sa ON sa.src = id_a\n"
       "     JOIN sizes sb ON sb.src = id_b\n"
       "WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.15 ORDER BY id_a, id_b", headline=True)
def q_node_jaccard(spark, sf):
    # neighborhood-Jaccard node similarity (extension; the era's
    # companion library ships algo.similarity.jaccard): same
    # shared-neighbor join algebra as the exact n-gram dedup plan
    from neo4j_graph_algorithms_spark.operators.node_similarity import (
        node_similarity,
    )

    g = _doc_graph(spark, sf)
    out = node_similarity(g, threshold=0.15, direction="out")
    return out.select(
        "id_a", "id_b", F.round("similarity", ROUND).alias("similarity")
    )


@query(_SQL_EDGES_CTE + ",\n"
       "sizes AS (SELECT src, count(*) AS sz FROM e GROUP BY src),\n"
       "common AS (SELECT a.src AS id_a, b.src AS id_b, count(*) AS c\n"
       "           FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src\n"
       "           GROUP BY a.src, b.src)\n"
       "SELECT id_a, id_b,\n"
       f"       ROUND(c * 1.0 / least(sa.sz, sb.sz), {ROUND}) AS similarity\n"
       "FROM common JOIN sizes sa ON sa.src = id_a\n"
       "     JOIN sizes sb ON sb.src = id_b\n"
       "WHERE c * 1.0 / least(sa.sz, sb.sz) >= 0.34 ORDER BY id_a, id_b", headline=True)
def q_node_overlap(spark, sf):
    # overlap-coefficient variant (|A∩B| / min|A|,|B|) of the same
    # shared-neighbor plan — subset-affinity detection
    from neo4j_graph_algorithms_spark.operators.node_similarity import (
        node_similarity,
    )

    g = _doc_graph(spark, sf)
    out = node_similarity(g, threshold=0.34, direction="out", metric="overlap")
    return out.select(
        "id_a", "id_b", F.round("similarity", ROUND).alias("similarity")
    )


@query(_SQL_EDGES_CTE + ",\n"
       "nn2 AS (SELECT count(*) AS n FROM documents),\n"
       "deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),\n"
       "agg AS (SELECT min(d) AS mn, max(d) AS mx, sum(d) AS m, count(*) AS w FROM deg),\n"
       "sym AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst, src FROM e),\n"
       "sdeg AS (SELECT src, count(*) AS d FROM sym GROUP BY src),\n"
       "ar AS (SELECT corr(a.d * 1.0, b.d * 1.0) AS r FROM sym s\n"
       "       JOIN sdeg a ON s.src = a.src JOIN sdeg b ON s.dst = b.src)\n"
       "SELECT nn2.n AS n_nodes, CAST(agg.m AS BIGINT) AS n_edges,\n"
       "       ROUND(agg.m * 1.0 / (nn2.n * (nn2.n - 1)), 9) AS density,\n"
       "       CAST(agg.mn AS BIGINT) AS min_out, CAST(agg.mx AS BIGINT) AS max_out,\n"
       f"       ROUND(agg.m * 1.0 / agg.w, {ROUND}) AS avg_out,\n"
       "       CAST(nn2.n - agg.w AS BIGINT) AS dangling,\n"
       f"       ROUND(ar.r, {ROUND}) AS assortativity\n"
       "FROM nn2, agg, ar")
def q_graph_summary(spark, sf):
    # whole-graph profile (extension): one-row summary + degree
    # assortativity over the doc link graph — pure aggregates
    from neo4j_graph_algorithms_spark.operators.graph_stats import (
        degree_assortativity,
        graph_summary,
    )

    g = _doc_graph(spark, sf)
    r = degree_assortativity(g)
    return graph_summary(g).select(
        "n_nodes", "n_edges",
        F.round("density", 9).alias("density"),
        "min_out", "max_out",
        F.round("avg_out", ROUND).alias("avg_out"),
        "dangling",
        F.round(F.lit(r).cast("double"), ROUND).alias("assortativity"),
    )


@query("SELECT doc_id FROM documents "
       "WHERE (doc_id % 1000000007) * 2654435761 % 1000000007 "
       f"< {int(0.1 * 1_000_000_007)} ORDER BY doc_id")
def q_doc_sample_10pct(spark, sf):
    # deterministic Bernoulli-style sample: a pure filter on the
    # Knuth multiplicative hash order — identical formula in the
    # oracle, so the kept set matches row-for-row
    from neo4j_graph_algorithms_spark.pipeline.sampling import hash_sample

    docs = _read(spark, sf, "documents")
    return hash_sample(docs, 0.1).select("doc_id")


@query("""
WITH tok AS (SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
             FROM documents),
b AS (SELECT doc_id,
             CAST(floor(n_tokens / 50) AS INT) AS bucket,
             row_number() OVER (
               PARTITION BY floor(n_tokens / 50)
               ORDER BY (doc_id % 1000000007) * 2654435761 % 1000000007, doc_id
             ) AS rn
      FROM tok)
SELECT doc_id, bucket FROM b WHERE rn <= 5 ORDER BY doc_id""", headline=True)
def q_doc_sample_stratified(spark, sf):
    # 5 docs per token-count bucket (width 50), hash-ordered with
    # id tie-break — exactly min(5, |bucket|) rows per stratum
    from neo4j_graph_algorithms_spark.pipeline.sampling import (
        stratified_sample,
    )
    from neo4j_graph_algorithms_spark.pipeline.text import token_counts

    docs = _read(spark, sf, "documents")
    toks = token_counts(docs)
    bucketed = toks.select(
        "doc_id", F.floor(F.col("n_tokens") / 50).cast("int").alias("bucket")
    )
    return stratified_sample(bucketed, ["bucket"], 5)


@query(_sql_louvain_unrolled(1), headline=True)
def q_louvain(spark, sf):
    from neo4j_graph_algorithms_spark.operators.louvain import louvain

    g = _doc_graph(spark, sf)
    comm, _ = louvain(g, iterations=1)
    return comm


@query(f"""
WITH nn3 AS (SELECT count(*) AS n FROM documents),
tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
       GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
              tf.tf * (nn3.n + 1.0) / (dfq.df + 1.0) AS score
       FROM tf JOIN dfq USING (term) CROSS JOIN nn3),
rk AS (SELECT *, row_number() OVER (
         PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank FROM sc)
SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df,
       ROUND(score, {ROUND}) AS score
FROM rk WHERE rank <= 3""", headline=True)
def q_tfidf_top3(spark, sf):
    # top-3 tf-idf keywords per document — the rational
    # tf·(N+1)/(df+1) scoring contract is engine-exact (two IEEE
    # double ops, no libm), so rank order matches the oracle
    # bit-for-bit (see pipeline/text.tfidf_keywords)
    from neo4j_graph_algorithms_spark.pipeline.text import tfidf_keywords

    docs = _read(spark, sf, "documents")
    out = tfidf_keywords(docs, k=3)
    return out.select(
        "doc_id", "rank", "term", "tf", "df", F.round("score", ROUND).alias("score")
    )


@query("""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
           FROM documents),
idx AS (SELECT unnest(generate_series(1, (SELECT max(len(w)) FROM t))) AS i),
g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS ngram
      FROM t JOIN idx ON i <= len(w) - 2),
d AS (SELECT ngram, count(*) AS df FROM g GROUP BY ngram)
SELECT ngram, df FROM d WHERE df >= 5""", headline=True)
def q_repeated_ngrams(spark, sf):
    # corpus-repeated word 3-grams (boilerplate/template audit):
    # df = distinct docs containing the gram, df >= 5 — linear
    # column algebra (tokenize → slide → distinct → one agg)
    from neo4j_graph_algorithms_spark.pipeline.text import repeated_ngrams

    docs = _read(spark, sf, "documents")
    return repeated_ngrams(docs, n=3, min_df=5)


@query(f"""
WITH o AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS e FROM events),
f AS (SELECT user_id, event_id, ts, value, e,
             CASE WHEN lag(e) OVER w IS NULL
                       OR e - lag(e) OVER w > CAST(28800000000 AS BIGINT)
                  THEN 1 ELSE 0 END AS ns
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id)),
s AS (SELECT user_id, ts, value,
             CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY e, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM f)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS first_ts, max(ts) AS last_ts,
       ROUND(sum(value), {ROUND}) AS sum_value
FROM s GROUP BY user_id, session_id""", headline=True)
def q_user_sessions(spark, sf):
    # gap-based sessionization of the event stream (480-min gap ≈
    # the corpus median inter-event gap, so the split is non-
    # trivial): deterministic (ts, event_id) ordering, exact
    # integer-microsecond gap test
    from neo4j_graph_algorithms_spark.pipeline.sessionize import sessionize

    ev = _read(spark, sf, "events")
    out = sessionize(ev, gap_minutes=480)
    return out.select(
        "user_id", "session_id", "n_events", "first_ts", "last_ts",
        F.round("sum_value", ROUND).alias("sum_value"),
    )


# -- invariant-check twins of the rows-only queries ---------------------
# (VERDICT r4 next-round #3). Exact value oracles are impossible for
# seeded-hash / contraction-hierarchy operators, but each has
# SQL-VERIFIABLE invariants: the *_check query computes them Spark-side
# and the oracle states the expected constants from the base tables — a
# hash mismatch means the invariant broke.

@query("""
WITH c AS (SELECT count(*) AS n FROM documents WHERE doc_id < 64)
SELECT n * 2 AS step0_rows, n * 2 * 5 AS n_rows,
       CAST(0 AS BIGINT) AS bad_transitions FROM c""")
def q_random_walks_check(spark, sf):
    # random_walks64 invariants: (a) step-0 rows = sources×reps;
    # (b) NO walker terminates early on the doc graph (every doc
    # has out-degree ≥ 2), so total rows = sources×reps×(len+1);
    # (c) every consecutive (t → t+1) transition is a real edge.
    from neo4j_graph_algorithms_spark.operators.random_walk import (
        random_walks,
    )

    g = _doc_graph(spark, sf)
    srcs = (
        _read(spark, sf, "documents")
        .select(F.col("doc_id").alias("id"))
        .filter(F.col("id") < 64)
    )
    out, _ = random_walks(g, walk_length=4, walks_per_node=2, sources=srcs)
    out = out.localCheckpoint(eager=True)
    edges = g.edges.select("src", "dst").distinct()
    hop_a = out.select(
        "source", "rep", F.col("step").alias("t"), F.col("node").alias("src")
    )
    hop_b = out.select(
        "source", "rep", (F.col("step") - 1).alias("t"), F.col("node").alias("dst")
    )
    trans = hop_a.join(hop_b, ["source", "rep", "t"]).select("src", "dst")
    bad = trans.join(edges, ["src", "dst"], "left_anti").agg(
        F.count("*").alias("bad_transitions")
    )
    counts = out.agg(
        F.sum((F.col("step") == 0).cast("long")).alias("step0_rows"),
        F.count("*").alias("n_rows"),
    )
    return counts.crossJoin(bad)


@query("""
WITH c AS (SELECT count(*) AS n FROM documents)
SELECT n AS n_assigned, n AS n_ids,
       CAST(0 AS BIGINT) AS split_communities,
       CAST(0 AS BIGINT) AS bad_labels FROM c""")
def q_louvain_multilevel_check(spark, sf):
    # louvain_multilevel invariants: every node assigned exactly
    # once; final labels ⊆ node ids; the hierarchy is a
    # REFINEMENT-CONSISTENT coarsening of the (deterministic)
    # level-0 partition — no level-0 community is split across
    # final communities.
    from neo4j_graph_algorithms_spark.operators.louvain import (
        louvain,
        louvain_multilevel,
    )

    g = _doc_graph(spark, sf)
    assign, _ = louvain_multilevel(g, levels=3, iterations=2)
    level0, _ = louvain(g, iterations=2)
    j = assign.join(level0.select("id", F.col("community").alias("c0")), "id")
    split = (
        j.groupBy("c0")
        .agg(F.count_distinct("community").alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.count("*").alias("split_communities"))
    )
    ids = _read(spark, sf, "documents").select(F.col("doc_id").alias("community"))
    bad = assign.join(ids, "community", "left_anti").agg(
        F.count("*").alias("bad_labels")
    )
    counts = assign.agg(
        F.count("*").alias("n_assigned"),
        F.count_distinct("id").alias("n_ids"),
    )
    return counts.crossJoin(split).crossJoin(bad)


@query("""
SELECT CAST(i AS INT) AS depth, 1 AS within_tol, 1 AS monotone
FROM generate_series(1, 4) t(i) ORDER BY depth""")
def q_neighborhood_hll_check(spark, sf):
    # neighborhood_hll invariants vs its exact twin at the same
    # depths: the estimate is MONOTONE in depth and within ±10% of
    # exact N(t) (p=10 → 1024 registers, theoretical σ ≈ 3.25%;
    # the hash is fixed, so the estimate is deterministic).
    from pyspark.sql.window import Window

    from neo4j_graph_algorithms_spark.operators.neighborhood import (
        neighborhood_exact,
        neighborhood_function,
    )

    g = _doc_graph(spark, sf)
    nf, _ = neighborhood_function(g, max_depth=4, p=10, direction="out")
    ex = neighborhood_exact(g, max_depth=4, direction="out")
    j = nf.join(ex, "depth")
    w = Window.orderBy("depth")
    return j.select(
        "depth",
        (
            F.abs(F.col("n_pairs_est") - F.col("n_pairs"))
            <= 0.10 * F.col("n_pairs")
        ).cast("int").alias("within_tol"),
        (
            F.col("n_pairs_est")
            >= F.lag("n_pairs_est", 1, 0.0).over(w)
        ).cast("int").alias("monotone"),
    )


def _planted_corpus(spark, sf, n_plant: int):
    """documents ∪ exact copies of doc_id < n_plant at id+10M —
    the planted-duplicate recall fixture (identical text ⇒ the
    seeded signatures collide deterministically)."""
    docs = _read(spark, sf, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < n_plant)
    planted = base.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    return docs.unionByName(planted), base


@query("""
WITH c AS (SELECT count(*) AS n FROM documents WHERE doc_id < 200)
SELECT n AS planted, n AS found, CAST(0 AS BIGINT) AS order_violations FROM c""")
def q_minhash_check(spark, sf):
    # minhash_dedup_pairs invariants: planted exact copies are
    # ALWAYS recovered (identical signature ⇒ same bucket in every
    # band ⇒ candidate with est 1.0 ≥ threshold), and pair
    # ordering id_a < id_b holds.
    from neo4j_graph_algorithms_spark.pipeline.dedup import minhash_lsh_pairs

    corpus, base = _planted_corpus(spark, sf, 200)
    pairs = minhash_lsh_pairs(corpus, threshold=0.8, num_hashes=64, bands=16)
    expect = base.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 10_000_000).alias("id_b"),
    )
    found = pairs.join(expect, ["id_a", "id_b"], "left_semi").agg(
        F.count("*").alias("found")
    )
    planted = base.agg(F.count("*").alias("planted"))
    violations = pairs.filter(F.col("id_a") >= F.col("id_b")).agg(
        F.count("*").alias("order_violations")
    )
    return planted.crossJoin(found).crossJoin(violations)


@query("""
WITH c AS (SELECT count(*) AS n FROM documents WHERE doc_id < 200)
SELECT n AS planted, n AS found, CAST(0 AS BIGINT) AS order_violations FROM c""")
def q_simhash_check(spark, sf):
    # simhash_pairs invariants: planted exact copies sit at Hamming
    # distance 0 ≤ max_distance and share every pigeonhole chunk —
    # recall of the planted set is exactly 100%.
    from neo4j_graph_algorithms_spark.pipeline.dedup import simhash_near_pairs

    corpus, base = _planted_corpus(spark, sf, 200)
    pairs = simhash_near_pairs(corpus, max_distance=3)
    expect = base.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 10_000_000).alias("id_b"),
    )
    found = pairs.join(expect, ["id_a", "id_b"], "left_semi").agg(
        F.count("*").alias("found")
    )
    planted = base.agg(F.count("*").alias("planted"))
    violations = pairs.filter(F.col("id_a") >= F.col("id_b")).agg(
        F.count("*").alias("order_violations")
    )
    return planted.crossJoin(found).crossJoin(violations)


@query("""
WITH c AS (SELECT count(*) AS n FROM embeddings WHERE vec_id < 5)
SELECT n AS n_queries, n AS found FROM c""")
def q_ann_lsh_check(spark, sf):
    # ann_lsh_topk invariant: an exact copy of each query vector
    # planted into the corpus hashes into the query's bucket in
    # EVERY table (identical hyperplane signs) and re-ranks at
    # sim 1.0 — so it must appear in the query's top-k.
    from neo4j_graph_algorithms_spark.pipeline.similarity import lsh_cosine_topk

    emb = _read(spark, sf, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 5)
    planted = q.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 5).unionByName(planted)
    out = lsh_cosine_topk(q, c, k=3, n_tables=8, n_bits=8)
    found = out.filter(
        F.col("neighbor_id") == F.col("query_id") + 10_000_000
    ).agg(F.count("*").alias("found"))
    nq = q.agg(F.count("*").alias("n_queries"))
    return nq.crossJoin(found)


@query(_sql_closeness_unrolled(4), headline=True)
def q_closeness_hops4(spark, sf):
    # radius-bounded closeness (depths <= 4, OUT direction): the
    # MS-BFS farness aggregation with the reference's (n-1)/farness
    # formula (MSClosenessCentrality.java:43-95), SQL-verifiable
    # because the bounded pair set is exactly apsp_hops4's
    from neo4j_graph_algorithms_spark.operators.msbfs import ms_bfs_depths

    g = _doc_graph(spark, sf)
    n = g.node_count()
    depths = ms_bfs_depths(g, direction="out", max_depth=4)
    farness = depths.groupBy(F.col("node").alias("id")).agg(
        F.sum(F.col("depth") * F.col("n_sources")).alias("farness")
    )
    return g.nodes.select("id").join(farness, "id", "left").select(
        "id",
        F.round(
            F.when(
                F.coalesce(F.col("farness"), F.lit(0)) > 0,
                F.lit(float(n - 1)) / F.col("farness"),
            ).otherwise(F.lit(0.0)),
            ROUND,
        ).alias("centrality"),
    )


@query(_sql_harmonic_unrolled(4), headline=True)
def q_harmonic_hops4(spark, sf):
    # radius-bounded harmonic centrality (MSHarmonicCentrality.java:55-79)
    from neo4j_graph_algorithms_spark.operators.msbfs import ms_bfs_depths

    g = _doc_graph(spark, sf)
    n = g.node_count()
    depths = ms_bfs_depths(g, direction="out", max_depth=4)
    inv = depths.groupBy(F.col("node").alias("id")).agg(
        F.sum(F.col("n_sources") / F.col("depth")).alias("inv_sum")
    )
    return g.nodes.select("id").join(inv, "id", "left").select(
        "id",
        F.round(
            F.coalesce(F.col("inv_sum"), F.lit(0.0)) / F.lit(float(max(n - 1, 1))),
            ROUND,
        ).alias("centrality"),
    )


@query(_sql_betweenness_unrolled(4), headline=True)
def q_betweenness_hops4(spark, sf):
    # depth-4-bounded exact Brandes betweenness (OUT direction) —
    # the `algo.betweenness` maxDepth surface
    # (MaxDepthBetweennessCentrality.java:125-145), oracle-checked
    # against the fully-unrolled forward/backward recurrence in SQL
    from neo4j_graph_algorithms_spark.operators.betweenness import betweenness

    g = _doc_graph(spark, sf)
    bc, _ = betweenness(g, direction="out", max_depth=4)
    # 3 decimals: δ sums are order-dependent float accumulations —
    # see _sql_betweenness_unrolled
    return bc.select("id", F.round("centrality", 3).alias("centrality"))


@query(_sql_delta_sssp_unrolled(64), headline=True)
def q_delta_sssp64(spark, sf):
    # delta-stepping run to CONVERGENCE (no hop bound) on the doc
    # subgraph with ids < 64 — small enough that the SQL oracle's
    # 63-round Bellman-Ford is provably converged, so this checks
    # the bucketed scheduler end-to-end, not a truncation of it
    from neo4j_graph_algorithms_spark.graph import Graph
    from neo4j_graph_algorithms_spark.operators.shortest_path import (
        INF,
        delta_stepping,
    )

    edges = (
        _doc_link_rows(spark, sf).select("src", "dst").distinct()
        .filter((F.col("src") < 64) & (F.col("dst") < 64))
        .withColumn("weight", (F.pmod("src", F.lit(7)) + 1).cast("double"))
    )
    nodes = (
        _read(spark, sf, "documents")
        .select(F.col("doc_id").alias("id"))
        .filter(F.col("id") < 64)
    )
    g = Graph.from_edges(edges, nodes=nodes, weight="weight")
    dist, _ = delta_stepping(g, source=0, delta=3.0)
    return dist.filter(F.col("distance") < INF).select(
        "id", F.round("distance", ROUND).alias("distance")
    )


@query(_sql_scc64(), headline=True)
def q_scc64(spark, sf):
    # `algo.scc.*` end-to-end on the bounded doc subgraph with
    # deterministic back-edges (reverse every edge whose src % 3
    # == 0) so genuine multi-node SCCs exist; oracle = 6-round
    # path-doubling reachability closure + mutual-reach min in SQL
    from neo4j_graph_algorithms_spark.graph import Graph
    from neo4j_graph_algorithms_spark.operators.scc import scc

    base = (
        _doc_link_rows(spark, sf).select("src", "dst").distinct()
        .filter((F.col("src") < 64) & (F.col("dst") < 64))
    )
    back = base.filter(F.pmod("src", F.lit(3)) == 0).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    edges = base.unionByName(back).distinct().withColumn("weight", F.lit(1.0))
    nodes = (
        _read(spark, sf, "documents")
        .select(F.col("doc_id").alias("id"))
        .filter(F.col("id") < 64)
    )
    g = Graph.from_edges(edges, nodes=nodes, weight="weight")
    assignments, _ = scc(g)
    return assignments.orderBy("id")


@query(_sql_mst64(), headline=True)
def q_mst64(spark, sf):
    # `algo.mst` (Borůvka rebuild) on the bounded undirected doc
    # subgraph with distinct deterministic weights -> unique MST;
    # oracle = minimax-path characterization via min-max doubling
    from neo4j_graph_algorithms_spark.graph import Graph
    from neo4j_graph_algorithms_spark.operators.mst import mst

    base = (
        _doc_link_rows(spark, sf).select("src", "dst").distinct()
        .filter((F.col("src") < 64) & (F.col("dst") < 64))
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
        .withColumn(
            "weight", (F.col("src") * 64 + F.col("dst")).cast("double")
        )
    )
    nodes = (
        _read(spark, sf, "documents")
        .select(F.col("doc_id").alias("id"))
        .filter(F.col("id") < 64)
    )
    g = Graph.from_edges(base, nodes=nodes, weight="weight")
    tree, _ = mst(g)
    return tree.orderBy("src", "dst")


@query("""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.v, b.v) /
         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS s
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, ROUND(s, 4) AS sim FROM p WHERE s >= 0.45 ORDER BY id_a, id_b""")
def q_embedding_dup_pairs(spark, sf):
    # embedding-cosine near-dup pairs, exact method (the
    # verification baseline; the LSH scale path is differential-
    # tested against it in tests/test_round3.py)
    from neo4j_graph_algorithms_spark.pipeline.similarity import (
        embedding_near_pairs,
    )

    emb = _read(spark, sf, "embeddings")
    out = embedding_near_pairs(emb, threshold=0.45, method="exact")
    return out.select("id_a", "id_b", F.round("sim", 4).alias("sim"))


@query(f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events, ROUND(sum(value), {ROUND}) AS sum_value
FROM events GROUP BY 1, 2""")
def q_events_hourly(spark, sf):
    # date_trunc returns a session-zone timestamp even for the
    # zone-less `ts` column; cast back so `hour` keeps the input's
    # wall-clock (NTZ) type, as the oracle's TIMESTAMP does
    ev = _read(spark, sf, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), ROUND).alias("sum_value"),
    )


# -- rows-only queries: each rides seeded hashing or an argmax-contraction
# hierarchy that plain SQL can't replay; its `check` twin above is the
# oracle-backed stand-in, and queries() lists these last.

@query(check=q_minhash_check)
def q_minhash_dedup_pairs(spark, sf):
    # rows-only check (seeded MinHash permutations aren't SQL-expressible);
    # the estimator itself is differential-tested against exact Jaccard
    # in tests/test_pipeline.py
    from neo4j_graph_algorithms_spark.pipeline.dedup import minhash_lsh_pairs

    docs = _read(spark, sf, "documents")
    return minhash_lsh_pairs(docs, threshold=0.8, num_hashes=64, bands=16).select(
        "id_a", "id_b", F.round("jaccard_est", ROUND).alias("jaccard_est")
    )


@query(check=q_simhash_check)
def q_simhash_pairs(spark, sf):
    # rows-only: xxhash64-seeded SimHash not SQL-expressible
    from neo4j_graph_algorithms_spark.pipeline.dedup import simhash_near_pairs

    docs = _read(spark, sf, "documents")
    return simhash_near_pairs(docs, max_distance=3)


@query(check=q_ann_lsh_check)
def q_ann_lsh_topk(spark, sf):
    # rows-only: hyperplane-LSH candidates re-ranked exactly; recall
    # vs the exact `embedding_topk` oracle is asserted in tests
    from neo4j_graph_algorithms_spark.pipeline.similarity import lsh_cosine_topk

    emb = _read(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    c = emb.filter(F.col("vec_id") >= 5)
    out = lsh_cosine_topk(q, c, k=3, n_tables=8, n_bits=8)
    return out.select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")


@query(check=q_neighborhood_hll_check, headline=True)
def q_neighborhood_hll(spark, sf):
    # rows-only: the HyperANF estimate rides xxhash64-seeded HLL
    # registers (not SQL-expressible); its accuracy vs the exact
    # N(t) is differential-tested in tests/test_round4.py
    from neo4j_graph_algorithms_spark.operators.neighborhood import (
        neighborhood_function,
    )

    g = _doc_graph(spark, sf)
    nf, _ = neighborhood_function(g, max_depth=4, p=10, direction="out")
    return nf.select("depth", F.round("n_pairs_est", 2).alias("n_pairs_est"))


@query(check=q_random_walks_check, headline=True)
def q_random_walks64(spark, sf):
    # rows-only: the walk's neighbor choice is xxhash64-seeded (not
    # SQL-expressible); forced-path / edge-validity / determinism /
    # spread properties are tested in tests/test_round4.py. 64
    # sources × 2 reps × 4 steps over the doc graph — deterministic
    # given (graph, seed), so rows are stable across runs.
    from neo4j_graph_algorithms_spark.operators.random_walk import (
        random_walks,
    )

    g = _doc_graph(spark, sf)
    srcs = (
        _read(spark, sf, "documents")
        .select(F.col("doc_id").alias("id"))
        .filter(F.col("id") < 64)
    )
    out, _ = random_walks(g, walk_length=4, walks_per_node=2, sources=srcs)
    return out


@query(check=q_louvain_multilevel_check)
def q_louvain_multilevel(spark, sf):
    # hierarchical Louvain (local moves + community contraction) —
    # EXTENSION beyond the single-level reference (SURVEY §2.c 16b).
    # Deterministic (parity half-steps + ascending-community argmax
    # tie-break at every level) but not SQL-expressible: the driver
    # records the rows-only check; the two-level collapse semantics
    # are pinned by tests/test_round4.py's clique fixture.
    from neo4j_graph_algorithms_spark.operators.louvain import louvain_multilevel

    g = _doc_graph(spark, sf)
    assign, _ = louvain_multilevel(g, levels=3, iterations=2)
    return assign.select("id", "community")
