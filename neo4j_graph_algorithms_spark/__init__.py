"""PySpark-native link-graph analytics engine.

A from-scratch rebuild (NOT a port) of the capabilities of the
reference `mneedham/neo4j-graph-algorithms` (Java/Neo4j, surveyed in
/root/repo/SURVEY.md), re-expressed in idiomatic PySpark: graphs are
pairs of DataFrames (`nodes`, `edges`), algorithm kernels are
driver-side superstep loops issuing declarative DataFrame plans
(joins + aggregations + windows), with structural skew handling
(two-phase aggregation, salting, degree orientation) and
checkpointed, resumable supersteps.

Public surface (mirrors the reference's 47 `algo.*` procedures; see
SURVEY.md §2.c and `runner.list_procedures()`):

- `operators.pagerank` — delta-push PageRank (ref `impl/PageRank.java`)
- `operators.wcc` — unionFind / weakly connected components
  (ref `impl/GraphUnionFind.java`, `core/.../dss/DisjointSetStruct.java`)
- `operators.label_propagation` — weighted LPA
  (ref `impl/LabelPropagation.java`)
- `operators.triangles` — triangle count / clustering coefficient
  (ref `impl/TriangleCountQueue.java`, `impl/TriangleStream.java`)
- `operators.msbfs` — bit-parallel multi-source BFS engine, all
  shortest paths, closeness / harmonic centrality
  (ref `impl/msbfs/MultiSourceBFS.java`)
- `operators.betweenness` — exact / sampled / depth-bounded Brandes
- `operators.shortest_path` — SSSP, delta-stepping, weighted
  all-pairs, single-pair path
- `operators.mst` — minimum spanning forest (Borůvka rounds)
- `operators.scc` — strongly connected components
- `operators.louvain` — Louvain modularity (single- and multilevel)
- `operators.kcore`, `operators.neighborhood` (HyperANF),
  `operators.node_similarity`, `operators.random_walk`,
  `operators.graph_stats` — extensions beyond the reference
- `pipeline.dedup`, `pipeline.similarity`, `pipeline.text`,
  `pipeline.sampling`, `pipeline.sessionize`, `pipeline.multimodal` —
  large-scale training-data pipeline ops
- `streaming.ingest` — Structured Streaming edge ingest
- `functions.scalars` — `algo.*` scalar helper functions
- `graph` — graph normalization layer (the "GraphLoader" analogue)
- `plans.checkpointing` — superstep checkpoint/restore with
  per-partition lineage + convergence metrics
- `sources.link_extract` — repo-file table -> edge table (Arrow UDF,
  sha256 invariant)
- `runner` — procedure registry; `session` — SparkSession builder
"""

__version__ = "0.1.0"
