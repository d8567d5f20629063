"""Single-process reference implementations ("twins") of the kernels the
benchmark checks.

Each twin restates the kernel's documented semantics in numpy/pandas,
written from the docstrings, not from the Spark plans, so a plan change
that alters results cannot also alter its own reference:

- PageRank: delta-push — scores start at ``1 - d``; each superstep every
  node with delta > 0 pushes ``d * delta / outDegree`` to its
  out-neighbours; dangling nodes push nothing.
- WCC: min-label components; the component id is the smallest node id.
- Triangles: per-node count of undirected triangles (parallel edges and
  self-loops ignored).
- Label propagation: each iteration is two half-steps (even ids, then
  odd ids, by non-negative ``id mod 2``); a node takes the label with
  the largest summed vote of its out-neighbours, ties to the smallest
  label; nodes with no out-neighbours keep theirs.
- Dedup clusters: union-find over the pair list; the cluster id is the
  smallest document id of the cluster.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def pagerank_delta_push(
    src: np.ndarray, dst: np.ndarray, n_nodes: int, supersteps: int,
    damping: float = 0.85,
) -> np.ndarray:
    """Ranks of nodes ``0..n_nodes-1`` after ``supersteps`` pushes."""
    out_deg = np.bincount(src, minlength=n_nodes).astype(np.float64)
    share = damping / out_deg[src]
    rank = np.full(n_nodes, 1.0 - damping)
    delta = rank.copy()
    for _ in range(supersteps):
        recv = np.zeros(n_nodes)
        np.add.at(recv, dst, delta[src] * share)
        delta = recv
        rank += recv
    return rank


def pagerank_max_deltas(
    src: np.ndarray, dst: np.ndarray, n_nodes: int, supersteps: int,
    damping: float = 0.85,
) -> np.ndarray:
    """Largest delta after each of the first ``supersteps`` pushes."""
    out_deg = np.bincount(src, minlength=n_nodes).astype(np.float64)
    share = damping / out_deg[src]
    delta = np.full(n_nodes, 1.0 - damping)
    out = np.empty(supersteps)
    for step in range(supersteps):
        recv = np.zeros(n_nodes)
        np.add.at(recv, dst, delta[src] * share)
        delta = recv
        out[step] = delta.max()
    return out


def _dense(ids: np.ndarray, src: np.ndarray, dst: np.ndarray):
    """Sorted node ids plus src/dst as indices into them."""
    nodes = np.unique(ids)
    return nodes, np.searchsorted(nodes, src), np.searchsorted(nodes, dst)


def min_label_components(src: np.ndarray, dst: np.ndarray) -> pd.Series:
    """Component (smallest member id) of every edge endpoint."""
    nodes, s, d = _dense(np.concatenate([src, dst]), src, dst)
    # labels are dense indices; nodes is sorted, so the smallest index of
    # a component is its smallest id
    lab = np.arange(len(nodes))
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, s, lab[d])
        np.minimum.at(nxt, d, lab[s])
        nxt = nxt[nxt]  # pointer jump: follow each label to its own label
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    return pd.Series(nodes[lab], index=nodes)


def triangles_per_node(src: np.ndarray, dst: np.ndarray) -> pd.Series:
    """Number of undirected triangles through every edge endpoint."""
    nodes, s, d = _dense(np.concatenate([src, dst]), src, dst)
    keep = s != d
    lo, hi = np.minimum(s[keep], d[keep]), np.maximum(s[keep], d[keep])
    und = pd.DataFrame({"a": lo, "b": hi}).drop_duplicates()
    # each triangle a<b<c is the wedge a-b, b-c closed by a-c
    wedges = und.merge(und.rename(columns={"a": "b", "b": "c"}), on="b")
    closed = wedges.merge(und.rename(columns={"b": "c"}), on=["a", "c"])
    counts = np.bincount(
        np.concatenate([closed["a"], closed["b"], closed["c"]]).astype(np.int64),
        minlength=len(nodes),
    )
    return pd.Series(counts, index=nodes)


def label_propagation(
    src: np.ndarray, dst: np.ndarray, iterations: int,
    weight: np.ndarray | None = None,
) -> pd.Series:
    """Labels of every edge endpoint after ``iterations`` iterations,
    starting from label = own id; a vote weighs its edge's weight
    (default 1)."""
    nodes = np.unique(np.concatenate([src, dst]))
    labels = pd.Series(nodes, index=nodes)
    edges = pd.DataFrame({
        "node": src, "nbr": dst,
        "w": np.ones(len(src)) if weight is None else weight,
    })
    for _ in range(iterations):
        for p in (0, 1):
            votes = (
                edges.assign(label=labels.loc[edges["nbr"]].to_numpy())
                .groupby(["node", "label"])["w"].sum().rename("vote").reset_index()
            )
            best = votes.sort_values(
                ["node", "vote", "label"], ascending=[True, False, True]
            ).drop_duplicates("node").set_index("node")["label"]
            best = best[np.mod(best.index.to_numpy(), 2) == p]
            labels = labels.copy()
            labels.loc[best.index] = best.to_numpy()
    return labels


def union_find_clusters(doc_ids: np.ndarray, id_a: np.ndarray, id_b: np.ndarray) -> pd.Series:
    """Cluster (smallest member id) of every document, from a pair list."""
    parent = {int(i): int(i) for i in doc_ids}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(id_a.tolist(), id_b.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller id stays root, so every root is its cluster's min
            parent[max(ra, rb)] = min(ra, rb)
    return pd.Series({i: find(i) for i in parent}).sort_index()
