"""MST against a pure-Python Kruskal with the same (weight, src, dst)
tie-break: the tree edge set, the weight aggregates and
`effectiveNodeCount`, on seeded random graphs with duplicate weights, a
level-weighted 64-node path (one Borůvka round per level), a path with
chords, and a 3-component forest, whole and from a start node inside
each component."""

import random

import pytest

from neo4j_graph_algorithms_spark.graph import Graph
from neo4j_graph_algorithms_spark.operators.mst import mst


def _kruskal(edges, start_node=None):
    """(tree edges {(src, dst): weight}, component count) of the minimum
    spanning forest over canonical pairs (min weight per pair, self-loops
    dropped), edges taken in (weight, src, dst) order; with `start_node`
    only that node's tree."""
    pairs: dict[tuple[int, int], float] = {}
    for s, d, w in edges:
        if s != d:
            key = (min(s, d), max(s, d))
            pairs[key] = min(w, pairs.get(key, w))
    parent = {n: n for pair in pairs for n in pair}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    tree = {}
    for (s, d), w in sorted(pairs.items(), key=lambda kv: (kv[1], *kv[0])):
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
            tree[(s, d)] = w
    if start_node is not None:
        if start_node not in parent:
            return {}, 0
        root = find(start_node)
        return {e: w for e, w in tree.items() if find(e[0]) == root}, 1
    return tree, len({find(n) for n in parent})


def _random_graph(seed, n=30, m=70):
    rng = random.Random(seed)
    # weights drawn from 1..4: many ties, so the tie-break decides the tree
    return [(rng.randrange(n), rng.randrange(n), float(rng.randint(1, 4))) for _ in range(m)]


def _path_chords(seed, n=120):
    """A path plus a chord from every third node, weights 1..50: merged
    components meet a cheaper label away from their root node, which an
    in-place relabelling over the picked node pairs leaves split."""
    rng = random.Random(seed)
    path = [(i, i + 1, float(rng.randint(1, 50))) for i in range(n - 1)]
    return path + [(i, (i + rng.randint(2, 40)) % n, float(rng.randint(1, 50))) for i in range(0, n, 3)]


LEVEL_PATH = [(i, i + 1, float(((i + 1) & -(i + 1)).bit_length())) for i in range(63)]
FOREST = [(s + base, d + base, w) for base in (0, 100, 200) for s, d, w in _random_graph(base, 12, 25)]

CASES = {
    "random_s1": (_random_graph(1), None),
    "random_s2": (_random_graph(2), None),
    "random_s3": (_random_graph(3), None),
    "level_path": (LEVEL_PATH, None),
    "path_chords": (_path_chords(7), None),
    "forest": (FOREST, None),
    **{
        f"forest_start_{base}": (FOREST, next(s for s, d, _ in FOREST if s >= base and s != d))
        for base in (0, 100, 200)
    },
}


@pytest.mark.parametrize("case", list(CASES))
def test_mst_matches_kruskal(spark, case):
    edges, start = CASES[case]
    want, n_components = _kruskal(edges, start)
    tree, stats = mst(Graph.from_edge_list(spark, edges), start_node=start)
    rows = tree.collect()
    got = {(r.src, r.dst): r.weight for r in rows}
    assert got == want and len(rows) == len(want)  # no edge picked twice
    ws = list(want.values())
    assert stats["weightSum"] == pytest.approx(sum(ws))
    assert stats["weightMin"] == min(ws) and stats["weightMax"] == max(ws)
    assert stats["effectiveNodeCount"] == len(want) + n_components
    if case == "level_path":
        assert stats["rounds"] >= 7  # six merging rounds + the empty one
