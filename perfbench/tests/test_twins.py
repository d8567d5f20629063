"""The reference twins against the fixture graphs of FIXTURES.md."""

from __future__ import annotations

import numpy as np

from perfbench import twins


def _edges(pairs):
    a = np.array(pairs, dtype=np.int64)
    return a[:, 0], a[:, 1]


def test_pagerank_label1_fixture():
    # FIXTURES.md §1: nodes a..j = 0..9, TYPE1 edges only, 40 iterations
    a, b, c, d, e, f = range(6)
    src, dst = _edges([(b, c), (c, b), (d, a), (d, b), (e, b), (e, d), (e, f),
                       (f, b), (f, e)])
    ranks = twins.pagerank_delta_push(src, dst, 10, 40)
    want = [0.243007, 1.9183995, 1.7806315, 0.21885, 0.243007, 0.21885,
            0.15, 0.15, 0.15, 0.15]
    assert np.allclose(ranks, want, atol=1e-2)


def test_pagerank_wiki_fixture_with_dangling_node():
    # FIXTURES.md §2: a (0) is dangling and pushes nothing
    a, b, c, d, e, f, g, h, i, j, k = range(11)
    src, dst = _edges([(b, c), (c, b), (d, a), (d, b), (e, b), (e, d), (e, f),
                       (f, b), (f, e), (g, b), (g, e), (h, b), (h, e), (i, b),
                       (i, e), (j, e), (k, e)])
    ranks = twins.pagerank_delta_push(src, dst, 11, 40)
    want = [0.3040965, 3.5658695, 3.180981, 0.3625935, 0.7503465, 0.3625935,
            0.15, 0.15, 0.15, 0.15, 0.15]
    assert np.allclose(ranks, want, atol=1e-2)


def test_pagerank_max_deltas_shrink_by_damping_on_a_cycle():
    src, dst = _edges([(0, 1), (1, 2), (2, 0)])
    md = twins.pagerank_max_deltas(src, dst, 3, 4)
    assert np.allclose(md, 0.15 * 0.85 ** np.arange(1, 5))


def test_wcc_union_find_fixture():
    # FIXTURES.md §3: A..J = 0..9; J is isolated, so not an edge endpoint
    src, dst = _edges([(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (7, 8)])
    comp = twins.min_label_components(src, dst)
    assert comp.to_dict() == {**dict.fromkeys(range(7), 0), 7: 7, 8: 7}


def test_wcc_sixteen_lines_fixture():
    # FIXTURES.md §4: 16 directed chains of 10 nodes, chain k = 10k..10k+9
    pairs = [(10 * k + i, 10 * k + i + 1) for k in range(16) for i in range(9)]
    comp = twins.min_label_components(*_edges(pairs))
    assert (comp.to_numpy() == (comp.index.to_numpy() // 10) * 10).all()


def test_wcc_component_id_is_the_smallest_id_whatever_the_edge_order():
    src, dst = _edges([(9, 8), (8, 7), (7, 3), (-5, 9)])
    assert set(twins.min_label_components(src, dst)) == {-5}


def test_triangles_three_triangle_fixture():
    # FIXTURES.md §7.1: ids a=0 f=1 c=2 e=3 i=4 b=5 h=6 d=7 g=8
    a, f, c, e, i, b, h, d, g = range(9)
    src, dst = _edges([(a, b), (b, c), (c, a), (c, h), (d, e), (e, f), (f, d),
                       (b, d), (g, h), (h, i), (i, g)])
    tri = twins.triangles_per_node(src, dst)
    assert tri.to_dict() == dict.fromkeys(range(9), 1)


def test_triangles_clustering_wiki_fixture_ignores_direction_and_duplicates():
    # FIXTURES.md §7.2: a-b, a-c, a-d, b-d; one triangle a, b, d
    src, dst = _edges([(0, 1), (0, 2), (0, 3), (1, 3), (3, 1), (2, 2)])
    assert twins.triangles_per_node(src, dst).to_dict() == {0: 1, 1: 1, 2: 0, 3: 1}


def test_label_propagation_seedless_fixture():
    # FIXTURES.md §5 without a partition key: labels start as ids and after
    # one round a (0) takes 6 (edge weight 8), b (1) takes 11
    pairs = [(0, t) for t in range(2, 7)] + [(1, t) for t in range(7, 12)]
    weight = np.array([1.0, 2.0, 1.0, 1.0, 8.0] * 2)
    labels = twins.label_propagation(*_edges(pairs), iterations=1, weight=weight)
    assert labels[0] == 6 and labels[1] == 11
    assert all(labels[t] == t for t in range(2, 12))


def test_label_propagation_ties_go_to_the_smallest_label_and_halves_alternate():
    # 0 and 1 point at each other: 0 (even half) takes 1 first, then 1 (odd
    # half) sees label 1 on 0 and keeps 1; no synchronous swap
    src, dst = _edges([(0, 1), (1, 0), (2, 3), (2, 4)])
    labels = twins.label_propagation(src, dst, iterations=1)
    assert labels.to_dict() == {0: 1, 1: 1, 2: 3, 3: 3, 4: 4}


def test_label_propagation_negative_ids_use_non_negative_parity():
    # -3 is odd: it updates in the second half-step, after -2 took -1
    src, dst = _edges([(-2, -1), (-3, -2)])
    labels = twins.label_propagation(src, dst, iterations=1)
    assert labels.to_dict() == {-3: -1, -2: -1, -1: -1}


def test_union_find_clusters():
    clusters = twins.union_find_clusters(
        np.arange(8), np.array([2, 1, 5]), np.array([3, 2, 6]))
    assert clusters.to_dict() == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}
