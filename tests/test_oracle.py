"""The oracle is the executable spec — verify it against hand-computed
constants and the parity graph (jazz.graph, or the in-repo planted
fixture)."""

import numpy as np
import pytest

from comm_detect_spark.oracle import (
    Adjacency,
    canonical_labels,
    connected_components,
    louvain,
    lpa_async,
    lpa_sync,
    modularity,
    modularity_difference,
    pagerank,
    ring_of_cliques,
    triangle_counts,
    two_components,
    volumes,
    weighted_triangle,
)
from tests.conftest import requires_jazz


def adj_of(gen):
    n, s, d, w = gen
    return Adjacency.from_entries(n, s, d, w)


class TestWeightedTriangle:
    """Hand-computed constants (FIXTURES.md §3.4)."""

    def test_weight_net(self):
        adj = adj_of(weighted_triangle())
        # 2*(5+3+2) + self-loop 4 once = 24 (modularity.h:54-66)
        assert adj.weight_net == 24

    def test_volumes_self_loop_twice(self):
        adj = adj_of(weighted_triangle())
        # node0: 5+2+4 +4(again) = 15 (modularity.h:68-81)
        assert volumes(adj).tolist() == [15, 8, 5]

    def test_modularity_single_community(self):
        adj = adj_of(weighted_triangle())
        # all in one community: w_in = W = 24, vol(C) = 15+8+5 = 28 (self-loop
        # twice) -> Q = 1 - 28^2/(4*24^2) (reference formula modularity.h:187,
        # NOT textbook Newman)
        expected = 1.0 - 28.0**2 / (4 * 24.0**2)
        assert modularity(adj, np.zeros(3, np.int64)) == pytest.approx(
            expected, abs=1e-12
        )

    def test_modularity_singletons(self):
        adj = adj_of(weighted_triangle())
        w = 24.0
        # w_in: node0 self-loop only = 4; vol^2 terms per singleton
        expected = (4 / w - 15**2 / (4 * w * w)) + (
            -(8**2) / (4 * w * w)
        ) + (-(5**2) / (4 * w * w))
        q = modularity(adj, np.arange(3, dtype=np.int64))
        assert q == pytest.approx(expected, abs=1e-12)

    def test_dq_formula(self):
        adj = adj_of(weighted_triangle())
        labels = np.arange(3, dtype=np.int64)
        # move node 2 into node 1's community (modularity.h:255-284):
        # w_c=0, w_d=3, vol_c\2=0, vol_d=8, vol_2=5, W=24
        expected = (3 - 0) / 24.0 + (0 - 8) * 5 / (2 * 24.0 * 24.0)
        assert modularity_difference(adj, labels, 2, 1) == pytest.approx(
            expected, abs=1e-12
        )


class TestPlantedGraphs:
    def test_ring_of_cliques_louvain(self):
        n, s, d, w = ring_of_cliques(k=8, c=16)
        adj = Adjacency.from_entries(n, s, d, w)
        labels, _ = louvain(adj)
        # each clique is a community
        expected = np.repeat(np.arange(8), 16)
        assert np.array_equal(canonical_labels(labels), canonical_labels(expected))

    def test_ring_of_cliques_lpa_async(self):
        n, s, d, w = ring_of_cliques(k=8, c=16)
        adj = Adjacency.from_entries(n, s, d, w)
        labels, _ = lpa_async(adj)
        # LPA must not split cliques: every clique ends with one label
        expected = np.repeat(np.arange(8), 16)
        for c in range(8):
            assert len(np.unique(labels[c * 16 : (c + 1) * 16])) == 1

    def test_ring_of_cliques_triangles(self):
        n, s, d, w = ring_of_cliques(k=8, c=16)
        adj = Adjacency.from_entries(n, s, d, w)
        _, total = triangle_counts(adj)
        assert total == 8 * (16 * 15 * 14 // 6)

    def test_two_components(self):
        n, s, d, w = two_components(k=4, c=8)
        adj = Adjacency.from_entries(n, s, d, w)
        comp = connected_components(adj)
        ids = np.unique(comp)
        assert ids.tolist() == [0, 32]
        assert np.all(comp[:32] == 0) and np.all(comp[32:] == 32)


class TestJazz:
    """Against the parity graph (conftest ``jazz``): the reference's own
    tests/networkit/jazz.graph, or the in-repo planted fixture when it is
    absent. The known values need jazz itself."""

    @requires_jazz
    def test_graph_stats(self, jazz_adj):
        assert jazz_adj.n == 198
        assert jazz_adj.indices.size == 2 * 2742
        assert jazz_adj.weight_net == 5484

    def test_single_component(self, jazz_adj):
        assert len(np.unique(connected_components(jazz_adj))) == 1

    @requires_jazz
    def test_triangles_known_value(self, jazz_adj):
        per, total = triangle_counts(jazz_adj)
        assert total == 17899  # published count for the jazz graph
        assert per.sum() == 3 * total

    def test_pagerank_is_distribution(self, jazz_adj, jazz):
        n, s, d, w = jazz
        r = pagerank(n, s, d, w.astype(float), iterations=50)
        assert r.sum() == pytest.approx(1.0, abs=1e-9)
        assert (r > 0).all()

    def test_louvain_improves_modularity(self, jazz_adj):
        labels, levels = louvain(jazz_adj)
        q = modularity(jazz_adj, labels)
        q0 = modularity(jazz_adj, np.arange(jazz_adj.n, dtype=np.int64))
        assert q > q0
        assert levels >= 2

    def test_lpa_sync_deterministic(self, jazz_adj):
        l1, _ = lpa_sync(jazz_adj)
        l2, _ = lpa_sync(jazz_adj)
        assert np.array_equal(l1, l2)

    def test_lpa_async_deterministic(self, jazz_adj):
        l1, _ = lpa_async(jazz_adj)
        l2, _ = lpa_async(jazz_adj)
        assert np.array_equal(l1, l2)


class TestCanonical:
    def test_canonical_labels(self):
        labels = np.array([7, 7, 3, 3, 7], dtype=np.int64)
        assert canonical_labels(labels).tolist() == [0, 0, 2, 2, 0]
