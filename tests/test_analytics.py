"""Clustering, subsequence and alignment parity with reference fixtures
(tests/test_clustering.py, tests/test_subsequence.py, alignment.py golden)."""

import numpy as np
import pytest

from dtaidistance_spark.kernels import dtw as k
from dtaidistance_spark.kernels.alignment import (best_alignment,
                                                  make_substitution,
                                                  needleman_wunsch)
from dtaidistance_spark.kernels.subsequence import (kbest_matches,
                                                    subsequence_alignment)
from dtaidistance_spark.operators.cluster import (hierarchical_fit,
                                                  hierarchical_tree,
                                                  kmedoids_dtw, linkage)

S6 = np.array([
    [0., 0, 1, 2, 1, 0, 1, 0, 0],
    [0., 1, 2, 0, 0, 0, 0, 0, 0],
    [1., 2, 0, 0, 0, 0, 0, 1, 1],
    [0., 0, 1, 2, 1, 0, 1, 0, 0],
    [0., 1, 2, 0, 0, 0, 0, 0, 0],
    [1., 2, 0, 0, 0, 0, 0, 1, 1]])


def _triu_matrix(series):
    n = len(series)
    m = np.full((n, n), np.inf)
    for i in range(n):
        for j in range(i + 1, n):
            m[i, j] = k.dtw_distance(series[i], series[j])
    return m


class TestHierarchical:
    def test_merge_sequence_and_clusters(self):
        # reference tests/test_clustering.py:20-36
        merges = []

        def hook(from_idx, to_idx, distance):
            merges.append((from_idx, to_idx))
            return None

        clusters = hierarchical_fit(_triu_matrix(S6), max_dist=2,
                                    merge_hook=hook)
        assert set(merges) <= {(3, 0), (4, 1), (5, 2), (1, 0)}
        assert clusters[0] == {0, 1, 3, 4}
        assert clusters[2] == {2, 5}

    def test_tree_single_root(self):
        # reference tests/test_clustering.py:40-75 (7 series)
        s7 = np.vstack([S6, S6[2:3]])
        rows, clusters = hierarchical_tree(_triu_matrix(s7))
        assert clusters[0] == {0, 1, 2, 3, 4, 5, 6}
        assert len(rows) == 6  # n-1 merges to a single root

    def test_linkage_structure(self):
        n = 6
        m = _triu_matrix(S6)
        cond = m[np.triu_indices(n, k=1)]
        Z = linkage(cond, n, method="complete")
        assert Z.shape == (5, 4)
        # first merges are the three zero-distance identical pairs
        first3 = {(int(Z[i, 0]), int(Z[i, 1])) for i in range(3)}
        assert first3 == {(0, 3), (1, 4), (2, 5)}
        assert np.all(Z[:3, 2] == 0.0)
        assert Z[-1, 3] == 6  # root contains all

    def test_linkage_monotone_distances(self, rng):
        series = [rng.normal(size=12) for _ in range(9)]
        m = _triu_matrix(series)
        cond = m[np.triu_indices(9, k=1)]
        for method in ("complete", "single", "average"):
            Z = linkage(cond, 9, method=method)
            assert np.all(np.diff(Z[:, 2]) >= -1e-12), method

    def test_kmedoids(self):
        m = _triu_matrix(S6)
        full = np.where(np.isinf(m), 0.0, m)
        full = full + full.T
        medoids, assign = kmedoids_dtw(full, k=3, seed=1)
        # identical triplets land in identical clusters
        assert assign[0] == assign[3]
        assert assign[1] == assign[4]
        assert assign[2] == assign[5]


class TestSubsequence:
    def test_best_match_and_kbest(self):
        # reference tests/test_subsequence.py:20-44
        query = np.array([1., 2, 0])
        series = np.array([1., 0, 1, 2, 1, 0, 2, 0, 3, 0, 0])
        sa = subsequence_alignment(query, series)
        best = kbest_matches(query, series, k=1)[0]
        assert best.path == [(0, 2), (1, 3), (2, 4)]
        best_k = kbest_matches(query, series, k=3)
        assert [[m.start, m.end] for m in best_k] == [[2, 4], [5, 7], [0, 1]]

    def test_max_rangefactor(self):
        # reference tests/test_subsequence.py:48-57
        query = np.array([1., 2, 0])
        series = np.array([1., 0, 1, 2, 1, 0, 2, 0, 3, 0, 0, 5, 6, 0, 0, 0,
                           0, 0, 0, 0, 0, 0, 0])
        best_k = kbest_matches(query, series, k=None, max_rangefactor=1.2)
        assert [[m.start, m.end] for m in best_k] == [[2, 4], [5, 7], [0, 1],
                                                      [4, 5]]

    def test_matching_vs_reference(self, oracle, rng):
        ref_sa = oracle("subsequence").subsequence_alignment

        query = rng.normal(size=5)
        series = rng.normal(size=40)
        ours = subsequence_alignment(query, series)
        ref = ref_sa(query, series)
        np.testing.assert_allclose(ours.matching, ref.matching_function(),
                                   rtol=1e-12)


class TestAlignment:
    def test_gattaca_golden(self):
        # reference alignment.py:52-66
        s1, s2 = "GATTACA", "GCATGCU"
        value, scores = needleman_wunsch(s1, s2)
        expected = -np.array([
            [0., 1, 2, 3, 4, 5, 6, 7],
            [1., -1, 0, 1, 2, 3, 4, 5],
            [2., 0, 0, -1, 0, 1, 2, 3],
            [3., 1, 1, 0, -2, -1, 0, 1],
            [4., 2, 2, 1, -1, -1, 0, 1],
            [5., 3, 3, 1, 0, 0, 0, 1],
            [6., 4, 2, 2, 1, 1, -1, 0],
            [7., 5, 3, 1, 2, 2, 0, 0]])
        np.testing.assert_allclose(scores, expected)
        _, s1a, s2a = best_alignment(scores, s1, s2)
        # note: the reference docstring shows GCAT-GCU, but the reference
        # *code* returns GCA-TGCU (both are optimal); we match the code.
        assert "".join(s1a) == "G-ATTACA"
        assert "".join(s2a) == "GCA-TGCU"

    def test_vs_reference_random(self, oracle, rng):
        ref_al = oracle("alignment")

        syms = list("ABCD")
        for _ in range(5):
            s1 = "".join(rng.choice(syms, size=8))
            s2 = "".join(rng.choice(syms, size=10))
            v_ref, m_ref, _ = ref_al.needleman_wunsch(s1, s2)
            v, m = needleman_wunsch(s1, s2)
            assert v == pytest.approx(float(v_ref))
            np.testing.assert_allclose(m, np.asarray(m_ref))

    def test_substitution_matrix(self):
        sub = make_substitution({("A", "B"): 2.0}, gap=0.5)
        assert sub("A", "B") == (-2.0, 0.5)
        assert sub("B", "A") == (-2.0, 0.5)
        assert sub("A", "A") == (-1.0, 0.5)
