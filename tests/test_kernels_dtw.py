"""Kernel ↔ oracle parity tests.

Golden values come from the reference's own pytest suite
(tests/test_dtw.py, test_ed.py, test_warping.py, test_dtw2d.py there);
beyond the goldens, randomized seeded series are compared with the
pure-Python reference when it imports and otherwise with the textbook
oracles (tests/textbook_dtw.py, tests/textbook_oracles.py).  Every test
here runs either way; the reference-only tests live in test_extras.py,
test_round2_ops.py and test_loco_symbol.py.
"""

import math

import numpy as np
import pytest

from dtaidistance_spark.kernels import dtw as k

S1 = [0.0, 0, 1, 2, 1, 0, 1, 0, 0]
S2 = [0.0, 1, 2, 0, 0, 0, 0, 0, 0]


class TestGolden:
    def test_distance_sqrt2(self):
        # reference tests/test_dtw.py:53-57
        assert k.dtw_distance(S1, S2) == pytest.approx(math.sqrt(2), abs=0, rel=1e-15)

    def test_distance_euclidean_inner(self):
        # reference tests/test_dtw.py:70-75: euclidean inner dist → 2
        assert k.dtw_distance(S1, S2, inner_dist="euclidean") == pytest.approx(2.0)

    def test_ed(self):
        # reference tests/test_ed.py:10-15
        assert k.ed_distance(S1, S2) == pytest.approx(2.8284271247461903)

    def test_psi_shifted_sine_zero(self):
        # reference tests/test_warping.py:170-213
        x = np.arange(0, 20, 0.5)
        s1 = np.sin(x)
        s2 = np.sin(x - 1)
        d = k.dtw_distance(s1, s2, psi=2)
        assert d == pytest.approx(0.0, abs=1e-10)

    def test_window_band(self):
        d_full = k.dtw_distance(S1, S2)
        d_w1 = k.dtw_distance(S1, S2, window=1)
        # window=1 → Euclidean distance (docstring dtw.py:110-114)
        assert d_w1 == pytest.approx(k.ed_distance(S1, S2))
        assert d_full <= d_w1


class TestOracleParity:
    """Bit-level comparison vs the pure-Python reference, or vs the
    textbook DP where the reference does not import."""

    def _pairs(self, rng, n_pairs=20, lens=(5, 9, 16, 33)):
        out = []
        for i in range(n_pairs):
            l1 = int(rng.choice(lens))
            l2 = int(rng.choice(lens))
            out.append((rng.normal(size=l1), rng.normal(size=l2)))
        return out

    def test_distance_random(self, ref_dtw, rng):
        for s1, s2 in self._pairs(rng):
            expected = ref_dtw.distance(s1, s2)
            got = k.dtw_distance(s1, s2)
            assert got == expected, (s1, s2)

    def test_distance_window(self, ref_dtw, rng):
        for s1, s2 in self._pairs(rng, n_pairs=12):
            for w in (1, 2, 3, 5):
                expected = ref_dtw.distance(s1, s2, window=w)
                got = k.dtw_distance(s1, s2, window=w)
                assert got == expected, (w, s1, s2)

    def test_distance_psi(self, ref_dtw, rng):
        for s1, s2 in self._pairs(rng, n_pairs=8, lens=(12, 20)):
            for psi in (1, 2, (2, 1, 0, 3)):
                expected = ref_dtw.distance(s1, s2, psi=psi)
                got = k.dtw_distance(s1, s2, psi=psi)
                assert got == pytest.approx(expected, rel=1e-15), (psi,)

    def test_distance_penalty_maxstep(self, ref_dtw, rng):
        for s1, s2 in self._pairs(rng, n_pairs=8):
            expected = ref_dtw.distance(s1, s2, penalty=0.5, max_step=1.5)
            got = k.dtw_distance(s1, s2, penalty=0.5, max_step=1.5)
            assert got == expected or (math.isinf(got) and math.isinf(expected))

    def test_distance_max_dist(self, ref_dtw, rng):
        for s1, s2 in self._pairs(rng, n_pairs=8):
            expected = ref_dtw.distance(s1, s2, max_dist=1.0)
            got = k.dtw_distance(s1, s2, max_dist=1.0)
            if math.isinf(expected):
                assert math.isinf(got)
            else:
                assert got == expected

    def test_distance_use_pruning(self, ref_dtw, rng):
        for s1, s2 in self._pairs(rng, n_pairs=8):
            expected = ref_dtw.distance(s1, s2, use_pruning=True)
            got = k.dtw_distance(s1, s2, use_pruning=True)
            assert got == pytest.approx(expected, rel=1e-12)

    def test_distance_max_length_diff(self, ref_dtw):
        assert math.isinf(k.dtw_distance([1.0, 2, 3], [1.0] * 10, max_length_diff=3))

    def test_ndim_distance(self, oracle, rng):
        ref_ndim = oracle("dtw_ndim")

        for _ in range(6):
            s1 = rng.normal(size=(10, 3))
            s2 = rng.normal(size=(14, 3))
            expected = ref_ndim.distance(s1, s2)
            got = k.dtw_distance(s1, s2)
            assert got == pytest.approx(expected, rel=1e-15)

    def test_ed_random(self, ref_ed, rng):
        for _ in range(10):
            s1 = rng.normal(size=17)
            s2 = rng.normal(size=int(rng.choice([13, 17, 23])))
            assert k.ed_distance(s1, s2) == pytest.approx(
                ref_ed.distance(s1, s2), rel=1e-12)

    def test_lb_keogh_random(self, ref_dtw, rng):
        for _ in range(10):
            s1 = rng.normal(size=20)
            s2 = rng.normal(size=20)
            for w in (2, 5, None):
                expected = ref_dtw.lb_keogh(s1, s2, window=w)
                got = k.lb_keogh(s1, s2, window=w)
                assert got == pytest.approx(expected, rel=1e-12), (w,)

    def test_lb_keogh_is_lower_bound(self, rng):
        for _ in range(20):
            s1 = rng.normal(size=25)
            s2 = rng.normal(size=25)
            w = 5
            lb = k.lb_keogh(s1, s2, window=w)
            d = k.dtw_distance(s1, s2, window=w)
            assert lb <= d + 1e-12


class TestBatch:
    def test_batch_matches_scalar(self, rng):
        B, n = 16, 24
        X1 = rng.normal(size=(B, n))
        X2 = rng.normal(size=(B, n))
        d = k.dtw_distance_batch(X1, X2)
        for b in range(B):
            assert d[b] == k.dtw_distance(X1[b], X2[b])

    def test_batch_window_psi(self, rng):
        B, n = 8, 20
        X1 = rng.normal(size=(B, n))
        X2 = rng.normal(size=(B, n))
        for kw in ({"window": 3}, {"psi": 2}, {"penalty": 0.25}):
            d = k.dtw_distance_batch(X1, X2, **kw)
            for b in range(B):
                assert d[b] == k.dtw_distance(X1[b], X2[b], **kw), kw

    def test_batch_ndim(self, rng):
        B, n, dim = 6, 15, 2
        X1 = rng.normal(size=(B, n, dim))
        X2 = rng.normal(size=(B, n, dim))
        d = k.dtw_distance_batch(X1, X2)
        for b in range(B):
            assert d[b] == k.dtw_distance(X1[b], X2[b])

    def test_batch_unequal_shapes(self, rng):
        X1 = rng.normal(size=(5, 10))
        X2 = rng.normal(size=(5, 17))
        d = k.dtw_distance_batch(X1, X2)
        for b in range(5):
            assert d[b] == k.dtw_distance(X1[b], X2[b])

    def test_lb_keogh_batch(self, rng):
        X1 = rng.normal(size=(7, 30))
        X2 = rng.normal(size=(7, 30))
        lb = k.lb_keogh_batch(X1, X2, window=4)
        for b in range(7):
            assert lb[b] == pytest.approx(k.lb_keogh(X1[b], X2[b], window=4))

    def test_ed_batch(self, rng):
        X1 = rng.normal(size=(7, 30))
        X2 = rng.normal(size=(7, 30))
        d = k.ed_distance_batch(X1, X2)
        for b in range(7):
            assert d[b] == pytest.approx(k.ed_distance(X1[b], X2[b]))


@pytest.mark.usefixtures("numpy_dtw")
class TestOracleParityNumpy(TestOracleParity):
    """TestOracleParity with the C kernel hidden: the numpy DP."""


@pytest.mark.usefixtures("numpy_dtw")
class TestBatchNumpy(TestBatch):
    """TestBatch with the C kernel hidden: the numpy DP."""


class TestWarping:
    def test_warping_paths_matrix(self, ref_dtw, rng):
        for _ in range(6):
            s1 = rng.normal(size=12)
            s2 = rng.normal(size=15)
            de, me = ref_dtw.warping_paths(s1, s2)
            dg, mg = k.warping_paths(s1, s2)
            assert dg == pytest.approx(de, rel=1e-15)
            np.testing.assert_allclose(mg, me, rtol=1e-15)

    def test_warping_paths_psi(self, ref_dtw):
        x = np.arange(0, 20, 0.5)
        s1, s2 = np.sin(x), np.sin(x - 1)
        de, me = ref_dtw.warping_paths(s1, s2, psi=2)
        dg, mg = k.warping_paths(s1, s2, psi=2)
        assert dg == pytest.approx(de, abs=1e-12)
        np.testing.assert_allclose(mg, me, rtol=1e-12)

    def test_best_path(self, ref_dtw, rng):
        for _ in range(6):
            s1 = rng.normal(size=10)
            s2 = rng.normal(size=13)
            _, me = ref_dtw.warping_paths(s1, s2)
            pe = ref_dtw.best_path(me)
            _, mg = k.warping_paths(s1, s2)
            pg = k.best_path(mg)
            assert pg == pe

    def test_warping_path_api(self, ref_dtw, rng):
        s1 = rng.normal(size=11)
        s2 = rng.normal(size=11)
        assert k.warping_path(s1, s2) == ref_dtw.warping_path(s1, s2)

    def test_warp(self, ref_dtw, rng):
        s1 = rng.normal(size=11)
        s2 = rng.normal(size=14)
        we, _ = ref_dtw.warp(s1, s2)
        wg, _ = k.warp(s1, s2)
        np.testing.assert_allclose(wg, we, rtol=1e-12)


class TestDba:
    def test_dba_matches_reference(self, oracle, rng):
        ref_bary = oracle("dtw_barycenter")

        series = [rng.normal(size=16) for _ in range(5)]
        c0 = series[0]
        expected = ref_bary.dba(series, c0, use_c=False)
        got = k.dba_update(series, c0)
        np.testing.assert_allclose(got, np.asarray(expected), rtol=1e-12)

    def test_dba_loop_converges(self, rng):
        base = np.sin(np.linspace(0, 3, 20))
        series = [base + rng.normal(scale=0.05, size=20) for _ in range(6)]
        c = k.dba_loop(series, max_it=5)
        # center should be closer on average than a random member
        d_center = np.mean([k.dtw_distance(c, s) for s in series])
        d_member = np.mean([k.dtw_distance(series[0], s) for s in series])
        assert d_center <= d_member + 1e-9
