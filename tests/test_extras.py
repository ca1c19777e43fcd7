"""Extras kernels vs reference: MSM, weighted DTW, DetectKnee,
postprocessing, preprocessing transforms."""

import sys

import numpy as np
import pytest

sys.path.insert(0, "/root/reference/src")

from dtaidistance_spark.kernels import preprocessing as kp
from dtaidistance_spark.kernels.dtw import warping_path
from dtaidistance_spark.kernels.extras import (DetectKnee, distance_from_path,
                                               msm_distance,
                                               points_in_path_with_min_diff,
                                               warping_path_penalty,
                                               weighted_warping_paths)


class TestMsm:
    def test_vs_reference_equal_length(self, oracle, rng):
        ref_msm = oracle("msm")

        for _ in range(6):
            x = rng.normal(size=12)
            y = rng.normal(size=12)
            assert msm_distance(x, y) == pytest.approx(
                float(ref_msm.distance(x, y)))

    def test_metric_properties(self, rng):
        x = rng.normal(size=10)
        y = rng.normal(size=14)
        assert msm_distance(x, x) == 0.0
        assert msm_distance(x, y) > 0


class TestWeighted:
    def test_vs_reference(self, rng):
        ref_w = pytest.importorskip("dtaidistance.dtw_weighted")

        for _ in range(4):
            s1 = rng.normal(size=10)
            s2 = rng.normal(size=10)
            weights = np.abs(rng.normal(size=(10, 8)))
            weights.sort(axis=1)
            de, me = ref_w.warping_paths(s1, s2, weights)
            dg, mg = weighted_warping_paths(s1, s2, weights)
            assert dg == pytest.approx(de)
            np.testing.assert_allclose(mg, me, rtol=1e-12)

    def test_unweighted(self, oracle, rng):
        ref_w = oracle("dtw_weighted")

        s1 = rng.normal(size=9)
        s2 = rng.normal(size=9)
        de, _ = ref_w.warping_paths(s1, s2, None)
        dg, _ = weighted_warping_paths(s1, s2, None)
        assert dg == pytest.approx(de)


class TestDetectKnee:
    def test_vs_reference(self, rng):
        RefDK = pytest.importorskip("dtaidistance.util").DetectKnee

        values = np.concatenate([np.linspace(0, 1, 20),
                                 np.linspace(1, 10, 10)])
        ours, ref = DetectKnee(alpha=0.3), RefDK(alpha=0.3)
        stops_o = [ours.dostop(v) for v in values]
        stops_r = [ref.dostop(v) for v in values]
        assert stops_o == stops_r
        assert any(stops_o)  # the ramp-up is detected


class TestPostprocessing:
    def test_distance_from_path(self, rng):
        ref_pp = pytest.importorskip("dtaidistance.postprocessing")

        s1 = rng.normal(size=12)
        s2 = rng.normal(size=12)
        path = warping_path(s1, s2)
        for relaxed in (True, False):
            expected = ref_pp.distance_from_path(s1, s2, path, relaxed=relaxed)
            got = distance_from_path(s1, s2, path, relaxed=relaxed)
            assert got == pytest.approx(float(expected))

    def test_points_with_min_diff(self, rng):
        ref_pp = pytest.importorskip("dtaidistance.postprocessing")

        s1 = rng.normal(size=12)
        s2 = rng.normal(size=12)
        path = warping_path(s1, s2)
        for relaxed in (True, False):
            expected = ref_pp.get_points_in_path_with_min_diff(
                s1, s2, path, 0.5, relaxed=relaxed)
            got = points_in_path_with_min_diff(s1, s2, path, 0.5,
                                               relaxed=relaxed)
            assert got == [tuple(p) for p in expected]

    def test_warping_path_penalty(self, rng):
        s1 = rng.normal(size=10)
        s2 = rng.normal(size=10)
        path0, d0 = warping_path_penalty(s1, s2, penalty_post=0.0)
        path1, d1 = warping_path_penalty(s1, s2, penalty_post=1.0)
        assert path0 == path1
        assert d1 >= d0


class TestPreprocessing:
    def test_derivative_vs_reference(self, oracle, rng):
        ref_pre = oracle("preprocessing")

        s = rng.normal(size=20)
        np.testing.assert_allclose(kp.derivative(s), ref_pre.derivative(s),
                                   rtol=1e-12)

    def test_differencing(self, rng):
        s = rng.normal(size=20)
        np.testing.assert_allclose(kp.differencing(s), np.diff(s))

    def test_logdomain_vs_reference(self, oracle, rng):
        ref_pre = oracle("preprocessing")

        s = rng.normal(size=20) * 10
        np.testing.assert_allclose(kp.logdomain(s), ref_pre.logdomain(s))

    def test_mixedlinearlog_vs_reference(self, rng):
        ref_pre = pytest.importorskip("dtaidistance.preprocessing")

        s = rng.normal(size=50) * 30
        np.testing.assert_allclose(kp.mixedlinearlogdomain(s, 10),
                                   ref_pre.mixedlinearlogdomain(s, 10))
        np.testing.assert_allclose(kp.mixedlinearlogdomain(s, (5, 15)),
                                   ref_pre.mixedlinearlogdomain(s, (5, 15)))

    def test_znormal(self, rng):
        s = rng.normal(size=30) * 4 + 7
        z = kp.znormal(s)
        assert abs(z.mean()) < 1e-12 and abs(z.std() - 1) < 1e-12

    def test_smoothing_ma(self):
        s = np.ones(10)
        np.testing.assert_allclose(kp.smoothing_ma(s, 5), s)
