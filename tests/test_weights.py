"""Weighted-DTW weight learning: parity with the reference's
dtw_weighted learning half (compute_weights_using_dt, DT classifier)
and the distributed operator."""

import math

import numpy as np
import pytest

from dtaidistance_spark.kernels import weights as W


def _ref_w():
    """The reference's dtw_weighted module; skips where it is absent."""
    ref_w = pytest.importorskip("dtaidistance.dtw_weighted",
                                reason="reference not on PYTHONPATH")
    # the reference uses the numpy<1.24 `np.int` alias (dtw_weighted.py:201)
    np.int = int
    return ref_w


S7 = np.array([
    [0., 0, 1, 2, 1, 0, 1.3, 0, 0],
    [0., 0, 1, 2, 1, 0, 1,   0, 0],
    [0., 1, 2, 0, 0, 0, 0,   0, 0],
    [0., 1, 2, 0, 0, 0, 0,   0, 0],
    [1., 2, 0, 0, 0, 0, 0,   1, 1],
    [1., 2, 0, 0, 0, 0, 0,   1, 1],
    [1., 2, 0, 0, 1, 0, 0,   1, 1]])
L7 = np.array([1, 1, 1, 1, 0, 0, 0])


class TestDecisionTree:
    def test_reference_unit_fixtures(self):
        # the reference's own test_dtw_weighted_dt.py values
        v = np.array([1, 2, 2, 3, 4, 4, 5, 6, 7, 7, 8, 9])
        t = np.array([1, 1, 0, 1, 0, 1, 0, 0, 0, 0, 1, 0])
        ig, thr, _ = W.DecisionTreeClassifier.informationgain_continuous(t, v)
        assert thr == pytest.approx(4.5)
        assert W.DecisionTreeClassifier.kdistance(v, 4.5) == pytest.approx(1.5)
        z = np.array([0., 0., 0.])
        ig0, thr0, _ = W.DecisionTreeClassifier.informationgain_continuous(
            np.array([0, 1, 0]), z)
        assert ig0 == pytest.approx(0.0) and thr0 is None
        assert W.DecisionTreeClassifier.kdistance(z, 0.0) == pytest.approx(0.0)

    def test_tree_structure_matches_reference(self):
        ref_w = _ref_w()
        rng = np.random.default_rng(2)
        feats = rng.random((40, 6))
        targ = (rng.random(40) > 0.5).astype(int)
        for once in (True, False):
            cr = ref_w.DecisionTreeClassifier()
            cr.fit(feats, targ, use_feature_once=once)
            cg = W.DecisionTreeClassifier()
            cg.fit(feats, targ, use_feature_once=once)
            assert cr.tree_.feature == cg.tree_.feature
            assert cr.tree_.threshold == cg.tree_.threshold
            assert cr.tree_.children_left == cg.tree_.children_left
            assert cr.tree_.children_right == cg.tree_.children_right
            assert cr.tree_.impurity == cg.tree_.impurity
            assert cr.tree_.kd == cg.tree_.kd
            assert [list(x[0]) for x in cr.tree_.value] == \
                [list(x[0]) for x in cg.tree_.value]


class TestWeightLearning:
    def test_end_to_end_equal_reference(self):
        ref_w = _ref_w()
        wr, ir = ref_w.compute_weights_using_dt(S7, L7, 0, max_clfs=50)
        wg, ig = W.compute_weights_using_dt(S7, L7, 0, max_clfs=50)
        assert np.array_equal(wr, wg)
        assert dict(ir) == dict(ig)

    def test_patternlen_and_only_max_equal_reference(self):
        ref_w = _ref_w()
        wr, ir = ref_w.compute_weights_using_dt(S7, L7, 0, patternlen=4)
        wg, ig = W.compute_weights_using_dt(S7, L7, 0, patternlen=4)
        assert np.array_equal(wr, wg)
        assert set(ir) == set(ig) and all(
            (math.isnan(a) and math.isnan(b)) or a == b
            for k in ir for a, b in zip(ir[k], ig[k]))
        mlr, clr, _, _ = ref_w.series_to_dt(S7, L7, 0)
        mlg, clg, _, _ = W.series_to_dt(S7, L7, 0)
        assert np.array_equal(
            ref_w.compute_weights_from_mlclvalues(S7[0], mlr, clr,
                                                  only_max=True),
            W.compute_weights_from_mlclvalues(S7[0], mlg, clg,
                                              only_max=True))

    def test_randomized_end_to_end(self):
        ref_w = _ref_w()
        rng = np.random.default_rng(5)
        for trial in range(4):
            L = 24
            base = np.cumsum(rng.normal(0, 1, L))
            ss = np.array([base + rng.normal(0, 0.2, L) if i % 2 == 0
                           else np.cumsum(rng.normal(0, 1, L))
                           for i in range(10)])
            labels = np.array([1 if i % 2 == 0 else 0 for i in range(10)])
            wr, ir = ref_w.compute_weights_using_dt(ss, labels, 0,
                                                    max_clfs=20)
            wg, ig = W.compute_weights_using_dt(ss, labels, 0, max_clfs=20)
            assert np.array_equal(wr, wg), trial
            assert dict(ir) == dict(ig), trial

    def test_learned_weights_reshape_weighted_distance(self):
        # the learned rectifier must suppress must-link deviations:
        # weighted distance of a must-link pair drops vs unweighted
        from dtaidistance_spark.kernels.extras import weighted_warping_paths
        w, _ = W.compute_weights_using_dt(S7, L7, 0, max_clfs=50)
        d_plain, _ = weighted_warping_paths(S7[0], S7[1], None)
        d_weighted, _ = weighted_warping_paths(S7[0], S7[1], w)
        assert d_weighted <= d_plain


class TestDtWindowsGuard:
    def test_empty_candidates_returns_empty_ensemble(self):
        # ADVICE r4: all-one-class labels (or patternlen beyond usable
        # features) produced no splittable window tree and crashed with
        # IndexError (the reference shares the flaw); the engine now
        # returns an empty ensemble and downstream weight computation
        # degrades to the no-constraint profile
        feats = np.zeros((5, 8))
        targ = np.zeros(5, dtype=int)  # one class -> no splits anywhere
        cl_values, clfs, importances = W.dt_windows(
            feats, targ, W.DecisionTreeClassifier, patternlen=2,
            max_clfs=10, min_ig=0, min_purity=1.0)
        assert cl_values == {} and clfs == [] and dict(importances) == {}
        w = W.compute_weights_from_mlclvalues(
            np.zeros(4), {}, cl_values)
        assert w.shape == (4, 8)

    def test_non_empty_path_unchanged_vs_reference(self):
        ref_w = _ref_w()
        wr, ir = ref_w.compute_weights_using_dt(S7, L7, 0, patternlen=4)
        wg, ig = W.compute_weights_using_dt(S7, L7, 0, patternlen=4)
        assert np.array_equal(wr, wg)


class TestPathFeaturesLong:
    def test_long_format_equals_kernel(self, spark):
        from dtaidistance_spark.operators.weights import path_features_long

        rows = [(i, S7[i].tolist()) for i in range(1, len(S7))]
        df = spark.createDataFrame(rows, "i long, values array<double>")
        got = path_features_long(df, S7[0]).orderBy("member", "idx") \
            .toPandas()
        assert len(got) == (len(S7) - 1) * len(S7[0])
        k = 0
        for m in range(1, len(S7)):
            feats, _, _ = W.path_features(S7[0], S7[m], 0)
            for idx in range(len(S7[0])):
                r = got.iloc[k]
                assert (int(r["member"]), int(r["idx"])) == (m, idx)
                assert r["feat_neg"] == feats[idx * 2]
                assert r["feat_pos"] == feats[idx * 2 + 1]
                k += 1


class TestLearnWeightsOperator:
    def test_distributed_equals_kernel(self, spark):
        from dtaidistance_spark.operators.weights import (learn_weights,
                                                          weights_profile_df)

        # labels exclude the prototype row (kernel API includes it in
        # `series` but the prototype has its own zero feature row)
        rows = [(i, int(L7[i]), S7[i].tolist()) for i in range(len(S7))]
        df = spark.createDataFrame(
            rows, "i long, label int, values array<double>")
        got_w, got_imp = learn_weights(df, S7[0], max_clfs=50)
        exp_w, exp_imp = W.compute_weights_using_dt(S7, L7, 0, max_clfs=50)
        assert np.array_equal(got_w, exp_w)
        assert dict(exp_imp) == dict(got_imp)
        pdf = weights_profile_df(spark, got_w).orderBy("idx").toPandas()
        assert len(pdf) == len(S7[0])
        assert pdf["xn3"].isna().iloc[2]  # inf knot -> NULL
