"""DSW warping-path explanation: bit-exact parity with the reference's
explain.dsw.explainpair.ExplainPair (default configuration), the
approximation guarantee, and the distributed operator."""

import numpy as np
import pytest

from dtaidistance_spark.kernels.dtw import DtwSettings
from dtaidistance_spark.kernels.explain import ExplainedPair


def _ref_explain():
    """The reference's explainpair module; skips where it is absent."""
    return pytest.importorskip("dtaidistance.explain.dsw.explainpair",
                               reason="pure-Python reference not on "
                               "PYTHONPATH")


def _ref_segs(ep):
    return [tuple(s) + (s.s_idx_y, s.e_idx_y) for s in ep.segments]


def _got_segs(ep):
    return [(s["s_idx_p"], s["e_idx_p"], s["s_idx"], s["e_idx"], s["angle"],
             s["shift"], s["elasticity"], s["s_idx_y"], s["e_idx_y"])
            for s in ep.segments]


# d' <= bound(d, delta_rel, delta_abs) per bounded approximation type:
# the reference's full-path bounds (compute_bounds_global,
# explainpair.py:683) as distances.
# max_dist's budget delta_abs holds only where the exact path is within
# it; above it no segment merges and d' is d.
BOUNDS = {
    "max_factor_and_diff": lambda d, dr, da: (1 + dr) * d + da,
    "max_factor": lambda d, dr, da: (1 + dr) * d,
    "max_diff": lambda d, dr, da: d + da,
    "max_factor_loose": lambda d, dr, da: ((1 + da) * dr + 1) * d,
    "max_dist": lambda d, dr, da: max(d, da),
}


class TestExplainParity:
    def test_bit_exact_vs_reference(self):
        ref_explain = _ref_explain()
        rng = np.random.default_rng(7)
        for trial in range(15):
            n = int(rng.integers(8, 120))
            m = int(rng.integers(8, 120))
            a = np.cumsum(rng.normal(0, 1, n))
            b = np.cumsum(rng.normal(0, 1, m))
            for dr, da in ((1, 0.1), (2, 0.0), (0.5, 0.5)):
                ref = ref_explain.ExplainPair(a, b, delta_rel=dr,
                                              delta_abs=da)
                got = ExplainedPair(a, b, delta_rel=dr, delta_abs=da)
                assert _ref_segs(ref) == _got_segs(got), (trial, dr, da)
                assert ref.distance(per_segment=True) == \
                    got.distance(per_segment=True)
                assert ref.distance_approx(per_segment=True) == \
                    got.distance_approx(per_segment=True)

    def test_parity_without_prune_and_with_onlychanges(self):
        ref_explain = _ref_explain()
        rng = np.random.default_rng(11)
        a = np.cumsum(rng.normal(0, 1, 80))
        b = np.cumsum(rng.normal(0, 1, 90))
        ref = ref_explain.ExplainPair(a, b, approx_prune=False)
        got = ExplainedPair(a, b, approx_prune=False)
        assert _ref_segs(ref) == _got_segs(got)
        ref2 = ref_explain.ExplainPair(a, b, onlychanges=3)
        got2 = ExplainedPair(a, b, onlychanges=3)
        assert _ref_segs(ref2) == _got_segs(got2)

    def test_parity_approx_types(self):
        ref_explain = _ref_explain()
        # non-default approximation types (VERDICT r4 item 6): only the
        # tolerance factors differ — bit-exact segments + distances for
        # each supported type
        rng = np.random.default_rng(17)
        for trial in range(8):
            n = int(rng.integers(8, 110))
            m = int(rng.integers(8, 110))
            a = np.cumsum(rng.normal(0, 1, n))
            b = np.cumsum(rng.normal(0, 1, m))
            for at, dr, da in (("max_factor", 1.0, 0.1),
                               ("max_factor", 0.25, 0.0),
                               ("max_diff", 1.0, 0.5),
                               ("max_diff", 1.0, 0.05),
                               ("max_factor_loose", 0.5, 0.1),
                               ("max_dist", 1.0, 5.0)):
                ref = ref_explain.ExplainPair(
                    a, b, approx_type=ref_explain.ApproxType(at),
                    delta_rel=dr, delta_abs=da)
                got = ExplainedPair(a, b, approx_type=at,
                                    delta_rel=dr, delta_abs=da)
                assert _ref_segs(ref) == _got_segs(got), (trial, at, dr, da)
                assert ref.distance_approx(per_segment=True) == \
                    got.distance_approx(per_segment=True)

    def test_parity_split_strategies(self):
        ref_explain = _ref_explain()
        # non-default split-point selection (pathdiff / deriv /
        # derivdist) — bit-exact segments + distances vs the reference
        rng = np.random.default_rng(29)
        for trial in range(8):
            n = int(rng.integers(8, 110))
            m = int(rng.integers(8, 110))
            a = np.cumsum(rng.normal(0, 1, n))
            b = np.cumsum(rng.normal(0, 1, m))
            for strat in ("pathdiff", "deriv", "derivdist"):
                for dr, da in ((1.0, 0.1), (0.25, 0.02)):
                    ref = ref_explain.ExplainPair(
                        a, b,
                        split_strategy=ref_explain.SplitStrategy(strat),
                        delta_rel=dr, delta_abs=da)
                    got = ExplainedPair(a, b, split_strategy=strat,
                                        delta_rel=dr, delta_abs=da)
                    assert _ref_segs(ref) == _got_segs(got), \
                        (trial, strat, dr, da)
                    assert ref.distance_approx(per_segment=True) == \
                        got.distance_approx(per_segment=True)

    def test_parity_max_index(self):
        ref_explain = _ref_explain()
        # the epsilon-spatial RDP type (rdp_vectorized + the
        # vertical-segment tilt pass) — bit-exact vs the reference
        rng = np.random.default_rng(31)
        for trial in range(10):
            n = int(rng.integers(10, 120))
            m = int(rng.integers(10, 120))
            a = np.cumsum(rng.normal(0, 1, n))
            b = np.cumsum(rng.normal(0, 1, m))
            for eps in (0.5, 2.0, 8.0):
                ref = ref_explain.ExplainPair(
                    a, b, approx_type=ref_explain.ApproxType("max_index"),
                    delta_abs=eps)
                got = ExplainedPair(a, b, approx_type="max_index",
                                    delta_abs=eps)
                assert _ref_segs(ref) == _got_segs(got), (trial, eps)
                assert ref.distance_approx(per_segment=True) == \
                    got.distance_approx(per_segment=True)

    def test_unsupported_approx_type_raises(self):
        with pytest.raises(NotImplementedError):
            ExplainedPair([1.0, 2.0], [1.0, 2.0], approx_type="mean_index")
        with pytest.raises(NotImplementedError):
            ExplainedPair([1.0, 2.0], [1.0, 2.0], split_strategy="nope")

    @pytest.mark.parametrize("approx_type,split_strategy", [
        (a, s) for a in BOUNDS
        for s in ExplainedPair.SUPPORTED_SPLIT_STRATEGIES])
    def test_approximation_guarantee(self, approx_type, split_strategy):
        # the DSW bound of each approximation type under the local
        # criterion, on seeded random walks
        bound = BOUNDS[approx_type]
        rng = np.random.default_rng(3)
        for _ in range(5):
            a = np.cumsum(rng.normal(0, 1, 60))
            b = np.cumsum(rng.normal(0, 1, 70))
            for dr, da in ((1, 0.1), (0.25, 0.05), (0.5, 2.0)):
                ep = ExplainedPair(a, b, delta_rel=dr, delta_abs=da,
                                   approx_type=approx_type,
                                   split_strategy=split_strategy)
                d = ep.distance()
                assert ep.distance_approx() <= \
                    bound(d, dr, da) * (1 + 1e-12) + 1e-12, (d, dr, da)

    def test_segments_tile_the_path(self):
        rng = np.random.default_rng(5)
        a = np.cumsum(rng.normal(0, 1, 60))
        b = np.cumsum(rng.normal(0, 1, 70))
        ep = ExplainedPair(a, b)
        segs = ep.segments
        assert segs[0]["s_idx_p"] == 0
        assert segs[-1]["e_idx_p"] == len(ep.path) - 1
        for s0, s1 in zip(segs, segs[1:]):
            assert s0["e_idx_p"] == s1["s_idx_p"]


class TestExplainOperator:
    def test_distributed_matches_kernel(self, spark):
        from dtaidistance_spark.operators.explain import explain_pairs

        rng = np.random.default_rng(9)
        series = [(i, np.cumsum(rng.normal(0, 1, 50)).tolist())
                  for i in range(5)]
        df = spark.createDataFrame(series, "i long, values array<double>")
        got = explain_pairs(df).orderBy("i", "j", "seg").toPandas()
        rows = []
        for i in range(5):
            for j in range(i + 1, 5):
                ep = ExplainedPair(np.asarray(series[i][1]),
                                   np.asarray(series[j][1]))
                rows.extend((i, j) + r for r in ep.segment_rows())
        assert len(got) == len(rows)
        for grow, row in zip(got.itertuples(index=False), rows):
            assert tuple(grow) == row

    def test_no_shuffle_plan(self, spark):
        from dtaidistance_spark.operators.explain import explain_pairs

        df = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, [2.0, 1.0])], "i long, values array<double>")
        plan = explain_pairs(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan or "Broadcast" in plan


class TestExplainVariations:
    def test_variations_bounds_path_parity(self):
        ref_explain = _ref_explain()
        rng = np.random.default_rng(21)
        for t in range(6):
            a = np.cumsum(rng.normal(0, 1, 70))
            b = np.cumsum(rng.normal(0, 1, 85))
            ref = ref_explain.ExplainPair(a, b)
            got = ExplainedPair(a, b)
            assert ref.segments_to_path() == got.segments_to_path()
            for on_seg in (False, True):
                assert np.array_equal(
                    ref.get_variations(on_segments=on_seg),
                    got.variations(on_segments=on_seg))
                assert np.array_equal(
                    ref.get_bounds(on_segments=on_seg),
                    got.bounds(on_segments=on_seg))
