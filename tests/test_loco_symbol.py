"""LoCo (LocalConcurrences) and symbolization kernels."""

import sys

import numpy as np
import pytest

sys.path.insert(0, "/root/reference/src")

from dtaidistance_spark.kernels.loco import LocalConcurrences, loco_warping_paths
from dtaidistance_spark.kernels.symbolization import (hangover, symbolize,
                                                      symbolize_min)


def _motif_series(rng, n=120):
    """Series with a repeated sine motif embedded in noise."""
    s = rng.normal(scale=0.1, size=n)
    motif = np.sin(np.linspace(0, 2 * np.pi, 20))
    for start in (10, 50, 90):
        s[start:start + 20] += motif
    return s


class TestLocoMatrix:
    def test_wp_matches_reference(self, rng):
        ref_wp = pytest.importorskip(
            "dtaidistance.subsequence.localconcurrences").loco_warping_paths

        s = _motif_series(rng)
        for kwargs in (
            dict(gamma=1, tau=0.5, delta=-1.0, delta_factor=0.9,
                 penalty=0.05, only_triu=True),
            dict(gamma=0.5, tau=0.2, delta=-0.4, delta_factor=0.5,
                 penalty=0.0, only_triu=False),
        ):
            _, expected = ref_wp(s, s, **kwargs)
            got = loco_warping_paths(s, s, **kwargs)
            np.testing.assert_allclose(got, expected, rtol=1e-12)

    def test_wp_window(self, rng):
        ref_wp = pytest.importorskip(
            "dtaidistance.subsequence.localconcurrences").loco_warping_paths

        s1 = rng.normal(size=40)
        s2 = rng.normal(size=55)
        _, expected = ref_wp(s1, s2, gamma=1, tau=0.3, delta=-0.6,
                             delta_factor=0.9, penalty=0.1, window=10)
        got = loco_warping_paths(s1, s2, gamma=1, tau=0.3, delta=-0.6,
                                 delta_factor=0.9, penalty=0.1, window=10)
        np.testing.assert_allclose(got, expected, rtol=1e-12)


class TestLocoMatches:
    def test_finds_repeated_motifs(self, rng):
        s = _motif_series(rng)
        lc = LocalConcurrences(s)
        lc.estimate_settings_from_ssm(rho=0.7)
        matches = list(lc.kbest_matches(k=3, minlen=5, buffer=3))
        assert len(matches) >= 1
        for m in matches:
            assert len(m["path"]) >= 5
            assert m["value"] > 0
            # self-comparison with only_triu: paths stay above diagonal
            assert all(x <= y for x, y in m["path"])

    def test_paths_disjoint(self, rng):
        s = _motif_series(rng)
        lc = LocalConcurrences(s)
        lc.estimate_settings_from_ssm(rho=0.7)
        matches = list(lc.kbest_matches(k=4, minlen=5))
        seen = set()
        for m in matches:
            cells = set(m["path"])
            assert not (cells & seen)
            seen |= cells

    def test_estimators(self, rng):
        s = _motif_series(rng)
        lc = LocalConcurrences(s)
        lc.estimate_settings(tau_type="std", tau_factor=0.33)
        assert 0 < lc.tau < 1 and lc.delta == -2 * lc.tau
        lc2 = LocalConcurrences(s)
        lc2.estimate_settings_from_ssm(rho=0.8)
        assert 0 < lc2.tau <= 1


class TestSymbolization:
    def _setup(self, rng):
        m1 = np.sin(np.linspace(0, 2 * np.pi, 16))
        m2 = np.concatenate([np.linspace(0, 2, 8), np.linspace(2, 0, 8)])
        s = rng.normal(scale=0.05, size=100)
        s[10:26] += m1
        s[40:56] += m2
        s[70:86] += m1
        return s, [m1, m2]

    def test_symbolize_pursuit(self, rng):
        s, codebook = self._setup(rng)
        sym = symbolize(s, codebook)
        assert sym.shape == (100,)
        # motif 0 regions should be dominated by symbol 0
        assert np.bincount(sym[12:24], minlength=3)[0] > 6
        assert np.bincount(sym[72:84], minlength=3)[0] > 6
        # noise tail mostly no-word
        assert (sym[90:] == 2).mean() > 0.5

    def test_symbolize_batch_bit_identical(self, rng):
        """The batched path (one lattice sweep per motif for the whole
        stack) must equal per-series symbolize exactly — same core, same
        arithmetic, only the per-call fixed costs amortized."""
        from dtaidistance_spark.kernels.symbolization import symbolize_batch

        m1 = np.sin(np.linspace(0, 2 * np.pi, 16))
        m2 = np.concatenate([np.linspace(0, 2, 8), np.linspace(2, 0, 8)])
        cb = [m1, m2]
        stack = []
        for k in range(6):
            s = rng.normal(scale=0.05, size=100)
            s[10 + k:26 + k] += m1
            s[60:76] += m2 if k % 2 else m1
            stack.append(s)
        stack = np.stack(stack)
        batched = symbolize_batch(stack, cb)
        for b in range(len(stack)):
            assert (batched[b] == symbolize(stack[b], cb)).all()

    def test_kbest_batch_bit_identical(self, rng):
        from dtaidistance_spark.kernels.subsequence import (
            kbest_matches, kbest_matches_batch)

        q = np.sin(np.linspace(0, 2 * np.pi, 12))
        stack = np.stack([rng.normal(scale=0.3, size=80) for _ in range(5)])
        stack[:, 30:42] += q
        batched = kbest_matches_batch(q, stack, k=None, minlength=6,
                                      maxlength=24, max_rangefactor=2.0)
        for b in range(len(stack)):
            solo = kbest_matches(q, stack[b], k=None, minlength=6,
                                 maxlength=24, max_rangefactor=2.0)
            assert [(m.idx, m.value, m.start, m.end, m.path)
                    for m in batched[b]] == \
                   [(m.idx, m.value, m.start, m.end, m.path) for m in solo]

    def test_symbolize_min(self, rng):
        s, codebook = self._setup(rng)
        sym = symbolize_min(s, codebook)
        assert sym.shape == (100,)
        assert (sym <= 2).all()

    def test_hangover(self):
        symbols = np.array([0] * 10 + [1] * 2 + [0] * 10 + [2] * 8 + [1] * 10)
        seq, idx = hangover(symbols, threshold=4)
        # reference semantics: short [1]*2 run filtered, repeat of the
        # last-saved symbol suppressed, trailing run not flushed;
        # runs are reported as symbol+1
        assert seq == [1, 3]
        assert idx[0] == (0, 10)

    def test_hangover_vs_reference(self, rng):
        SymbolAlignment = pytest.importorskip(
            "dtaidistance.symbolization.alignment").SymbolAlignment

        sa = SymbolAlignment(codebook=[np.zeros(4)])
        symbols = rng.integers(0, 3, size=(3, 60))
        ref_seq, ref_idx = sa.hangover(symbols, threshold=3)
        for row in range(3):
            seq, idx = hangover(symbols[row], threshold=3)
            assert seq == ref_seq[row]
            assert idx == ref_idx[row]
