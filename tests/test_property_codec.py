"""Property-based fuzzing (hypothesis) for the Gorilla/delta-of-delta
codec and the visual-downsample invariants.

The codec's contract is bit-pattern round-trip for EVERY float64 —
including NaNs with arbitrary payload bits, ±inf, denormals and
negative zero — and exact int64 timestamps under adversarial
delta-of-delta patterns (FIXTURES.md §8).  The directed tests in
test_codec.py pin the realistic shapes; these drive the corners the
generator never emits.
"""

import numpy as np
import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from dtaidistance_spark.kernels.codec import decode_chunk, encode_chunk

# arbitrary bit patterns reinterpreted as float64: covers NaN payloads,
# infinities, denormals, -0.0 — every representable double
_any_double = st.binary(min_size=8, max_size=8).map(
    lambda b: np.frombuffer(b, dtype=np.float64)[0])

# timestamps: sorted int64 seconds with deltas spanning regular (60 s),
# zero (duplicate-resistant) and huge/negative-dod jumps
_ts_deltas = st.lists(
    st.integers(min_value=0, max_value=2**40), min_size=0, max_size=64)


def _roundtrip_bits(ts, vals):
    payload = encode_chunk(np.asarray(ts, dtype=np.int64),
                           np.asarray(vals, dtype=np.float64))
    ts2, vals2 = decode_chunk(payload)
    np.testing.assert_array_equal(np.asarray(ts, dtype=np.int64), ts2)
    np.testing.assert_array_equal(
        np.asarray(vals, dtype=np.float64).view(np.uint64),
        vals2.view(np.uint64))


class TestCodecProperties:
    @settings(max_examples=200, deadline=None)
    @given(deltas=_ts_deltas, data=st.data())
    def test_roundtrip_any_bits(self, deltas, data):
        ts = np.cumsum([1_600_000_000] + deltas).astype(np.int64)
        vals = [data.draw(_any_double) for _ in range(len(ts))]
        _roundtrip_bits(ts, vals)

    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.floats(allow_nan=False, width=64),
                    min_size=1, max_size=128))
    def test_roundtrip_finite_floats(self, vals):
        ts = (1_600_000_000 + 60 * np.arange(len(vals))).astype(np.int64)
        _roundtrip_bits(ts, vals)

    @settings(max_examples=20, deadline=None)
    @given(st.integers(min_value=250, max_value=1440), st.data())
    def test_roundtrip_long_chunks(self, n, data):
        """Chunks up to a 1m-tier day (1,440 points), far past the 24
        points of the 1h-tier day chunks the engine writes — the
        bit-serial codec must round-trip arbitrary bit patterns at any
        length."""
        ts = (1_600_000_000 + 60 * np.arange(n)).astype(np.int64)
        # a few adversarial doubles scattered into an otherwise smooth
        # series (full _any_double lists at n>250 would be slow to draw)
        vals = np.sin(np.arange(n) / 7.0) * 100
        for _ in range(8):
            i = data.draw(st.integers(min_value=0, max_value=n - 1))
            vals = vals.copy()
            vals[i] = data.draw(_any_double)
        _roundtrip_bits(ts, vals)

    @settings(max_examples=50, deadline=None)
    @given(st.integers(min_value=-2**62, max_value=2**62),
           st.lists(st.integers(min_value=-2**30, max_value=2**30),
                    min_size=1, max_size=32))
    def test_timestamps_negative_and_huge(self, t0, deltas):
        # monotonicity not required by the codec: deltas may be negative
        ts = np.cumsum([t0] + deltas).astype(np.int64)
        vals = np.zeros(len(ts))
        _roundtrip_bits(ts, vals)


class TestLttbProperties:
    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.floats(min_value=-1e6, max_value=1e6,
                              allow_nan=False), min_size=3, max_size=300),
           st.integers(min_value=3, max_value=50))
    def test_invariants(self, vals, n_out):
        from dtaidistance_spark.kernels.downsample import lttb

        n = len(vals)
        t = np.arange(n, dtype=float)
        idx = lttb(t, np.asarray(vals), n_out)
        assert idx[0] == 0 and idx[-1] == n - 1
        assert len(idx) == min(n, n_out) or (n <= 2 and len(idx) == n)
        assert np.all(np.diff(idx) > 0)  # strictly increasing → sorted


class TestSaxProperties:
    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=10**6),
                    min_size=8, max_size=200),
           st.sampled_from([2, 3, 4, 5, 6, 7, 8]))
    def test_symbols_within_alphabet(self, vals, alphabet):
        """Pure-python replay of the paa_sax expression tree (the Spark
        twin is pinned by tests/test_m4_sax.py): every z is finite,
        every symbol within the alphabet, word length == w."""
        from dtaidistance_spark.functions.sax import BREAKPOINTS

        w = 8
        m = len(vals) // w
        segs = [float(sum(vals[k * m:(k + 1) * m])) for k in range(w)]
        S, SS = sum(segs), sum(x * x for x in segs)
        var = w * SS - S * S
        zs = [(s - S / w) / np.sqrt(var / (w * w)) if var > 0 else 0.0
              for s in segs]
        bps = BREAKPOINTS[alphabet]
        for z in zs:
            assert np.isfinite(z)
            sym_i = sum(1 for b in bps if z >= b)
            assert 0 <= sym_i <= len(bps)
        if var > 0:
            # z-scores of w points have zero mean by construction
            assert abs(sum(zs)) < 1e-9 * max(1.0, max(abs(z) for z in zs))
