"""Gorilla XOR + delta-of-delta codec: exact round-trip tests
(FIXTURES.md §8: decode(encode(values)) must equal values to the float64
bit pattern)."""

import hashlib

import numpy as np
import pytest

from dtaidistance_spark.kernels.codec import decode_chunk, encode_chunk


def _roundtrip(ts, vals):
    payload = encode_chunk(np.asarray(ts, dtype=np.int64),
                           np.asarray(vals, dtype=np.float64))
    ts2, vals2 = decode_chunk(payload)
    np.testing.assert_array_equal(ts2, np.asarray(ts, dtype=np.int64))
    a = np.asarray(vals, dtype=np.float64).view(np.uint64)
    b = vals2.view(np.uint64)
    np.testing.assert_array_equal(a, b)  # bit-pattern equality (handles NaN)
    return payload


def test_empty():
    payload = encode_chunk(np.array([], dtype=np.int64), np.array([]))
    ts, vals = decode_chunk(payload)
    assert len(ts) == 0 and len(vals) == 0


def test_single():
    _roundtrip([1704067200], [3.14159])


def test_regular_intervals_compress_well():
    n = 1000
    ts = 1704067200 + 60 * np.arange(n)
    vals = np.full(n, 42.5)
    payload = _roundtrip(ts, vals)
    # constant values + constant deltas → ~1 bit per point after headers
    assert len(payload) < 64 + n // 4


def test_irregular_and_negative_dod():
    rng = np.random.default_rng(7)
    n = 500
    deltas = rng.integers(1, 3600, size=n - 1)
    ts = 1704067200 + np.concatenate([[0], np.cumsum(deltas)])
    vals = rng.normal(size=n) * 1e6
    _roundtrip(ts, vals)


def test_special_floats():
    ts = np.arange(8, dtype=np.int64)
    vals = np.array([0.0, -0.0, np.inf, -np.inf, np.nan, 1e-308, 1.7e308, 1.0])
    _roundtrip(ts, vals)


def test_counter_like_values():
    # monotone counters: classic Gorilla sweet spot
    n = 2000
    ts = np.arange(n, dtype=np.int64) * 60
    vals = np.cumsum(np.ones(n))
    payload = _roundtrip(ts, vals)
    assert len(payload) < n * 8  # beats raw float64


def test_gapfilled_rollup_series():
    rng = np.random.default_rng(11)
    n = 1440  # a day of 1m buckets
    ts = 1704067200 + 60 * np.arange(n)
    vals = np.where(rng.random(n) < 0.3, 0.0, rng.poisson(5, n).astype(float))
    payload = _roundtrip(ts, vals)
    assert len(payload) < n * 8


@pytest.mark.parametrize("first_byte", [0x02, 0x00, 0xFF])
def test_unknown_version_byte_rejected(first_byte):
    # 0x02 was the columnar format's version byte; payloads come from
    # storage, so any byte but the one known version must fail loudly
    payload = bytearray(encode_chunk(np.arange(4, dtype=np.int64),
                                     np.arange(4, dtype=np.float64)))
    assert payload[0] == 0x01
    payload[0] = first_byte
    with pytest.raises(ValueError, match="unknown chunk format version"):
        decode_chunk(bytes(payload))


_SPECIALS = np.array([np.nan, np.inf, -np.inf, -0.0])


def _golden_chunks():
    """Seeded 1h-tier day chunks (1-24 points at whole hours, with
    NaN/±inf/-0.0 mixed in) and 255-point chunks of irregular seconds."""
    rng = np.random.default_rng(20240101)
    day = 1704067200
    for n in range(1, 25):
        for _ in range(3):
            hours = np.sort(rng.choice(24, size=n, replace=False))
            ts = day + 3600 * hours
            vals = np.round(rng.gamma(2.0, 10.0, size=n), 2)
            k = rng.integers(0, n + 1)
            vals[rng.choice(n, size=k, replace=False)] = \
                rng.choice(_SPECIALS, size=k)
            yield ts.astype(np.int64), vals
            day += 86400
    for _ in range(4):
        n = 255
        ts = day + np.cumsum(rng.integers(0, 180, size=n))
        vals = np.sin(np.arange(n) / 5.0) * rng.normal(size=n) * 1e3
        vals[rng.choice(n, size=12, replace=False)] = \
            rng.choice(_SPECIALS, size=12)
        yield ts.astype(np.int64), vals


def test_wire_format_golden_digest():
    """Pins the stored payload bytes: chunks already written must stay
    decodable and re-encode identically."""
    h = hashlib.sha256()
    total = 0
    for ts, vals in _golden_chunks():
        payload = encode_chunk(ts, vals)
        h.update(len(payload).to_bytes(4, "big"))
        h.update(payload)
        total += len(payload)
        ts2, vals2 = decode_chunk(payload)
        np.testing.assert_array_equal(ts2, ts)
        np.testing.assert_array_equal(vals2.view(np.uint64),
                                      vals.view(np.uint64))
    assert total == 19568
    assert h.hexdigest() == ("1e5fceeda9f02f63b850320f7ab94e0d"
                             "a7cdcf81c8302aaa914c1bb74bf7b91c")
