"""Gorilla-style chunk codec: XOR float compression + delta-of-delta
timestamps (Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory Time
Series Database", VLDB 2015 — public paper; this is an independent
implementation).

Pure numpy + Python ints, no Spark imports: the engine invokes
``encode_chunk`` / ``decode_chunk`` inside ``mapInPandas`` with one
chunk per series slice.  Round-trips are exact to the float64 bit
pattern (tested), which is what the north rule's bit-for-bit tier
parity needs.

One format, Gorilla's classic bit-serial layout.  The engine's chunks
are one series × UTC day of the 1h tier, so at most 24 points; at that
size a per-value loop costs less than any vectorized pass (24 points:
~0.1 ms to encode, where a numpy bit-plane codec paid ~1.7 ms of fixed
per-call cost).  Layout, one MSB-first bit stream, zero-padded to a
whole byte at the end:

  u8  version (= 1; any other byte is rejected on decode)
  u32 n
  ts:  i64 ts[0]; n>1: u64 zigzag(ts[1] - ts[0]);
       then per dod (n-2 of them): '0' for dod == 0, else a bucket code
       and the zigzag dod in that many bits: '10' 7, '110' 9, '1110' 12,
       '1111' 64
  val: u64 bits[0]; then per XOR with the previous value: '0' for an
       unchanged value, '10' + the meaningful bits inside the previous
       window when they fit it, else '11' + 5-bit leading-zero count
       (capped at 31) + 6-bit length (64 stored as 0) + the meaningful
       bits, which opens a new window
"""

from __future__ import annotations

import numpy as np

__all__ = ["encode_chunk", "decode_chunk"]

_VERSION = 1
# (payload width, code, code length) per nonzero delta-of-delta bucket
_DOD_BUCKETS = ((7, 0b10, 2), (9, 0b110, 3), (12, 0b1110, 4), (64, 0b1111, 4))


class _BitWriter:
    """MSB-first bit appender; flushes whole bytes incrementally so a
    chunk encode is O(n), not O(n²) big-int shifting."""

    __slots__ = ("out", "acc", "nacc")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, value: int, width: int):
        self.acc = (self.acc << width) | (value & ((1 << width) - 1))
        self.nacc += width
        while self.nacc >= 8:
            self.nacc -= 8
            self.out.append((self.acc >> self.nacc) & 0xFF)
        self.acc &= (1 << self.nacc) - 1

    def to_bytes(self) -> bytes:
        if self.nacc:
            return bytes(self.out) + bytes([(self.acc << (8 - self.nacc)) & 0xFF])
        return bytes(self.out)


class _BitReader:
    """MSB-first bit cursor over bytes; O(n) total like the writer.  The
    trailing zero padding is never read: every count is explicit."""

    __slots__ = ("data", "idx", "acc", "nacc")

    def __init__(self, data: bytes):
        self.data = data
        self.idx = 0
        self.acc = 0
        self.nacc = 0

    def read(self, width: int) -> int:
        while self.nacc < width:
            self.acc = (self.acc << 8) | self.data[self.idx]
            self.idx += 1
            self.nacc += 8
        self.nacc -= width
        v = (self.acc >> self.nacc) & ((1 << width) - 1)
        self.acc &= (1 << self.nacc) - 1
        return v


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


def encode_chunk(ts_s: np.ndarray, values: np.ndarray) -> bytes:
    """Encode int64 second-timestamps + float64 values into one payload."""
    ts_s = np.asarray(ts_s, dtype=np.int64)
    values = np.asarray(values, dtype=np.float64)
    n = len(ts_s)
    assert len(values) == n
    w = _BitWriter()
    w.write(_VERSION, 8)
    w.write(n, 32)
    if n == 0:
        return w.to_bytes()
    # --- timestamps ---
    w.write(int(ts_s[0]) & ((1 << 64) - 1), 64)
    if n > 1:
        w.write(_zigzag(int(ts_s[1]) - int(ts_s[0])), 64)
    for dod in np.diff(ts_s, 2):
        dod = int(dod)
        if dod == 0:
            w.write(0, 1)
            continue
        z = _zigzag(dod)
        for width, code, codelen in _DOD_BUCKETS:
            if z < (1 << width):
                w.write(code, codelen)
                w.write(z, width)
                break
    # --- values ---
    bits = values.view(np.uint64)
    w.write(int(bits[0]), 64)
    prev = int(bits[0])
    prev_lead, prev_len = 65, 0  # invalid window forces '11' first time
    for i in range(1, n):
        cur = int(bits[i])
        x = prev ^ cur
        prev = cur
        if x == 0:
            w.write(0, 1)
            continue
        lead = 64 - x.bit_length()
        trail = (x & -x).bit_length() - 1
        if lead > 31:
            lead = 31
        if prev_lead <= 64 and lead >= prev_lead and trail >= 64 - prev_lead - prev_len:
            w.write(0b10, 2)
            w.write(x >> (64 - prev_lead - prev_len), prev_len)
        else:
            length = 64 - lead - trail
            w.write(0b11, 2)
            w.write(lead, 5)
            w.write(length & 63, 6)  # 64 encodes as 0
            w.write(x >> trail, length)
            prev_lead, prev_len = lead, length
    return w.to_bytes()


def decode_chunk(payload: bytes):
    """Inverse of :func:`encode_chunk` → (ts_s int64, values float64).

    Payloads come from storage, so a leading byte other than the one
    format version is refused rather than misread."""
    r = _BitReader(payload)
    ver = r.read(8)
    if ver != _VERSION:
        raise ValueError(f"unknown chunk format version {ver}")
    n = r.read(32)
    ts = np.empty(n, dtype=np.int64)
    vals = np.empty(n, dtype=np.float64)
    if n == 0:
        return ts, vals
    t0 = r.read(64)
    if t0 >= 1 << 63:
        t0 -= 1 << 64
    ts[0] = t0
    if n > 1:
        d0 = _unzigzag(r.read(64))
        ts[1] = ts[0] + d0
        delta = d0
        for i in range(2, n):
            if r.read(1) == 0:
                dod = 0
            else:
                if r.read(1) == 0:
                    z = r.read(7)
                elif r.read(1) == 0:
                    z = r.read(9)
                elif r.read(1) == 0:
                    z = r.read(12)
                else:
                    z = r.read(64)
                dod = _unzigzag(z)
            delta += dod
            ts[i] = ts[i - 1] + delta
    bits = np.empty(n, dtype=np.uint64)
    prev = r.read(64)
    bits[0] = prev
    lead, length = 0, 0
    for i in range(1, n):
        if r.read(1) == 0:
            bits[i] = prev
            continue
        if r.read(1) == 1:  # '11' new window
            lead = r.read(5)
            length = r.read(6) or 64
        # '10' reuses the current window
        prev ^= r.read(length) << (64 - lead - length)
        bits[i] = prev
    vals[:] = bits.view(np.float64)
    return ts, vals
