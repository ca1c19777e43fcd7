"""Batched, banded DTW kernels (numpy and the C distance kernel in
``_dtw_kernel.c`` — no Spark imports).

These are the numeric hearts of the engine.  They re-express the math of
``dtaidistance`` (reference: ``src/dtaidistance/dtw.py:299-400`` for the
distance recurrence, ``:440-535`` for warping paths, settings semantics at
``:104-263``) with a completely different execution strategy: instead of a
per-cell Python loop (reference pure-Python) or a compiled C loop
(reference fast path), we sweep the dynamic program **anti-diagonally and
batched over many pairs at once**, so every step is one vectorized numpy
operation over a ``(batch, band)`` slab.

Bit-exactness: each cell computes ``cost + min(diag, up + penalty,
left + penalty)`` — exactly the per-cell arithmetic of the reference
(``dtw.py:307-311``, ``dtw.py:370-372``).  The DP has no re-associated
accumulation (a cell's value is a deterministic function of neighbor
values), so vectorizing across cells of one anti-diagonal, or across
pairs, preserves float64 bit patterns vs the reference loop.

The reference's PrunedDTW ``sc/ec`` early-abandon (``dtw.py:354-385``) is
a *performance* device, not a semantic one: any pruned run returns either
the same finite value or ``inf`` when the true distance exceeds
``max_dist`` — which the final ``d > max_dist → inf`` check reproduces.
We prune at a coarser granularity instead (LB_Keogh / ub_euclidean at the
pair level, band at the cell level), which suits a batched engine.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Optional, Sequence, Tuple, Union

import numpy as np

INF = np.inf

# Keep large numpy allocations on the reusable heap instead of fresh
# mmaps: first-touch page faults on new multi-MB mappings are
# pathologically slow under transparent-huge-page compaction in this
# environment (hundreds of ms per 23 MB).  M_MMAP_THRESHOLD=-3,
# M_TRIM_THRESHOLD=-1 per mallopt(3).
try:  # pragma: no cover - platform-specific
    import ctypes

    _libc = ctypes.CDLL("libc.so.6")
    _libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
    _libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD
except Exception:
    pass

__all__ = [
    "DtwSettings",
    "ub_euclidean",
    "ed_distance",
    "ed_distance_batch",
    "lb_keogh",
    "lb_keogh_batch",
    "dtw_distance",
    "dtw_distance_batch",
    "warping_paths",
    "best_path",
    "best_path2",
    "best_path_prob",
    "warping_path",
    "warping_path_prob",
    "warping_path_lowmem",
    "warp",
    "warping_amount",
    "dba_update",
    "dba_partial",
    "dba_loop",
]


# ---------------------------------------------------------------------------
# Settings (mirrors DTWSettings semantics, reference dtw.py:104-263)
# ---------------------------------------------------------------------------


@dataclass
class DtwSettings:
    """Query options for DTW kernels.

    Semantics follow the reference ``DTWSettings`` (dtw.py:104-172):

    * ``window``: Sakoe-Chiba band; allowed |i-j| < window + |len1-len2|.
      ``None``/0 → no band.
    * ``max_dist``: return inf if the distance would exceed this.
    * ``max_step``: local cost cells with |x-y| > max_step become inf.
    * ``max_length_diff``: return inf when series lengths differ by more.
    * ``penalty``: added for non-diagonal (expansion/compression) steps.
    * ``psi``: int or 4-tuple (b1, e1, b2, e2) start/end relaxation.
    * ``use_pruning``: use ub_euclidean(s1, s2) as max_dist.
    * ``inner_dist``: 'squared euclidean' (default) or 'euclidean'.

    Internal ("adjusted") values follow dtw.py:152-172: for the squared
    euclidean inner distance the user-facing max_dist / max_step /
    penalty are squared before entering the DP.
    """

    window: Optional[int] = None
    max_dist: Optional[float] = None
    max_step: Optional[float] = None
    max_length_diff: Optional[float] = None
    penalty: Optional[float] = None
    psi: Union[None, int, Tuple[int, int, int, int]] = None
    use_pruning: bool = False
    inner_dist: str = "squared euclidean"

    def __post_init__(self):
        if self.inner_dist not in ("squared euclidean", "euclidean"):
            raise ValueError(f"unsupported inner_dist: {self.inner_dist}")

    # --- inner-distance plumbing (reference innerdistance.py:60-127) ---

    @property
    def squared(self) -> bool:
        return self.inner_dist == "squared euclidean"

    def inner_val(self, x: float) -> float:
        return x * x if self.squared else x

    def result(self, d):
        return np.sqrt(d) if self.squared else d

    @property
    def adj_max_step(self) -> float:
        return INF if not self.max_step else self.inner_val(self.max_step)

    @property
    def adj_max_dist(self) -> float:
        return INF if not self.max_dist else self.inner_val(self.max_dist)

    @property
    def adj_penalty(self) -> float:
        return 0.0 if not self.penalty else self.inner_val(self.penalty)

    @property
    def adj_max_length_diff(self) -> float:
        return INF if self.max_length_diff is None else self.max_length_diff

    def split_psi(self) -> Tuple[int, int, int, int]:
        # reference dtw.py:237-243
        if self.psi is None:
            return 0, 0, 0, 0
        if isinstance(self.psi, int):
            return self.psi, self.psi, self.psi, self.psi
        b1, e1, b2, e2 = self.psi
        return b1, e1, b2, e2

    def kwargs(self) -> dict:
        return {
            "window": self.window,
            "max_dist": self.max_dist,
            "max_step": self.max_step,
            "max_length_diff": self.max_length_diff,
            "penalty": self.penalty,
            "psi": self.psi,
            "use_pruning": self.use_pruning,
            "inner_dist": self.inner_dist,
        }

    def to_json(self) -> str:
        import json

        return json.dumps(self.kwargs())

    @staticmethod
    def from_json(s: str) -> "DtwSettings":
        import json

        kw = json.loads(s)
        if isinstance(kw.get("psi"), list):
            kw["psi"] = tuple(kw["psi"])
        return DtwSettings(**kw)


def _as2d(s) -> np.ndarray:
    """Coerce a series to a (n, ndim) float64 array (ndim=1 for 1-D)."""
    a = np.asarray(s, dtype=np.float64)
    if a.ndim == 1:
        a = a[:, None]
    return a


# ---------------------------------------------------------------------------
# Euclidean upper bound (reference ed.py:47-79, dtw.py:294-296)
# ---------------------------------------------------------------------------


def ed_distance(s1, s2, inner_dist: str = "squared euclidean") -> float:
    """Euclidean distance with the unequal-length extension of ed.py:47-79:
    the last element of the shorter series is compared against each
    remaining element of the longer one (DTW upper bound, Silva & Batista
    SDM'16).  Works for 1-D and n-D series."""
    a, b = _as2d(s1), _as2d(s2)
    n = min(len(a), len(b))
    diff = a[:n] - b[:n]
    if len(a) > len(b):
        tail = a[n:] - b[n - 1]
    elif len(b) > len(a):
        tail = b[n:] - a[n - 1]
    else:
        tail = None
    if inner_dist == "squared euclidean":
        ub = float(np.sum(diff * diff))
        if tail is not None:
            ub += float(np.sum(tail * tail))
        return math.sqrt(ub)
    ub = float(np.sum(np.abs(diff)))
    if tail is not None:
        ub += float(np.sum(np.abs(tail)))
    return ub


def ub_euclidean(s1, s2, inner_dist: str = "squared euclidean") -> float:
    return ed_distance(s1, s2, inner_dist=inner_dist)


def ed_distance_batch(X1: np.ndarray, X2: np.ndarray,
                      inner_dist: str = "squared euclidean") -> np.ndarray:
    """Batched equal-length Euclidean distance.

    ``X1``/``X2``: (B, n) or (B, n, d) stacks.  Returns (B,) float64.
    """
    diff = X1 - X2
    if inner_dist == "squared euclidean":
        return np.sqrt(np.sum(diff * diff, axis=tuple(range(1, diff.ndim))))
    return np.sum(np.abs(diff), axis=tuple(range(1, diff.ndim)))


# ---------------------------------------------------------------------------
# LB_Keogh lower bound (reference dtw.py:266-291)
# ---------------------------------------------------------------------------


def _envelope(s: np.ndarray, lo_reach: int, hi_reach: int):
    """Running min/max of ``s`` over window [i-lo_reach, i+hi_reach)."""
    n = len(s)
    # pad so every window is full-width, then slide
    lo = np.empty(n)
    hi = np.empty(n)
    pad_front = lo_reach
    pad_back = max(0, hi_reach - 1)
    padded_min = np.concatenate([np.full(pad_front, INF), s, np.full(pad_back, INF)])
    padded_max = np.concatenate([np.full(pad_front, -INF), s, np.full(pad_back, -INF)])
    width = lo_reach + hi_reach
    if width <= 0:
        return s.copy(), s.copy()
    wmin = np.lib.stride_tricks.sliding_window_view(padded_min, width)
    wmax = np.lib.stride_tricks.sliding_window_view(padded_max, width)
    lo = wmin[:n].min(axis=1)
    hi = wmax[:n].max(axis=1)
    return lo, hi


def lb_keogh(s1, s2, window: Optional[int] = None,
             inner_dist: str = "squared euclidean") -> float:
    """LB_Keogh lower bound, semantics of reference dtw.py:266-291:
    envelope of ``s2`` at index i covers s2[max(0, i-imin_diff) :
    min(len2, i+imax_diff)] with imin_diff = max(0, l1-l2) + window - 1 and
    imax_diff = max(0, l2-l1) + window; out-of-envelope excess is summed
    with the inner distance and passed through the result transform."""
    a = np.asarray(s1, dtype=np.float64)
    b = np.asarray(s2, dtype=np.float64)
    if window is None:
        window = max(len(a), len(b))
    imin_diff = max(0, len(a) - len(b)) + window - 1
    imax_diff = max(0, len(b) - len(a)) + window
    li, ui = _envelope(b, imin_diff, imax_diff)
    # envelope arrays are indexed by i over len(a); _envelope gives len(b)
    n = len(a)
    if len(li) < n:
        # extend: for i >= len(b), window still clamps inside b
        idx = np.arange(len(li), n)
        lo2 = np.array([b[max(0, i - imin_diff):min(len(b), i + imax_diff)].min()
                        for i in idx]) if len(idx) else np.empty(0)
        hi2 = np.array([b[max(0, i - imin_diff):min(len(b), i + imax_diff)].max()
                        for i in idx]) if len(idx) else np.empty(0)
        li = np.concatenate([li, lo2])
        ui = np.concatenate([ui, hi2])
    li = li[:n]
    ui = ui[:n]
    above = np.maximum(a - ui, 0.0)
    below = np.maximum(li - a, 0.0)
    excess = above + below  # at most one is nonzero per position
    if inner_dist == "squared euclidean":
        return math.sqrt(float(np.sum(excess * excess)))
    return float(np.sum(excess))


def lb_keogh_batch(X1: np.ndarray, X2: np.ndarray, window: Optional[int] = None,
                   inner_dist: str = "squared euclidean") -> np.ndarray:
    """Batched LB_Keogh for equal-length (B, n) stacks."""
    B, n = X1.shape
    if window is None or window >= n:
        window = n
    imin_diff = window - 1
    imax_diff = window
    width = imin_diff + imax_diff
    pad_front = imin_diff
    pad_back = max(0, imax_diff - 1)
    pmin = np.concatenate(
        [np.full((B, pad_front), INF), X2, np.full((B, pad_back), INF)], axis=1)
    pmax = np.concatenate(
        [np.full((B, pad_front), -INF), X2, np.full((B, pad_back), -INF)], axis=1)
    wmin = np.lib.stride_tricks.sliding_window_view(pmin, width, axis=1)
    wmax = np.lib.stride_tricks.sliding_window_view(pmax, width, axis=1)
    lo = wmin[:, :n].min(axis=2)
    hi = wmax[:, :n].max(axis=2)
    above = np.maximum(X1 - hi, 0.0)
    below = np.maximum(lo - X1, 0.0)
    excess = above + below
    if inner_dist == "squared euclidean":
        return np.sqrt(np.sum(excess * excess, axis=1))
    return np.sum(excess, axis=1)


# ---------------------------------------------------------------------------
# Core DTW dynamic program — batched anti-diagonal sweep
# ---------------------------------------------------------------------------


# Doubles of X per kernel batch (B = this // (r+c+1)): the measured sweet
# spot for 4–16-way concurrent workers (r2 sweep: at L=482 1.2M ran 2.3×
# faster than 600k at both 4 and 16 procs — per-call fixed costs dominate
# below B≈1000; above ~2.4M cache pressure wins and throughput falls
# again).
_BATCH_ELEMS = 1_200_000


_POOL: dict = {}


def _pooled(key: str, shape: tuple, grow_axis: int = 1) -> np.ndarray:
    """Reusable scratch buffers.  Fresh multi-MB allocations are
    pathologically slow under transparent-huge-page compaction (observed:
    np.full of a 23 MB buffer costing seconds); Spark's Python workers
    are long-lived, so a keyed pool amortizes the first-touch cost across
    all batches a worker processes.

    The batch axis (``grow_axis``) is capacity-managed: a buffer grown to
    B=1024 serves every smaller batch as a view, so ragged tail batches
    don't trigger fresh allocations."""
    base_key = (key,) + tuple(d for i, d in enumerate(shape)
                              if i != grow_axis)
    a = _POOL.get(base_key)
    if a is None or a.shape[grow_axis] < shape[grow_axis]:
        if len(_POOL) > 12:  # bound worker memory across shape variety
            _POOL.clear()
        cap = list(shape)
        cap[grow_axis] = max(shape[grow_axis], 1088)
        a = np.empty(tuple(cap))
        _POOL[base_key] = a
    sl = [slice(None)] * a.ndim
    sl[grow_axis] = slice(0, shape[grow_axis])
    return a[tuple(sl)]


def _dtw_batch_core(X1: np.ndarray, X2: np.ndarray, s: DtwSettings,
                    keep_matrix: bool = False, keep_lastrow: bool = False):
    """Banded DTW over a batch of pairs of equal shapes.

    ``X1``: (B, r) or (B, r, d); ``X2``: (B, c) or (B, c, d).

    Returns ``(dist, wps)`` where ``dist`` is (B,) float64 in the *user*
    domain (sqrt applied for squared-euclidean inner) and ``wps`` is the
    (B, r+1, c+1) accumulated-cost matrix in the *internal* domain if
    ``keep_matrix`` else None (with ``keep_lastrow``, the (c+1, B) last
    row instead).

    Distance-only calls run the C kernel (``_dtw_kernel.c``) for 1-D and
    n-D pairs alike.  Everything else — warping paths, last rows, and
    distances when the library cannot load — runs the numpy loop below,
    the package's one numpy DP; tests assert the two are ``==``.

    Anti-diagonal formulation: matrix cell (I, J), I=1..r, J=1..c holds
    the accumulated cost ending at (s1[I-1], s2[J-1]).  Cells on
    anti-diagonal t = I + J depend only on diagonals t-1 and t-2, so each
    diagonal is one vectorized update over all batch members at once.
    Per-cell arithmetic identical to reference dtw.py:370-372; an n-D
    cell cost sums the squared per-dimension differences in ascending k.
    """
    if X1.ndim == 2:
        X1 = X1[:, :, None]
    if X2.ndim == 2:
        X2 = X2[:, :, None]
    B, r, d_ = X1.shape
    c = X2.shape[1]
    if X2.shape[0] != B or X2.shape[2] != d_:
        raise ValueError(f"pair stacks {X1.shape} and {X2.shape} differ in "
                         "batch size or point dimension")

    window = max(r, c) if not s.window else s.window
    psi_1b, psi_1e, psi_2b, psi_2e = s.split_psi()
    pen = s.adj_penalty
    ms = s.adj_max_step
    squared = s.squared

    if abs(r - c) > s.adj_max_length_diff:
        dist = np.full(B, INF)
        return dist, None

    M = max(0, r - c)
    N = max(0, c - r)
    amd = s.adj_max_dist

    if not keep_matrix and not keep_lastrow and r >= 1 and c >= 1:
        from . import _dtwc

        clib = _dtwc.lib()
        if clib is not None:
            x1 = np.ascontiguousarray(X1, dtype=np.float64)
            x2 = np.ascontiguousarray(X2, dtype=np.float64)
            out = np.empty(B, dtype=np.float64)
            rc = clib.dtw_batch(
                x1.ctypes.data, x2.ctypes.data, B, r, c, d_,
                int(window), int(psi_1b), int(psi_1e), int(psi_2b),
                int(psi_2e), float(pen), float(ms), 1 if squared else 0,
                out.ctypes.data)
            if rc == 0:
                if amd != INF:
                    out = np.where(out > amd, INF, out)
                return s.result(out), None
    if keep_matrix:
        wps = np.full((B, r + 1, c + 1), INF)
        wps[:, 0, 0] = 0.0
        wps[:, 0, : psi_2b + 1] = 0.0
        wps[:, : psi_1b + 1, 0] = 0.0
    else:
        # keep_lastrow: O(r) rotating buffers only; the psi-end lastrow
        # collector below (psi_2e == c for subsequence alignment) retains
        # the full last row without the O(r·c) matrix
        wps = None

    # Three rotating diagonal buffers laid out (r+1, B): the band slice
    # [lo:hi+1, :] of a diagonal is a CONTIGUOUS (band, B) slab, so each
    # step's working set is band·B doubles (cache-resident) instead of
    # strided touches across the whole (B, r+1) plane.  Only the band
    # slice is touched per step (O(B·band), not O(B·r)): a rotated buffer
    # holds stale diag t-3 values, but every read at diag t stays within
    # [lo-1, hi+1] of diag t-1 / [lo-1, hi] of diag t-2, and those edge
    # cells are explicitly reset below, so stale values are never
    # observed (band bounds move by at most 1 per diagonal).
    X1T = _pooled("x1", (r, B, d_))
    np.copyto(X1T, np.swapaxes(X1, 0, 1))
    X2T = _pooled("x2", (c, B, d_))
    np.copyto(X2T, np.swapaxes(X2, 0, 1))
    bufs = [_pooled(f"d{k}", (r + 1, B)) for k in range(3)]
    for bf in bufs:
        bf.fill(INF)
    D2, D1 = bufs[0], bufs[1]
    # t = 0: only cell (0, 0)
    D2[0, :] = 0.0
    # t = 1: cells (0,1) and (1,0)
    D1[0, :] = 0.0 if psi_2b >= 1 else INF
    if r >= 1:
        D1[1, :] = 0.0 if psi_1b >= 1 else INF

    # psi-end collectors
    lastcol = np.full((psi_1e + 1, B), INF) if psi_1e > 0 else None
    lastrow = np.full((psi_2e + 1, B), INF) if psi_2e > 0 else None
    # full-last-row capture for keep_lastrow (independent of psi_2e)
    rowcap = None
    if keep_lastrow:
        rowcap = np.full((c + 1, B), INF)
        rowcap[0, :] = 0.0 if psi_1b >= r else (0.0 if r == 0 else INF)
    corner = np.full(B, INF)

    for t in range(2, r + c + 1):
        cur = bufs[t % 3]
        # interior band: I in [lo, hi]
        # constraints: 1<=I<=r, 1<=J=t-I<=c, band j-window (0-based j=J-1):
        #   J-1 >= (I-1) - M - window + 1  →  I <= (t + M + window - 1) / 2
        #   J-1 <= (I-1) + N + window - 1  →  I >= (t + 1 - N - window) / 2
        lo = max(1, t - c, -(-(t + 1 - N - window) // 2))
        hi = min(r, t - 1, (t + M + window - 1) // 2)
        # clear potentially-stale edge cells around the active range
        if lo - 1 >= 0:
            cur[lo - 1, :] = INF
        if hi + 1 <= r:
            cur[hi + 1, :] = INF
        # boundary cells on this diagonal (may overwrite the edge resets)
        if t <= c:  # cell (0, t)
            cur[0, :] = 0.0 if t <= psi_2b else INF
        if t <= r:  # cell (t, 0)
            cur[t, :] = 0.0 if t <= psi_1b else INF
        if lo <= hi:
            sl = slice(lo, hi + 1)
            # costs: s1 index I-1 for I in [lo, hi]; s2 index J-1 = t-I-1,
            # decreasing as I increases
            x = X1T[lo - 1 : hi]
            j_top = t - lo - 1
            j_bot = t - hi - 1
            y = X2T[j_top : (None if j_bot == 0 else j_bot - 1) : -1]
            diff = x - y
            if d_ == 1:
                cost = diff[:, :, 0]
                cost = cost * cost if squared else np.abs(cost)
            else:
                # squares summed in ascending k, as the C kernel sums them
                cost = diff[:, :, 0] ** 2
                for k_ in range(1, d_):
                    cost += diff[:, :, k_] ** 2
                if not squared:
                    cost = np.sqrt(cost)
            if ms != INF:
                cost = np.where(cost > ms, INF, cost)
            diag = D2[lo - 1 : hi]
            up = D1[lo - 1 : hi] + pen
            left = D1[sl] + pen
            cur[sl] = cost + np.minimum(diag, np.minimum(up, left))
            if keep_matrix:
                J = t - np.arange(lo, hi + 1)
                wps[:, np.arange(lo, hi + 1), J] = cur[sl].T
        # collect psi-end values: wps[I, c] for I in [r-psi_1e, r] and
        # wps[r, J] for J in [c-psi_2e, c] (reference dtw.py:386-396)
        if lastcol is not None:
            I = t - c  # row index of the last-column cell on this diagonal
            if max(1, r - psi_1e) <= I <= r:
                lastcol[I - (r - psi_1e), :] = cur[I, :]
        if lastrow is not None:
            J = t - r  # column index of the last-row cell on this diagonal
            if max(1, c - psi_2e) <= J <= c:
                lastrow[J - (c - psi_2e), :] = cur[r, :]
        if rowcap is not None and 1 <= t - r <= c:
            rowcap[t - r, :] = cur[r, :]
        if t == r + c:
            corner = cur[r, :].copy()
        D2, D1 = D1, cur

    # final distance per reference dtw.py:388-399
    if psi_1e == 0 and psi_2e == 0:
        d = corner
    else:
        cands = [corner]
        if lastrow is not None:
            cands.append(lastrow.min(axis=0))
        if lastcol is not None:
            cands.append(lastcol.min(axis=0))
        d = np.minimum.reduce(cands)
    if amd != INF:
        d = np.where(d > amd, INF, d)
    d = s.result(d)
    if keep_lastrow and not keep_matrix:
        # internal-domain full last row, shape (c+1, B)
        return d, rowcap
    return d, wps


def dtw_distance(s1, s2, settings: Optional[DtwSettings] = None, **kwargs) -> float:
    """DTW distance between two series (1-D or n-D).

    Reference semantics: dtw.py:299-400 (window / max_dist / max_step /
    max_length_diff / penalty / psi / use_pruning / inner_dist).
    """
    s = settings if settings is not None else DtwSettings(**kwargs)
    a, b = _as2d(s1), _as2d(s2)
    if s.use_pruning and not s.max_dist:
        s = DtwSettings(**{**s.kwargs(), "use_pruning": False,
                           "max_dist": ub_euclidean(a, b, s.inner_dist)})
    d, _ = _dtw_batch_core(a[None, :, :], b[None, :, :], s)
    return float(d[0])


def dtw_distance_batch(X1: np.ndarray, X2: np.ndarray,
                       settings: Optional[DtwSettings] = None,
                       **kwargs) -> np.ndarray:
    """DTW distances for a batch of equal-length pairs (the engine's hot
    path: one call per Arrow batch inside ``applyInPandas``).

    ``use_pruning`` applies a per-pair ub_euclidean as max_dist *bound
    check only* (the banded DP itself is not cell-pruned; results match
    the reference exactly because pruning never changes finite outputs).
    """
    s = settings if settings is not None else DtwSettings(**kwargs)
    if s.use_pruning and not s.max_dist:
        # ub_euclidean is a true upper bound (the diagonal is a valid
        # warping path), so max_dist=ub never turns a finite DTW into inf:
        # use_pruning is semantically a no-op here (it only accelerates the
        # reference's cell-level scan, which the batched DP doesn't use).
        s = DtwSettings(**{**s.kwargs(), "use_pruning": False})
    # sub-batch so X stacks + DP buffers stay cache-resident: each series
    # row is re-read ~band times across consecutive diagonals, so letting
    # the stacks spill out of LLC multiplies DRAM traffic by the band
    # width (measured: 179M cells/s at 12 MB working set vs 19M at 94 MB)
    B = X1.shape[0]
    r, c = X1.shape[1], X2.shape[1]
    bmax = max(64, _BATCH_ELEMS // (r + c + 1))
    if B <= bmax:
        d, _ = _dtw_batch_core(X1, X2, s)
        return d
    parts = [
        _dtw_batch_core(X1[i:i + bmax], X2[i:i + bmax], s)[0]
        for i in range(0, B, bmax)
    ]
    return np.concatenate(parts)


def dtw_distance_batch_indexed(V: np.ndarray, pos_i: np.ndarray,
                               pos_j: np.ndarray,
                               settings: Optional[DtwSettings] = None,
                               **kwargs) -> np.ndarray:
    """Distance-only DTW for explicit index pairs over an equal-length
    1-D corpus matrix ``V`` (n, L): pair k is (V[pos_i[k]], V[pos_j[k]]).

    The C fast path reads series rows straight out of ``V`` — ZERO
    per-pair input copies, where the stacked :func:`dtw_distance_batch`
    entry memcpys both series of every pair (2·L·8 bytes/pair; at an
    all-pairs matrix job that is the corpus re-copied once per partner).
    The numpy fallback stacks rows in kernel-sized chunks — results are
    identical (same per-cell ops either way; tests assert ==).
    """
    s = settings if settings is not None else DtwSettings(**kwargs)
    if s.use_pruning and not s.max_dist:
        s = DtwSettings(**{**s.kwargs(), "use_pruning": False})
    V = np.ascontiguousarray(V, dtype=np.float64)
    n, L = V.shape
    pos_i = np.ascontiguousarray(pos_i, dtype=np.int64)
    pos_j = np.ascontiguousarray(pos_j, dtype=np.int64)
    B = len(pos_i)
    if B == 0:
        return np.empty(0, dtype=np.float64)

    from . import _dtwc

    clib = _dtwc.lib()
    if clib is not None and L >= 1:
        window = L if not s.window else s.window
        psi_1b, psi_1e, psi_2b, psi_2e = s.split_psi()
        out = np.empty(B, dtype=np.float64)
        rc = clib.dtw_batch_idx(
            V.ctypes.data, L, pos_i.ctypes.data, pos_j.ctypes.data,
            B, int(window), int(psi_1b), int(psi_1e), int(psi_2b),
            int(psi_2e), float(s.adj_penalty), float(s.adj_max_step),
            1 if s.squared else 0, out.ctypes.data)
        if rc == 0:
            amd = s.adj_max_dist
            if amd != INF:
                out = np.where(out > amd, INF, out)
            return s.result(out)
    # numpy fallback: stacked chunks through the regular batch entry
    out = np.empty(B, dtype=np.float64)
    bmax = max(64, _BATCH_ELEMS // (2 * L + 1))
    for k in range(0, B, bmax):
        sl = slice(k, k + bmax)
        out[sl] = dtw_distance_batch(V[pos_i[sl]], V[pos_j[sl]], settings=s)
    return out


# ---------------------------------------------------------------------------
# Warping paths (reference dtw.py:440-535, 975-990, 1099-1161)
# ---------------------------------------------------------------------------


def warping_paths(s1, s2, psi_neg: bool = True, keep_int_repr: bool = False,
                  settings: Optional[DtwSettings] = None, **kwargs):
    """Full accumulated-cost matrix + distance (reference dtw.py:440-535).

    Returns ``(d, wps)`` with ``wps`` shaped (len(s1)+1, len(s2)+1).
    With psi-relaxation and ``psi_neg``, skipped trailing cells are set
    to -1 exactly like the reference (dtw.py:521-528).
    """
    s = settings if settings is not None else DtwSettings(**kwargs)
    a, b = _as2d(s1), _as2d(s2)
    if s.use_pruning and not s.max_dist:
        s = DtwSettings(**{**s.kwargs(), "use_pruning": False,
                           "max_dist": ub_euclidean(a, b, s.inner_dist)})
    r, c = len(a), len(b)
    if abs(r - c) > s.adj_max_length_diff:
        return INF, None
    dist_arr, wps = _dtw_batch_core(a[None], b[None], s, keep_matrix=True)
    wps = wps[0]
    psi_1b, psi_1e, psi_2b, psi_2e = s.split_psi()
    if not keep_int_repr:
        with np.errstate(invalid="ignore"):
            wps = s.result(wps)
    # choose final d + psi_neg masking per reference dtw.py:502-528
    if psi_1e == 0 and psi_2e == 0:
        d = wps[r, c]
    else:
        ir, ic = r, c
        if psi_1e != 0:
            vr = wps[ir : max(0, ir - psi_1e - 1) : -1, ic]
            mir = int(np.argmin(vr))
            vr_mir = vr[mir]
        else:
            mir, vr_mir = ir, INF
        if psi_2e != 0:
            vc = wps[ir, ic : max(0, ic - psi_2e - 1) : -1]
            mic = int(np.argmin(vc))
            vc_mic = vc[mic]
        else:
            mic, vc_mic = ic, INF
        if vr_mir < vc_mic:
            if psi_neg:
                wps[ir : ir - mir : -1, ic] = -1
            d = vr_mir
        else:
            if psi_neg:
                wps[ir, ic : ic - mic : -1] = -1
            d = vc_mic
    if keep_int_repr:
        if s.adj_max_dist and d > s.adj_max_dist:
            d = INF
    else:
        if s.max_dist and d > s.max_dist:
            d = INF
    return float(d), wps


def best_path(paths: np.ndarray, row=None, col=None, penalty: float = 0.0):
    """Greedy argmin traceback (reference dtw.py:1121-1161)."""
    i = int(paths.shape[0] - 1) if row is None else row
    j = int(paths.shape[1] - 1) if col is None else col
    p = []
    if paths[i, j] != -1:
        p.append((i - 1, j - 1))
    while i > 0 and j > 0:
        cands = (paths[i - 1, j - 1], paths[i - 1, j] + penalty,
                 paths[i, j - 1] + penalty)
        c = int(np.argmin(cands))
        if c == 0:
            i, j = i - 1, j - 1
        elif c == 1:
            i -= 1
        else:
            j -= 1
        if paths[i, j] != -1:
            p.append((i - 1, j - 1))
    p.pop()
    p.reverse()
    return p


def best_path2(paths: np.ndarray):
    """Value-following traceback (reference dtw.py:1164-1190): step to
    the neighbor with the smallest accumulated value, scanning diag →
    up → left with ``<=`` so later candidates win ties — a different
    tie order than :func:`best_path`'s penalty-aware argmin."""
    r = paths.shape[0] - 1
    c = paths.shape[1] - 1
    path = []
    v = paths[r, c]
    if v != -1:
        path.append((r - 1, c - 1))
    while r > 0 and c > 0:
        if v == -1:
            v = INF
        r_c, c_c = r, c
        if r >= 1 and c >= 1 and paths[r - 1, c - 1] <= v:
            r_c, c_c, v = r - 1, c - 1, paths[r - 1, c - 1]
        if r >= 1 and paths[r - 1, c] <= v:
            r_c, c_c, v = r - 1, c, paths[r - 1, c]
        if c >= 1 and paths[r, c - 1] <= v:
            r_c, c_c, v = r, c - 1, paths[r, c - 1]
        if v != -1:
            path.append((r_c - 1, c_c - 1))
        r, c = r_c, c_c
    path.pop()
    path.reverse()
    return path


def best_path_prob(paths: np.ndarray, avg: float, rng: np.random.Generator,
                   penalty: float = 0.0):
    """Probabilistic traceback (reference dd_dtw.c:3759-3960
    dtw_best_path_prob): at each cell the step is sampled with
    probability ∝ 1/(avg + min_diff − Δ_k), Δ_k = cell − neighbor_k, so
    cheaper predecessors are proportionally likelier.  Deviation: the C
    path draws (rand()%1000)/1000 from the global C RNG; this uses a
    seeded numpy Generator (same distribution, reproducible here)."""
    if avg == 0.0:
        avg = 1.0
    i = paths.shape[0] - 1
    j = paths.shape[1] - 1
    p = []
    if paths[i, j] != -1:
        p.append((i - 1, j - 1))
    while i > 0 and j > 0:
        prev = paths[i, j]
        d0 = prev - paths[i - 1, j - 1]          # diagonal
        d1 = prev - paths[i, j - 1] - penalty    # left
        d2 = prev - paths[i - 1, j] - penalty    # up
        min_diff = max(d0, d1, d2, 0.0)
        p0 = 1.0 / (avg + min_diff - d0)
        p1 = 1.0 / (avg + min_diff - d1)
        p2 = 1.0 / (avg + min_diff - d2)
        s = p0 + p1 + p2
        rnum = rng.integers(0, 1000) / 1000.0
        if rnum < p0 / s:
            i, j = i - 1, j - 1
        elif rnum < (p0 + p1) / s:
            j -= 1
        else:
            i -= 1
        if paths[i, j] != -1:
            p.append((i - 1, j - 1))
    p.pop()
    p.reverse()
    return p


def warping_path_prob(from_s, to_s, avg: float, seed: int = 42,
                      include_distance: bool = False,
                      settings: Optional[DtwSettings] = None, **kwargs):
    """Probabilistically sampled warping path (reference dtw.py:1041-1048,
    C-only there; numpy-RNG port of dd_dtw.c:3759) — used by DBA to
    spread the barycenter update across near-optimal alignments."""
    s = settings if settings is not None else DtwSettings(**kwargs)
    d, paths = warping_paths(from_s, to_s, keep_int_repr=True, settings=s)
    rng = np.random.default_rng(seed)
    path = best_path_prob(paths, avg, rng, penalty=s.adj_penalty)
    if include_distance:
        return path, d
    return path


def warping_path(from_s, to_s, include_distance: bool = False,
                 settings: Optional[DtwSettings] = None, **kwargs):
    """Warping path between two sequences (reference dtw.py:975-990)."""
    s = settings if settings is not None else DtwSettings(**kwargs)
    d, paths = warping_paths(from_s, to_s, settings=s)
    path = best_path(paths)
    if include_distance:
        return path, d
    return path


def _acc_lastrow(s1: np.ndarray, s2: np.ndarray, s: DtwSettings) -> np.ndarray:
    """Internal-domain accumulated costs of the last DP row (aligning all
    of ``s1`` against every prefix of ``s2``) in O(len(s2)) memory."""
    _, row = _dtw_batch_core(s1[None], s2[None], s, keep_lastrow=True)
    return row[:, 0].copy()


def warping_path_lowmem(from_s, to_s, include_distance: bool = False,
                        settings: Optional[DtwSettings] = None, **kwargs):
    """Hirschberg divide-and-conquer warping path in O(r + c) memory
    (reference dtw.py warping path via full O(r·c) matrix; the C library
    ships the low-memory variant, dd_dtw.c:3935-4430 — this is an
    independent implementation of the classic Hirschberg split).

    Forward last-row costs for the top half and backward (reversed)
    last-row costs for the bottom half meet at the optimal crossing of
    the middle row; recursion on both halves reconstructs the full path
    with ~2× the DP work of the distance and no cost matrix.  Requires
    ``psi == 0`` and no window (the band is defined relative to the
    full problem and does not decompose).

    ``penalty`` caveat: the returned distance always equals
    ``dtw_distance`` bit-for-bit, but the PATH may differ from
    :func:`warping_path` — the reference's canonical traceback
    (best_path, reference dtw.py:1121-1161) ignores the penalty when
    choosing among predecessors while the Hirschberg split follows
    the true penalized row sums, and under penalties several
    corridors share the optimal total, so the two resolve such
    forks differently.  Penalty-free settings reproduce
    ``warping_path`` exactly (tested).
    """
    s = settings if settings is not None else DtwSettings(**kwargs)
    if any(s.split_psi()) or s.window:
        raise ValueError("warping_path_lowmem supports psi=0, window=None")
    a = np.asarray(from_s, dtype=np.float64)
    b = np.asarray(to_s, dtype=np.float64)
    pen = s.adj_penalty

    def rec(x: np.ndarray, y: np.ndarray, oi: int, oj: int, out: list):
        r, c = len(x), len(y)
        if r <= 2 or c <= 2 or (r + 1) * (c + 1) <= 4096:
            _, wps = warping_paths(x, y, settings=s)
            out.extend((pi + oi, pj + oj) for pi, pj in best_path(wps))
            return
        mid = r // 2
        Fr = _acc_lastrow(x[:mid], y, s)
        Rr = _acc_lastrow(x[mid:][::-1], y[::-1], s)
        j_idx = np.arange(1, c)
        diag_tot = Fr[1:c] + Rr[c - j_idx]
        vert_tot = Fr[1: c + 1] + Rr[c - np.arange(1, c + 1) + 1] + pen
        bd, bv = int(np.argmin(diag_tot)), int(np.argmin(vert_tot))
        if diag_tot[bd] <= vert_tot[bv]:
            j = bd + 1
            rec(x[:mid], y[:j], oi, oj, out)
            rec(x[mid:], y[j:], oi + mid, oj + j, out)
        else:
            j = bv + 1
            rec(x[:mid], y[:j], oi, oj, out)
            rec(x[mid:], y[j - 1:], oi + mid, oj + j - 1, out)

    path: list = []
    rec(a, b, 0, 0, path)
    if include_distance:
        d = dtw_distance(a, b, settings=s)
        return path, d
    return path


def warping_amount(path) -> int:
    """Count non-diagonal steps on a path (reference dtw.py:1051-1066)."""
    n = 0
    for k in range(1, len(path)):
        if path[k][0] - path[k - 1][0] == 0 or path[k][1] - path[k - 1][1] == 0:
            n += 1
    return n


def warp(from_s, to_s, path=None, settings: Optional[DtwSettings] = None, **kwargs):
    """Warp ``from_s`` onto the time axis of ``to_s`` along ``path``
    (reference dtw.py:1099-1118): average the from-values mapped to each
    to-index."""
    s = settings if settings is not None else DtwSettings(**kwargs)
    if path is None:
        path = warping_path(from_s, to_s, settings=s)
    from_a = np.asarray(from_s, dtype=np.float64)
    to_a = np.asarray(to_s, dtype=np.float64)
    new_s = np.zeros(len(to_a))
    counts = np.zeros(len(to_a))
    for i, j in path:
        new_s[j] += from_a[i]
        counts[j] += 1
    counts[counts == 0] = 1
    return new_s / counts, path


# ---------------------------------------------------------------------------
# DBA — DTW Barycenter Averaging (reference dtw_barycenter.py:66-243)
# ---------------------------------------------------------------------------


def dba_update(series: Sequence[np.ndarray], c: np.ndarray,
               settings: Optional[DtwSettings] = None,
               nb_prob_samples: int = 0, seed: int = 42,
               **kwargs) -> np.ndarray:
    """One DBA update step (reference dtw_barycenter.py:208-243): align
    every series to the center ``c``, bucket aligned values per center
    index, and average each bucket.

    ``nb_prob_samples > 0`` additionally buckets that many
    probabilistically sampled near-optimal paths per series (reference
    C-only feature, dd_dtw.c:5491-5600; numpy-RNG port — the reference
    Python raises for it)."""
    sums, counts = dba_partial(series, c, settings=settings,
                               nb_prob_samples=nb_prob_samples, seed=seed,
                               **kwargs)
    counts[counts == 0] = 1
    return sums / counts


def dba_partial(series: Sequence[np.ndarray], c: np.ndarray,
                settings: Optional[DtwSettings] = None,
                nb_prob_samples: int = 0, seed: int = 42,
                **kwargs) -> tuple:
    """The associative half of a DBA step: per-center-position aligned
    sums and counts over ``series``.  Partials from disjoint member
    subsets add element-wise, which is what lets the Spark k-means
    update run as map-side partials + a tiny reduce instead of
    collecting a whole cluster into one task."""
    s = settings if settings is not None else DtwSettings(**kwargs)
    c = np.asarray(c, dtype=np.float64)
    t = len(c)
    sums = np.zeros(t)
    counts = np.zeros(t)
    rng = np.random.default_rng(seed)
    for seq in series:
        seq = np.asarray(seq, dtype=np.float64)
        if nb_prob_samples <= 0:
            paths = [warping_path(c, seq, settings=s)]
        else:
            d, wps = warping_paths(c, seq, keep_int_repr=True, settings=s)
            avg = (d * d) / max(len(c), 1)
            paths = [best_path_prob(wps, avg, rng, penalty=s.adj_penalty)
                     for _ in range(nb_prob_samples)]
        for path in paths:
            for i, j in path:
                sums[i] += seq[j]
                counts[i] += 1
    return sums, counts


def dba_loop(series: Sequence[np.ndarray], c: Optional[np.ndarray] = None,
             max_it: int = 10, thr: float = 0.001,
             settings: Optional[DtwSettings] = None,
             nb_initial_samples: Optional[int] = None,
             nb_prob_samples: int = 0, **kwargs) -> np.ndarray:
    """Iterate DBA to convergence (reference dtw_barycenter.py:66-165).
    ``nb_initial_samples`` seeds with get_good_c (reference :46-63);
    ``nb_prob_samples`` enables probabilistic path sampling per update."""
    s = settings if settings is not None else DtwSettings(**kwargs)
    if c is None:
        if nb_initial_samples:
            from ..operators.cluster import get_good_c
            c = get_good_c(list(series), nb_initial_samples, settings=s)
        else:
            c = np.asarray(series[0], dtype=np.float64)
    for _ in range(max_it):
        new_c = dba_update(series, c, settings=s,
                           nb_prob_samples=nb_prob_samples)
        if len(new_c) == len(c):
            diff = float(np.mean(np.abs(new_c - c)))
        else:
            diff = INF
        c = new_c
        if diff <= thr:
            break
    return np.asarray(c, dtype=np.float64)
