"""Dynamic Subsequence Warping explanation of a warping path — the
engine's re-expression of the reference's ``explain.dsw.explainpair``
(reference explain/dsw/explainpair.py:310 ``ExplainPair``; the method is
published in Lin, Meert, Robberechts, Blockeel, "Warping and Matching
Subsequences Between Time Series", arXiv:2506.15452, 2025).

Scope: approximation types ``max_factor_and_diff`` (default; cost bound
d' <= d·(1+delta_rel) + delta_abs), ``max_factor`` (d' <= d·(1+
delta_rel)), ``max_diff`` (d' <= d + delta_abs), ``max_factor_loose``
and ``max_dist`` — all sharing the same recurrence, differing only in
the tolerance factors (reference
``compute_tolerance_criterion_factors``, explainpair.py:725) — with
top-down RDP over the self-similarity
matrix followed by the bottom-up merge pass (``approx_prune``) under
the local, per-segment tolerance criterion (the reference's default
``approx_local=True``; its global running-bound criterion is not
offered: a re-expression of it broke its own full-path bound),
squared-euclidean inner distance; split strategies
``spatialdist`` (default), ``pathdiff``, ``deriv`` and ``derivdist``
(reference max_change_in_path / max_2ndderiv_in_path /
max_2ndderiv_deviation with the 1st/2nd-derivative cost-surface
stencils, explainpair.py:846-1028).  ``max_index`` (epsilon-spatial
RDP over the path, reference rdp_vectorized :2685, including the
vertical-segment tilt pass) is supported since r5; only
``mean_index`` remains out of scope — the reference itself marks it
"Not implemented yet" (it raises here, not silently absent).

Output parity is pinned bit-exactly against the reference implementation
in tests (segment tuples, per-segment distances, approximated distance)
— accumulation order is kept sequential where the reference's is, since
the tolerance criteria compare accumulated floats.

Scale shape: one explanation is an O(path length) recursion on a single
pair — intrinsically per-pair work.  The distributed surface is
``operators/explain.py::explain_pairs``: pairs are distributed, each
task explains its pairs with this kernel (same strategy as the
distance-matrix operator; the per-pair kernel itself has no
cross-pair state).
"""

from __future__ import annotations

import math
from bisect import bisect_left, bisect_right
from collections import deque
from heapq import heappop, heappush
from typing import List, Tuple

import numpy as np

from .dtw import DtwSettings, warping_path

DIAG_ANGLE = math.pi / 4


def _inner(a: float, b: float) -> float:
    d = a - b
    return d * d


def _bres_cost(sf: np.ndarray, st: np.ndarray, p0, p1,
               include_begin: bool, include_end: bool) -> Tuple[float, int]:
    """Cost of the straight lattice line p0→p1 (Bresenham walk), with
    the same endpoint-inclusion switches as the reference's _line_cost
    (explainpair.py:1167)."""
    d_f = p1[0] - p0[0]
    d_t = -(p1[1] - p0[1])
    error = d_f + d_t
    i_f, i_fe = p0[0], p1[0]
    i_t, i_te = p0[1], p1[1]
    cost = 0.0
    n = 0
    while True:
        cost += _inner(sf[i_f], st[i_t])
        n += 1
        if i_f == i_fe and i_t == i_te:
            break
        e2 = 2 * error
        if e2 >= d_t:
            error += d_t
            i_f += 1
        if e2 <= d_f:
            error += d_f
            i_t += 1
    if not include_begin:
        n -= 1
        cost -= _inner(sf[p0[0]], st[p0[1]])
    if not include_end:
        n -= 1
        cost -= _inner(sf[p1[0]], st[p1[1]])
    return cost, n


def _max_change_in_path(sf: np.ndarray, st: np.ndarray,
                        points: np.ndarray, i0: int, i1: int,
                        only_from: bool = False):
    """Split-point selection ``pathdiff``: the path point whose
    horizontal/vertical projection onto the straight segment has the
    largest cost increase (reference max_change_in_path,
    explainpair.py:846; numpy int division keeps the reference's
    inf/nan semantics on degenerate segments)."""
    p0, p1 = points[i0], points[i1]
    # degenerate (vertical/horizontal) segments have one undefined
    # projection: skip that projection instead of computing an infinite
    # slope (int(inf) would raise; the non-degenerate math is unchanged)
    d_f, d_t = float(p1[0] - p0[0]), float(p1[1] - p0[1])
    s_tf = d_t / d_f if d_f else None   # vertical-projection slope
    s_ft = d_f / d_t if d_t else None   # horizontal-projection slope
    i_f, i_t = p0[0], p0[1]
    max_i_lf = len(sf) - 1
    max_i_lt = len(st) - 1
    diff_max = 0
    idx_max = i0
    for idx in range(i0 + 1, i1):
        i_of, i_ot = points[idx]
        c_o = _inner(sf[i_of], st[i_ot])
        diff = None
        if s_tf is not None:
            i_lf = min(int(s_tf * (i_ot - i_t) + i_f), max_i_lf)
            diff = _inner(sf[i_lf], st[i_ot]) - c_o
        if not only_from and s_ft is not None:
            i_lt = min(int(s_ft * (i_of - i_f) + i_t), max_i_lt)
            d2 = _inner(sf[i_of], st[i_lt]) - c_o
            diff = d2 if diff is None else max(diff, d2)
        if diff is not None and diff > diff_max:
            diff_max = diff
            idx_max = idx
    return diff_max, idx_max


def _path_derivs(sf: np.ndarray, st: np.ndarray, points: np.ndarray,
                 order: int, h: int = 1) -> np.ndarray:
    """Per-path-point 1st/2nd derivative of the |difference| cost
    surface, centered differences along the two axes, maxed (reference
    get_1stderiv_in_path / get_2ndderiv_in_path, explainpair.py:884/925;
    border points fall back to clamped one-sided stencils).  The 1st
    derivative gets the reference's 10%-of-max floor."""
    ders = np.zeros(len(points))
    i_of_m = len(sf) - h - 1
    i_ot_m = len(st) - h - 1
    for idx in range(len(points)):
        i_of, i_ot = points[idx]
        c = abs(sf[i_of] - st[i_ot])
        lo_t, hi_t = max(0, i_ot - h), min(i_ot_m, i_ot + h)
        lo_f, hi_f = max(0, i_of - h), min(i_of_m, i_of + h)
        border = i_of < h or i_of > i_of_m or i_ot < h or i_ot > i_ot_m
        if order == 1:
            if border:
                der = max(abs(c - abs(sf[i_of] - st[lo_t])) / h,
                          abs(c - abs(sf[i_of] - st[hi_t])) / h,
                          abs(c - abs(sf[lo_f] - st[i_ot])) / h,
                          abs(c - abs(sf[hi_f] - st[i_ot])) / h)
            else:
                der = max(abs(c - abs(sf[i_of] - st[i_ot - h])) / h,
                          abs(c - abs(sf[i_of] - st[i_ot + h])) / h,
                          abs(c - abs(sf[i_of - h] - st[i_ot])) / h,
                          abs(c - abs(sf[i_of + h] - st[i_ot])) / h)
        else:
            if border:
                der = max(abs(abs(sf[i_of] - st[lo_t])
                              + abs(sf[i_of] - st[hi_t]) - 2 * c) / h ** 2,
                          abs(abs(sf[hi_f] - st[i_ot])
                              + abs(sf[lo_f] - st[i_ot]) - 2 * c) / h ** 2)
            else:
                der = max(abs(abs(sf[i_of] - st[i_ot - h])
                              + abs(sf[i_of] - st[i_ot + h]) - 2 * c)
                          / h ** 2,
                          abs(abs(sf[i_of + h] - st[i_ot])
                              + abs(sf[i_of - h] - st[i_ot]) - 2 * c)
                          / h ** 2)
        ders[idx] = abs(der)
    if order == 1:
        min_ders = np.max(ders) * 0.1
        ders[ders < min_ders] = min_ders
    return ders


def _max_2ndderiv_in_path(ders2: np.ndarray, points: np.ndarray,
                          i0: int, i1: int):
    """Split-point selection ``deriv``: highest precomputed 2nd
    derivative strictly inside (i0, i1) (reference :976)."""
    der_max = 0
    idx_max = i0
    for idx in range(i0 + 1, i1):
        if ders2[idx] > der_max:
            der_max = ders2[idx]
            idx_max = idx
    return der_max, idx_max


def _max_2ndderiv_deviation(ders1: np.ndarray, ders2: np.ndarray,
                            points: np.ndarray, i0: int, i1: int):
    """Split-point selection ``derivdist``: spatial deviation from the
    straight segment reweighted by the 2nd-order Taylor expansion
    der1·d + ½·der2·d² (reference :988)."""
    p0, p1 = points[i0], points[i1]
    p0p1normsqr = np.linalg.norm(p1 - p0) ** 2
    distmax = 0
    idxmax = i0
    for idx in range(i0, i1):
        p = points[idx]
        if np.allclose(p0, p1):
            dist = np.linalg.norm(p - p0)
        else:
            t = ((p[0] - p0[0]) * (p1[0] - p0[0])
                 + (p[1] - p0[1]) * (p1[1] - p0[1])) / p0p1normsqr
            if t < 0:
                dist = np.linalg.norm(p - p0)
            elif t > 1:
                dist = np.linalg.norm(p - p1)
            else:
                pt = np.array([p0[0] + t * (p1[0] - p0[0]),
                               p0[1] + t * (p1[1] - p0[1])])
                dist = np.linalg.norm(p - pt)
        dist = ders1[idx] * dist + 0.5 * ders2[idx] * dist ** 2
        if dist > distmax:
            distmax = dist
            idxmax = idx
    return distmax, idxmax


def rdp_epsilon(points: np.ndarray, epsilon: float):
    """Plain spatial Ramer-Douglas-Peucker over the path (the
    ``max_index`` approximation type — reference rdp_vectorized,
    explainpair.py:2685): keep points whose perpendicular distance to
    the straight segment exceeds ``epsilon``, then tilt the remaining
    pure-vertical segments one index right (or merge them into a
    neighboring diagonal) exactly as the reference does so every
    segment advances in the from-axis."""
    points = np.asarray(points)
    queue = deque([(0, len(points) - 1)])
    result: set = set()
    while queue:
        i0, i1 = queue.popleft()
        p0, p1 = points[i0], points[i1]
        seg = points[i0:i1]
        if np.allclose(p0, p1):
            distances = np.linalg.norm(seg - p0, axis=1)
        else:
            a = np.abs((seg[:, 0] - p0[0]) * (p1[1] - p0[1])
                       - (seg[:, 1] - p0[1]) * (p1[0] - p0[0]))
            distances = a / np.linalg.norm(p1 - p0)
        idxmax = int(np.argmax(distances))
        distmax = distances[idxmax]
        idxmax += i0
        if distmax > epsilon:
            queue.append((i0, idxmax))
            queue.append((idxmax, i1))
        else:
            result.add(i0)
            result.add(i1)
    result = sorted(result)
    # the tilt pass reads the PRE-FIX snapshot of the kept points while
    # mutating `result` (pops shift later indices) — the reference does
    # exactly this, so replicate it rather than re-deriving per step
    new_points = points[result]
    # guard the degenerate tails the reference never hits in its own
    # tests: with only the two endpoints kept there is no [-3] to read
    # (a purely vertical 2-point result stays untouched), and a shift
    # below index 0 would wrap to the path's LAST point
    if (len(new_points) >= 3 and new_points[-2, 0] == new_points[-1, 0]):
        if new_points[-3, 0] == new_points[-2, 0] - 1:
            result.pop(-2)
        elif result[-2] > 0:
            result[-2] = result[-2] - 1
    for i in np.arange(len(result) - 2, 0, -1):
        if new_points[i, 0] == new_points[i - 1, 0]:
            if new_points[i + 1, 0] == new_points[i, 0] + 1:
                result.pop(int(i))
            else:
                result[i] = result[i] + 1
    return points[result], result


def _max_deviation_from_line(points: np.ndarray, i0: int, i1: int):
    """Split-point selection (``spatialdist``): the path point with the
    largest spatial distance to the straight segment points[i0]→[i1]
    (first maximum wins, as in explainpair.py:1032)."""
    p0 = points[i0].astype(np.float64)
    p1 = points[i1].astype(np.float64)
    seg = points[i0:i1].astype(np.float64)
    def _norm(dx, dy):
        return np.sqrt(dx * dx + dy * dy)  # == np.linalg.norm per point

    if np.allclose(p0, p1):
        d = _norm(seg[:, 0] - p0[0], seg[:, 1] - p0[1])
    else:
        dp = p1 - p0
        # the reference squares the *norm* (sqrt then square) —
        # replicate exactly, a 1-ulp difference in t cascades into
        # different split points (explainpair.py:1035-1036)
        nsq = float(np.sqrt(dp[0] * dp[0] + dp[1] * dp[1])) ** 2
        t = ((seg[:, 0] - p0[0]) * dp[0] + (seg[:, 1] - p0[1]) * dp[1]) / nsq
        proj = p0 + np.clip(t, 0.0, 1.0)[:, None] * dp
        d = _norm(seg[:, 0] - proj[:, 0], seg[:, 1] - proj[:, 1])
    idx = int(np.argmax(d))
    if d[idx] <= 0:
        return 0.0, i0
    return float(d[idx]), i0 + idx


class ExplainedPair:
    """Segments + approximate distances for one series pair (every
    approx type and split strategy the reference implements, under its
    local tolerance criterion; see module docstring)."""

    SUPPORTED_APPROX_TYPES = ("max_factor", "max_diff",
                              "max_factor_and_diff", "max_factor_loose",
                              "max_dist", "max_index")
    SUPPORTED_SPLIT_STRATEGIES = ("spatialdist", "pathdiff", "deriv",
                                  "derivdist")

    def __init__(self, series_from, series_to, delta_rel: float = 1.0,
                 delta_abs: float = 0.1, approx_prune: bool = True,
                 onlychanges=None,
                 approx_type: str = "max_factor_and_diff",
                 split_strategy: str = "spatialdist",
                 settings: DtwSettings | None = None, path=None):
        self.sf = np.asarray(series_from, dtype=np.float64)
        self.st = np.asarray(series_to, dtype=np.float64)
        self.delta_rel = float(delta_rel)
        self.delta_abs = float(delta_abs)
        self.approx_prune = approx_prune
        if approx_type not in self.SUPPORTED_APPROX_TYPES:
            raise NotImplementedError(
                f"approx_type {approx_type!r} not supported (see module "
                f"docstring; supported: {self.SUPPORTED_APPROX_TYPES})")
        self.approx_type = approx_type
        if split_strategy not in self.SUPPORTED_SPLIT_STRATEGIES:
            raise NotImplementedError(
                f"split_strategy {split_strategy!r} not supported "
                f"(supported: {self.SUPPORTED_SPLIT_STRATEGIES})")
        self.split_strategy = split_strategy
        self.settings = settings or DtwSettings()
        if path is None:
            path = warping_path(self.sf, self.st, settings=self.settings)
        self.path = [(int(i), int(j)) for i, j in path]
        self._points = np.asarray(self.path, dtype=np.int64)
        if approx_type == "max_index":
            # epsilon-spatial RDP directly over the path (reference
            # path_to_segments' max_index branch, explainpair.py:436):
            # no SSM tolerance, no merge pass; delta_abs is the epsilon
            self.line2, self._lidxs = rdp_epsilon(self._points,
                                                  self.delta_abs)
        else:
            self.line2, self._lidxs = self._rdp_ssm(self._points)
        self.segments = self._segments_from_line(onlychanges)

    # -- tolerance criterion factors, per approximation type (reference
    # compute_tolerance_criterion_factors, explainpair.py:725; inner
    # distance is squared euclidean, so cost2dist = sqrt and dist2cost
    # = square) --

    def _ub_m(self, ccost: float) -> float:
        """Relative factor shared by the max_factor* types; the
        reference guards 0/0 with try/except ZeroDivisionError."""
        c = math.sqrt(ccost) * self.delta_rel  # cost2dist then scale
        try:
            return (c * c) / ccost             # dist2cost / ccost
        except ZeroDivisionError:
            return 0.0

    def _tolerance_factors(self, ccost: float, length: int):
        at = self.approx_type
        if at == "max_factor":
            return self._ub_m(ccost), 0.0
        if at == "max_factor_loose":
            ub_a = ((math.sqrt(ccost)
                     * (1 + self.delta_rel * self.delta_abs)) ** 2
                    - ccost) / length
            return self._ub_m(ccost), ub_a
        if at == "max_diff":
            ub_a = ((math.sqrt(ccost) + self.delta_abs) ** 2
                    - ccost) / length
            return 0.0, ub_a
        if at == "max_dist":
            return 0.0, (self.delta_abs ** 2 - ccost) / length
        # max_factor_and_diff (default)
        ub_m = 0.0 if ccost == 0.0 else self._ub_m(ccost)
        ub_a = ((math.sqrt(ccost) + self.delta_abs) ** 2 - ccost) / length
        return ub_m, ub_a

    # -- top-down RDP over the SSM (explainpair.py:478) --

    def _rdp_ssm(self, points: np.ndarray) -> np.ndarray:
        sf, st = self.sf, self.st
        n = len(points)
        diffs = sf[points[:, 0]] - st[points[:, 1]]
        ccostv = np.add.accumulate(diffs * diffs)  # sequential, as ref
        ccost_o = float(ccostv[-1])
        ub_m, ub_a = self._tolerance_factors(ccost_o, n)

        if self.split_strategy == "pathdiff":
            def split_selection(pts, a, b):
                return _max_change_in_path(sf, st, pts, a, b)
        elif self.split_strategy == "deriv":
            ders2 = _path_derivs(sf, st, points, order=2)

            def split_selection(pts, a, b):
                return _max_2ndderiv_in_path(ders2, pts, a, b)
        elif self.split_strategy == "derivdist":
            ders1 = _path_derivs(sf, st, points, order=1)
            ders2 = _path_derivs(sf, st, points, order=2)

            def split_selection(pts, a, b):
                return _max_2ndderiv_deviation(ders1, ders2, pts, a, b)
        else:
            split_selection = _max_deviation_from_line

        queue = deque([(0, n - 1)])
        result = set()
        while queue:
            i0, i1 = queue.popleft()
            if i1 - i0 <= 1:
                result.add(i0)
                result.add(i1)
                continue
            p0, p1 = points[i0], points[i1]
            ccostp_o = float(ccostv[i1] - ccostv[i0])
            lenp_o = i1 - i0
            ccostp_a, _ = _bres_cost(sf, st, p0, p1,
                                     include_begin=False, include_end=True)
            if ccostp_a <= max(ccostp_o + lenp_o * ub_a,
                               ccostp_o * (1 + ub_m)):
                result.add(i0)
                result.add(i1)
            else:
                _, idxmax = split_selection(points, i0, i1)
                if idxmax == i0:
                    idxmax = i0 + 1
                queue.append((i0, idxmax))
                queue.append((idxmax, i1))

        idxs = sorted(result)
        if self.approx_prune:
            idxs = self._merge_segments(points, idxs, ccostv, ub_m, ub_a)
        return points[np.asarray(idxs, dtype=np.int64)], list(idxs)

    # -- bottom-up merge pass (explainpair.py:610), per-segment
    # criterion --

    def _merge_segments(self, points, idxs: List[int], ccostv,
                        ub_m: float, ub_a: float) -> List[int]:
        sf, st = self.sf, self.st
        kept = sorted(idxs)
        cache: dict = {}

        def line_cost(i0, i1):
            key = (i0, i1)
            if key not in cache:
                cache[key] = _bres_cost(sf, st, points[i0], points[i1],
                                        include_begin=False,
                                        include_end=True)[0]
            return cache[key]

        heap: list = []
        for a, b, c in zip(kept, kept[1:], kept[2:]):
            heappush(heap, (min(c - b, b - a), (a, b, c)))

        def _contains(x):
            i = bisect_left(kept, x)
            return i < len(kept) and kept[i] == x

        while heap:
            _, (i0, i1, i2) = heappop(heap)
            if not (_contains(i0) and _contains(i1) and _contains(i2)):
                continue
            c_02a = line_cost(i0, i2)
            ccostp_o = float(ccostv[i2] - ccostv[i0])
            lenp_o = i2 - i0
            if c_02a <= max(ccostp_o + lenp_o * ub_a,
                            ccostp_o * (1 + ub_m)):
                pos = bisect_left(kept, i0)
                if pos > 0:
                    i_n = kept[pos - 1]
                    heappush(heap, (min(i0 - i_n, i2 - i0), (i_n, i0, i2)))
                pos2 = bisect_right(kept, i2)
                if pos2 < len(kept):
                    i_n = kept[pos2]
                    heappush(heap, (min(i2 - i0, i_n - i2), (i0, i2, i_n)))
                kept.remove(i1)
        return kept

    # -- segments (explainpair.py:426) --

    def _segments_from_line(self, onlychanges):
        lidxs = self._lidxs
        segments = []
        for k in range(len(self.line2) - 1):
            bp, ep = self.line2[k], self.line2[k + 1]
            dx = int(ep[0] - bp[0])
            dy = int(ep[1] - bp[1])
            a = math.pi / 2 if dx == 0 else float(np.arctan(dy / dx))
            shift = round((bp[1] + ep[1]) / 2 - (bp[0] + ep[0]) / 2)
            elasticity = dy - dx
            if (onlychanges is None or abs(shift) >= onlychanges
                    or abs(elasticity) >= onlychanges):
                segments.append({
                    "s_idx_p": lidxs[k], "e_idx_p": lidxs[k + 1],
                    "s_idx": int(bp[0]), "e_idx": int(ep[0]),
                    "s_idx_y": int(bp[1]), "e_idx_y": int(ep[1]),
                    "angle": a, "shift": int(shift),
                    "elasticity": int(elasticity),
                })
        return segments

    # -- distances (explainpair.py:1066/1089) --

    def distance(self, per_segment: bool = False):
        sf, st, path = self.sf, self.st, self.path
        dist = 0.0
        dists = []
        for seg in self.segments:
            d = 0.0
            for i_p in range(seg["s_idx_p"], seg["e_idx_p"]):
                i, j = path[i_p]
                d += _inner(sf[i], st[j])
            dist += d
            dists.append(d)
        i, j = path[self.segments[-1]["e_idx_p"]]
        idist = _inner(sf[i], st[j])
        dists.append(idist)
        dist = math.sqrt(dist + idist)
        return (dist, dists) if per_segment else dist

    def distance_approx(self, per_segment: bool = False):
        sf, st = self.sf, self.st
        dist = 0.0
        dists = []
        for seg in self.segments:
            i_f, i_fe = seg["s_idx"], seg["e_idx"]
            i_t, i_te = seg["s_idx_y"], seg["e_idx_y"]
            d_f = i_fe - i_f
            d_t = i_t - i_te
            error = d_f + d_t
            d = 0.0
            while True:
                if i_f == i_fe and i_t == i_te:
                    break  # last point overlaps the next segment
                d += _inner(sf[i_f], st[i_t])
                e2 = 2 * error
                if e2 >= d_t:
                    error += d_t
                    i_f += 1
                if e2 <= d_f:
                    error += d_f
                    i_t += 1
            dist += d
            dists.append(d)
        last = self.segments[-1]
        idist = _inner(sf[last["e_idx"]], st[last["e_idx_y"]])
        dists.append(idist)
        dist = math.sqrt(dist + idist)
        return (dist, dists) if per_segment else dist

    def segment_rows(self):
        """Flat tuples for the distributed operator: one row per
        segment, with the segment's approximated distance share."""
        _, dists = self.distance_approx(per_segment=True)
        rows = []
        for k, seg in enumerate(self.segments):
            rows.append((k, seg["s_idx_p"], seg["e_idx_p"], seg["s_idx"],
                         seg["e_idx"], seg["s_idx_y"], seg["e_idx_y"],
                         round(seg["angle"], 9), seg["shift"],
                         seg["elasticity"], round(dists[k], 9)))
        return rows


def _path_for(ep: "ExplainedPair", on_segments: bool):
    return ep.segments_to_path() if on_segments else ep.path


def segments_to_path(ep: "ExplainedPair"):
    """Piece-wise linearized (DSW) path from the segments — the
    reference's segments_to_path (explainpair.py:1137)."""
    path = []
    for seg in ep.segments:
        d_f = seg["e_idx"] - seg["s_idx"]
        d_t = -(seg["e_idx_y"] - seg["s_idx_y"])
        error = d_f + d_t
        i_f, i_fe = seg["s_idx"], seg["e_idx"]
        i_t, i_te = seg["s_idx_y"], seg["e_idx_y"]
        while True:
            if i_f == i_fe and i_t == i_te:
                break
            path.append((i_f, i_t))
            e2 = 2 * error
            if e2 >= d_t:
                error += d_t
                i_f += 1
            if e2 <= d_f:
                error += d_f
                i_t += 1
    last = ep.segments[-1]
    path.append((last["e_idx"], last["e_idx_y"]))
    return path


def get_variations(ep: "ExplainedPair", on_segments: bool = False):
    """Per-from-index amplitude variations (max downward / upward
    difference of the matched points) — explainpair.py:1235."""
    path = _path_for(ep, on_segments)
    out = np.zeros((len(ep.sf), 2))
    for fi, ti in path:
        v = ep.st[ti] - ep.sf[fi]
        if v <= 0 and -v > out[fi, 0]:
            out[fi, 0] = -v
        if v >= 0 and v > out[fi, 1]:
            out[fi, 1] = v
    return out


def get_bounds(ep: "ExplainedPair", on_segments: bool = False):
    """Per-from-index amplitude bounds (-min / max matched difference)
    — explainpair.py:1260."""
    path = _path_for(ep, on_segments)
    lo = np.full(len(ep.sf), np.inf)
    hi = np.full(len(ep.sf), -np.inf)
    touched = np.zeros(len(ep.sf), dtype=bool)
    for fi, ti in path:
        v = ep.st[ti] - ep.sf[fi]
        touched[fi] = True
        lo[fi] = min(lo[fi], v)
        hi[fi] = max(hi[fi], v)
    out = np.zeros((len(ep.sf), 2))
    out[touched, 0] = -lo[touched]
    out[touched, 1] = hi[touched]
    return out


ExplainedPair.segments_to_path = segments_to_path
ExplainedPair.variations = get_variations
ExplainedPair.bounds = get_bounds
