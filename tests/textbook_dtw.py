"""Scalar textbook DTW, written from the recurrence — the test oracle when
the reference package is not importable.

    D[0][0] = 0,  D[i][j] = cost(a_i, b_j)
                            + min(D[i-1][j-1], D[i-1][j] + p, D[i][j-1] + p)

over the Sakoe-Chiba band ``max(1, i - max(0, r-c) - w + 1) <= j <=
min(c, i - 1 + max(0, c-r) + w)``; ``p`` is the squared penalty and
``cost`` the squared difference, summed over the dimensions of an n-D
point (dependent DTW).  A cell whose cost exceeds ``max_step²`` is
skipped (stays inf).  ``psi`` relaxes the start (``D[i][0] = 0`` for
``i <= b1``, ``D[0][j] = 0`` for ``j <= b2``) and the end (the minimum
over the last ``e1`` rows of the last column and the last ``e2`` columns
of the last row).  The result is ``sqrt(D[r][c])``; inf when it exceeds
``max_dist`` (``use_pruning`` sets ``max_dist`` to the Euclidean upper
bound) or when the lengths differ by more than ``max_length_diff``.

Beside the distance, the module has the warping-paths matrix, the two
tracebacks, ``warp``, the Euclidean upper bound and LB_Keogh.  The call
surface mirrors the reference's ``dtaidistance.dtw`` for the options the
tests use.
"""

import math

import numpy as np

INF = float("inf")


def _points(s):
    """A series as a list of float tuples (one per time step), 1-D or n-D."""
    return [tuple(float(v) for v in np.atleast_1d(x)) for x in s]


def _cost(x, y):
    return sum((p - q) ** 2 for p, q in zip(x, y))


def _split_psi(psi):
    if isinstance(psi, int):
        return (psi,) * 4
    return tuple(psi) if psi else (0,) * 4


def accumulated_costs(s1, s2, window=None, psi=None, penalty=None,
                      max_step=None):
    """The full (r+1) × (c+1) accumulated-cost matrix D (squared domain)."""
    a, b = _points(s1), _points(s2)
    r, c = len(a), len(b)
    w = window if window else max(r, c)
    b1, _, b2, _ = _split_psi(psi)
    p = penalty * penalty if penalty else 0.0
    step = max_step * max_step if max_step else INF
    D = [[INF] * (c + 1) for _ in range(r + 1)]
    for i in range(b1 + 1):
        D[i][0] = 0.0
    for j in range(b2 + 1):
        D[0][j] = 0.0
    for i in range(1, r + 1):
        lo = max(1, i - max(0, r - c) - w + 1)
        hi = min(c, i - 1 + max(0, c - r) + w)
        for j in range(lo, hi + 1):
            d = _cost(a[i - 1], b[j - 1])
            if d > step:
                continue
            D[i][j] = d + min(D[i - 1][j - 1], D[i - 1][j] + p,
                              D[i][j - 1] + p)
    return D


def _end_candidates(M, e1, e2):
    """The psi end cells, nearest the corner first: last-column rows
    r, r-1, .., max(1, r-e1) and last-row columns c, c-1, ..,
    max(1, c-e2)."""
    r, c = len(M) - 1, len(M[0]) - 1
    col = [M[r - k][c] for k in range(min(e1, r - 1) + 1)] if e1 else []
    row = [M[r][c - k] for k in range(min(e2, c - 1) + 1)] if e2 else []
    return col, row


def ub_euclidean(s1, s2):
    """Euclidean distance; for unequal lengths the last point of the
    shorter series is compared with each remaining point of the longer
    one (the diagonal-then-straight warping path, a DTW upper bound)."""
    a, b = _points(s1), _points(s2)
    n = min(len(a), len(b))
    tail = a[n:] if len(a) > n else b[n:]
    last = b[n - 1] if len(a) > n else a[n - 1]
    return math.sqrt(sum(_cost(x, y) for x, y in zip(a, b))
                     + sum(_cost(x, last) for x in tail))


def distance(s1, s2, window=None, psi=None, max_dist=None, penalty=None,
             max_step=None, max_length_diff=None, use_pruning=False):
    if max_length_diff is not None and abs(len(s1) - len(s2)) > max_length_diff:
        return INF
    if use_pruning and not max_dist:
        max_dist = ub_euclidean(s1, s2)
    D = accumulated_costs(s1, s2, window, psi, penalty, max_step)
    _, e1, _, e2 = _split_psi(psi)
    col, row = _end_candidates(D, e1, e2)
    d = min([D[-1][-1]] + col + row)
    if max_dist and d > max_dist * max_dist:
        return INF
    return math.sqrt(d)


def warping_paths(s1, s2, psi=None, **opts):
    """``(d, M)``: M is sqrt(D) as an (r+1, c+1) array.  Under a psi end
    relaxation d is the smallest end cell — the last column's wins only
    when strictly smaller than the last row's, and within one side the
    one nearest the corner wins ties — and the cells between that end
    and the corner are set to the sentinel -1."""
    M = np.sqrt(np.array(accumulated_costs(s1, s2, psi=psi, **opts)))
    r, c = M.shape[0] - 1, M.shape[1] - 1
    _, e1, _, e2 = _split_psi(psi)
    if not e1 and not e2:
        return float(M[r, c]), M
    col, row = _end_candidates(M, e1, e2)
    kc = int(np.argmin(col)) if col else 0
    kr = int(np.argmin(row)) if row else 0
    if col and (not row or col[kc] < row[kr]):
        M[r - kc + 1:, c] = -1
        return float(col[kc]), M
    M[r, c - kr + 1:] = -1
    return float(row[kr]), M


def best_path(paths):
    """Traceback from the corner: step to the argmin of (diagonal, up,
    left), ties in that order, until row or column 0.  Path cells are
    0-based series indices; sentinel (-1) cells are stepped over without
    being recorded."""
    i, j = paths.shape[0] - 1, paths.shape[1] - 1
    path = [(i - 1, j - 1)] if paths[i, j] != -1 else []
    while i > 0 and j > 0:
        steps = [(i - 1, j - 1), (i - 1, j), (i, j - 1)]
        i, j = steps[int(np.argmin([paths[s] for s in steps]))]
        if paths[i, j] != -1:
            path.append((i - 1, j - 1))
    return path[-2::-1]


def best_path2(paths):
    """Traceback that scans diagonal, up, left and takes each one whose
    value is ``<=`` the smallest seen so far (starting from the current
    cell's value, a sentinel read as inf), so the last of tied
    candidates wins."""
    i, j = paths.shape[0] - 1, paths.shape[1] - 1
    v = paths[i, j]
    path = [(i - 1, j - 1)] if v != -1 else []
    while i > 0 and j > 0:
        if v == -1:
            v = INF
        nxt = (i, j)
        for s in [(i - 1, j - 1), (i - 1, j), (i, j - 1)]:
            if paths[s] <= v:
                nxt, v = s, paths[s]
        i, j = nxt
        if v != -1:
            path.append((i - 1, j - 1))
    return path[-2::-1]


def warping_path(from_s, to_s, **opts):
    return best_path(warping_paths(from_s, to_s, **opts)[1])


def warp(from_s, to_s, path=None, **opts):
    """``from_s`` on the time axis of ``to_s``: each to-index gets the
    mean of the from-values the path maps to it."""
    if path is None:
        path = warping_path(from_s, to_s, **opts)
    buckets = [[] for _ in to_s]
    for i, j in path:
        buckets[j].append(float(from_s[i]))
    return np.array([sum(v) / len(v) if v else 0.0 for v in buckets]), path


def lb_keogh(s1, s2, window=None):
    """LB_Keogh: the envelope of ``s2`` at index i spans
    s2[max(0, i - max(0, l1-l2) - w + 1) : min(l2, i + max(0, l2-l1) + w)]
    (w = ``window``, default the longer length); the lower bound is the
    root of the summed squared excess of ``s1`` outside it."""
    l1, l2 = len(s1), len(s2)
    w = window if window else max(l1, l2)
    total = 0.0
    for i in range(l1):
        env = [float(v) for v in
               s2[max(0, i - max(0, l1 - l2) - w + 1):
                  min(l2, i + max(0, l2 - l1) + w)]]
        x = float(s1[i])
        excess = max(x - max(env), min(env) - x, 0.0)
        total += excess * excess
    return math.sqrt(total)


def distance_array_index(a, b, n):
    """Row-major position of pair (min, max) among the n(n-1)/2 pairs."""
    a, b = min(a, b), max(a, b)
    return sum(n - r - 1 for r in range(a)) + b - a - 1


def distance_matrix(series, compact=False, block=None, only_triu=False,
                    **opts):
    """All pairs r < c (inside ``block=((rb, re), (cb, ce))`` when given):
    the condensed row-major array when ``compact``, else an n×n matrix —
    inf off the computed pairs, mirrored with a zero diagonal unless
    ``only_triu``."""
    n = len(series)
    (rb, re_), (cb, ce) = block if block else ((0, n), (0, n))
    pairs = [(r, c) for r in range(rb, re_)
             for c in range(max(r + 1, cb), min(ce, n))]
    d = [distance(series[r], series[c], **opts) for r, c in pairs]
    if compact:
        return np.asarray(d)
    m = np.full((n, n), INF)
    for (r, c), v in zip(pairs, d):
        m[r, c] = v
        if not only_triu:
            m[c, r] = v
    if not only_triu:
        np.fill_diagonal(m, 0.0)
    return m
