"""Scalar textbook DTW, written from the recurrence — the test oracle when
the reference package is not importable.

    D[0][0] = 0,  D[i][j] = (a_i - b_j)^2
                            + min(D[i-1][j-1], D[i-1][j] + p, D[i][j-1] + p)

over the Sakoe-Chiba band ``max(1, i - max(0, r-c) - w + 1) <= j <=
min(c, i - 1 + max(0, c-r) + w)``; ``p`` is the squared penalty.  ``psi``
relaxes the start (``D[i][0] = 0`` for ``i <= b1``, ``D[0][j] = 0`` for
``j <= b2``) and the end (the minimum over the last ``e1`` rows of the
last column and the last ``e2`` columns of the last row).  The result is
``sqrt(D[r][c])``, or inf when it exceeds ``max_dist``.  The call surface
(``distance``, ``distance_matrix``, ``distance_array_index``) mirrors the
reference's ``dtaidistance.dtw`` for the options the tests use.
"""

import math

import numpy as np

INF = float("inf")


def distance(s1, s2, window=None, psi=None, max_dist=None, penalty=None):
    a, b = [float(x) for x in s1], [float(x) for x in s2]
    r, c = len(a), len(b)
    w = window if window else max(r, c)
    b1, e1, b2, e2 = (psi,) * 4 if isinstance(psi, int) else psi or (0,) * 4
    p = penalty * penalty if penalty else 0.0
    D = [[INF] * (c + 1) for _ in range(r + 1)]
    for i in range(b1 + 1):
        D[i][0] = 0.0
    for j in range(b2 + 1):
        D[0][j] = 0.0
    for i in range(1, r + 1):
        lo = max(1, i - max(0, r - c) - w + 1)
        hi = min(c, i - 1 + max(0, c - r) + w)
        for j in range(lo, hi + 1):
            D[i][j] = (a[i - 1] - b[j - 1]) ** 2 + min(
                D[i - 1][j - 1], D[i - 1][j] + p, D[i][j - 1] + p)
    d = D[r][c]
    if e1:
        d = min([d] + [D[r - k][c] for k in range(e1 + 1)])
    if e2:
        d = min([d] + [D[r][c - k] for k in range(e2 + 1)])
    if max_dist and d > max_dist * max_dist:
        return INF
    return math.sqrt(d)


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
