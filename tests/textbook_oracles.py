"""Textbook stand-ins for the reference modules other than
``dtaidistance.dtw`` (that one is tests/textbook_dtw.py), for hosts where
the reference package is not importable.

Each is written from its documented recurrence and imports nothing from
the engine.  ``MODULES`` maps a reference module name to a namespace with
the reference's call surface for the calls the tests make; the
``oracle`` fixture in tests/conftest.py hands it out.
"""

import math
from types import SimpleNamespace

import numpy as np

import textbook_dtw

INF = float("inf")


def dba(series, c, use_c=False):
    """One DTW Barycenter Averaging step: align every series to the
    center ``c`` and give each center index the mean of the values
    aligned to it.  ``use_c`` only mirrors the reference's signature."""
    buckets = [[] for _ in c]
    for s in series:
        for i, j in textbook_dtw.warping_path(c, s):
            buckets[i].append(float(s[j]))
    return np.array([sum(v) / len(v) if v else 0.0 for v in buckets])


def dp(s1, s2, fn, border=None):
    """Generic DP: ``fn(a, b) -> (match, indel)`` and

        S[i][j] = min(S[i-1][j-1] + match, S[i-1][j] + indel,
                      S[i][j-1] + indel),

    with row and column 0 from ``border(i, j)`` (inf without one) and
    S[0][0] = 0.  Returns ``(S[r][c], S)``: the reference's traceback
    matrix, its third item, is not modelled."""
    r, c = len(s1), len(s2)
    S = np.full((r + 1, c + 1), INF)
    if border:
        S[0, :] = [border(0, j) for j in range(c + 1)]
        S[:, 0] = [border(i, 0) for i in range(r + 1)]
    S[0, 0] = 0.0
    for i in range(1, r + 1):
        for j in range(1, c + 1):
            match, indel = fn(s1[i - 1], s2[j - 1])
            S[i, j] = min(S[i - 1, j - 1] + match, S[i - 1, j] + indel,
                          S[i, j - 1] + indel)
    return S[r, c], S


def needleman_wunsch(s1, s2):
    """Needleman–Wunsch as a minimum edit: match -1, mismatch and indel
    +1, border i + j; value and scores are negated (higher is better).
    The third item, the reference's traceback matrix, is None."""
    value, S = dp(s1, s2, lambda a, b: (-1.0 if a == b else 1.0, 1.0),
                  border=lambda i, j: float(i + j))
    return -value, -S, None


def msm_distance(x, y, c=0.1):
    """Move-Split-Merge (Stefan, Athitsos & Das, TKDE 2013):

        C(1,1) = |x1 - y1|
        C(i,1) = C(i-1,1) + cost(xi, x(i-1), y1)
        C(1,j) = C(1,j-1) + cost(yj, x1, y(j-1))
        C(i,j) = min(C(i-1,j-1) + |xi - yj|,
                     C(i-1,j) + cost(xi, x(i-1), yj),
                     C(i,j-1) + cost(yj, xi, y(j-1)))

    where a split/merge costs ``c``, plus the distance to the nearer
    neighbour when the new point is not between the two."""
    def cost(new, a, b):
        if a <= new <= b or a >= new >= b:
            return c
        return c + min(abs(new - a), abs(new - b))

    x, y = [float(v) for v in x], [float(v) for v in y]
    m, n = len(x), len(y)
    C = [[INF] * n for _ in range(m)]
    C[0][0] = abs(x[0] - y[0])
    for i in range(1, m):
        C[i][0] = C[i - 1][0] + cost(x[i], x[i - 1], y[0])
    for j in range(1, n):
        C[0][j] = C[0][j - 1] + cost(y[j], x[0], y[j - 1])
    for i in range(1, m):
        for j in range(1, n):
            C[i][j] = min(C[i - 1][j - 1] + abs(x[i] - y[j]),
                          C[i - 1][j] + cost(x[i], x[i - 1], y[j]),
                          C[i][j - 1] + cost(y[j], x[i], y[j - 1]))
    return C[m - 1][n - 1]


def unweighted_warping_paths(s1, s2, weights):
    """Weighted DTW without a weight profile: the plain warping-paths
    matrix, with the distance read at cell [l1-1, l2-1] as the weighted
    module does.  A weight profile has no textbook form: it raises."""
    if weights is not None:
        raise ValueError("the textbook oracle has no weight profile")
    _, M = textbook_dtw.warping_paths(s1, s2)
    return float(M[len(s1) - 1, len(s2) - 1]), M


def derivative(s):
    """Keogh's derivative ((q_i - q_(i-1)) + (q_(i+1) - q_(i-1)) / 2) / 2,
    with one-sided differences at both ends."""
    q = [float(v) for v in s]
    inner = [((q[i] - q[i - 1]) + (q[i + 1] - q[i - 1]) / 2) / 2
             for i in range(1, len(q) - 1)]
    return np.array([q[1] - q[0]] + inner + [q[-1] - q[-2]])


def logdomain(s):
    """sign(x) · log(1 + |x|)."""
    return np.array([math.copysign(math.log1p(abs(float(x))), x) for x in s])


class SubsequenceAlignment:
    """A query aligned anywhere in a longer series: DTW with the series'
    start and end free (``psi=(0, 0, len(series), len(series))``).  The
    matching function is the root of the last row, one value per series
    end point, divided by ``len(query)``."""

    def __init__(self, query, series, penalty=0.1):
        n = len(series)
        self.last_row = textbook_dtw.accumulated_costs(
            query, series, psi=(0, 0, n, n), penalty=penalty)[-1][1:]
        self.qlen = len(query)

    def matching_function(self):
        return np.sqrt(self.last_row) / self.qlen


MODULES = {
    "dtw": textbook_dtw,
    "ed": SimpleNamespace(distance=textbook_dtw.ub_euclidean),
    "dtw_ndim": SimpleNamespace(distance=textbook_dtw.distance),
    "dtw_barycenter": SimpleNamespace(dba=dba),
    "dp": SimpleNamespace(dp=dp),
    "msm": SimpleNamespace(distance=msm_distance),
    "dtw_weighted": SimpleNamespace(warping_paths=unweighted_warping_paths),
    "preprocessing": SimpleNamespace(derivative=derivative,
                                     logdomain=logdomain),
    "alignment": SimpleNamespace(needleman_wunsch=needleman_wunsch),
    "subsequence": SimpleNamespace(subsequence_alignment=SubsequenceAlignment),
}
