/* Banded DTW distance kernel — C twin of kernels/dtw.py::_dtw_batch_banded.
 *
 * Same anti-diagonal dynamic program, same per-cell IEEE operation
 * sequence (diff, square/abs, max_step mask, min(up,left), min(.,diag),
 * add cost), same boundary/psi handling — so results are bit-identical
 * to the numpy path (asserted in tests/test_dtw_c_kernel.py).  The win
 * over numpy is pass fusion: one pass over each anti-diagonal instead
 * of five full-array numpy traversals, with the band slice L1-resident
 * and the inner loop trivially vectorizable (cells on one anti-diagonal
 * are independent; the reversed-y trick makes every access contiguous).
 *
 * 1-D series only (the n-D path stays in numpy).  Layout: X1 is (B, r)
 * row-major, X2 is (B, c) row-major, out is (B,) — all float64.
 * Distances are returned in the INTERNAL domain (no sqrt, no max_dist
 * mask); the Python wrapper applies s.result()/max_dist exactly as the
 * numpy path does.
 *
 * Single-threaded by design: Spark's task-level parallelism already
 * saturates the host; threads here would only oversubscribe (same
 * reasoning as the OPENBLAS_NUM_THREADS=1 pin in session.py).
 */

#include <math.h>
#include <stdlib.h>
#include <string.h>

#define INF INFINITY

static inline long max2l(long a, long b) { return a > b ? a : b; }
static inline long min2l(long a, long b) { return a < b ? a : b; }
static inline double min2d(double a, double b) { return a < b ? a : b; }

/* ceil(v / 2) for possibly-negative v (mirrors python -(-v // 2)) */
static inline long ceil_half(long v)
{
    return v >= 0 ? (v + 1) / 2 : -((-v) / 2);
}

/* One pair, banded anti-diagonal DP.  Scratch buffers are provided by
 * the batch driver (allocated once per call):
 *   bufs: 3 rolling diagonal buffers, each r+2 doubles
 *   yr:   reversed copy of y, c doubles
 *   lastcol: psi1e+1 doubles (unused if psi1e == 0)
 *   lastrow: psi2e+1 doubles (unused if psi2e == 0)
 */
static double dtw_one(const double *restrict x, const double *restrict y,
                      long r, long c, long window,
                      long psi1b, long psi1e, long psi2b, long psi2e,
                      double pen, double max_step, int squared,
                      double *restrict b0, double *restrict b1,
                      double *restrict b2, double *restrict yr,
                      double *restrict lastcol, double *restrict lastrow)
{
    long M = max2l(0, r - c);
    long N = max2l(0, c - r);
    long T = r + c;
    long t, i, k;
    double corner = INF;
    double *bufs[3] = {b0, b1, b2};
    double *D2, *D1, *cur;

    for (k = 0; k < c; k++)
        yr[k] = y[c - 1 - k];
    for (i = 0; i <= r + 1; i++) {
        b0[i] = INF; b1[i] = INF; b2[i] = INF;
    }
    if (psi1e > 0)
        for (k = 0; k <= psi1e; k++) lastcol[k] = INF;
    if (psi2e > 0)
        for (k = 0; k <= psi2e; k++) lastrow[k] = INF;

    /* t = 0: cell (0,0); t = 1: cells (0,1) and (1,0) */
    D2 = bufs[0];
    D1 = bufs[1];
    D2[0] = 0.0;
    if (c >= 1) D1[0] = (psi2b >= 1) ? 0.0 : INF;
    if (r >= 1) D1[1] = (psi1b >= 1) ? 0.0 : INF;

    for (t = 2; t <= T; t++) {
        cur = bufs[t % 3];
        long v = t + 1 - N - window;
        long lo = max2l(max2l(1, t - c), ceil_half(v));
        long hi = min2l(min2l(r, t - 1), (t + M + window - 1) / 2);
        /* clear potentially-stale edge cells around the active range */
        if (lo - 1 >= 0) cur[lo - 1] = INF;
        if (hi + 1 <= r) cur[hi + 1] = INF;
        /* boundary cells (same guards as the banded numpy path) */
        if (t <= c && lo == 1) cur[0] = (t <= psi2b) ? 0.0 : INF;
        if (t <= r && t == hi + 1) cur[t] = (t <= psi1b) ? 0.0 : INF;
        if (lo <= hi) {
            /* cost index: x[i-1], y[t-i-1] == yr[c-t+i] (contiguous),
             * indexed from the base pointers: x - 1 and yr + (c - t)
             * would point outside their arrays */
            if (pen == 0.0 && max_step == INF) {
                if (squared) {
                    for (i = lo; i <= hi; i++) {
                        double d = x[i - 1] - yr[c - t + i];
                        double cost = d * d;
                        double m = min2d(D1[i - 1], D1[i]);
                        m = min2d(m, D2[i - 1]);
                        cur[i] = m + cost;
                    }
                } else {
                    for (i = lo; i <= hi; i++) {
                        double d = x[i - 1] - yr[c - t + i];
                        double cost = fabs(d);
                        double m = min2d(D1[i - 1], D1[i]);
                        m = min2d(m, D2[i - 1]);
                        cur[i] = m + cost;
                    }
                }
            } else {
                for (i = lo; i <= hi; i++) {
                    double d = x[i - 1] - yr[c - t + i];
                    double cost = squared ? d * d : fabs(d);
                    if (cost > max_step) cost = INF;
                    double m = min2d(D1[i - 1] + pen, D1[i] + pen);
                    m = min2d(m, D2[i - 1]);
                    cur[i] = m + cost;
                }
            }
        }
        /* psi-end collectors */
        if (psi1e > 0) {
            long I = t - c;
            if (I >= max2l(1, r - psi1e) && I <= r)
                lastcol[I - (r - psi1e)] =
                    (lo <= I && I <= hi) ? cur[I] : INF;
        }
        if (psi2e > 0) {
            long J = t - r;
            if (J >= max2l(1, c - psi2e) && J <= c)
                lastrow[J - (c - psi2e)] =
                    (lo <= r && r <= hi) ? cur[r] : INF;
        }
        if (t == T) corner = cur[r];
        D2 = D1;
        D1 = cur;
    }

    if (psi1e == 0 && psi2e == 0)
        return corner;
    {
        double dmin = corner;
        if (psi2e > 0)
            for (k = 0; k <= psi2e; k++) dmin = min2d(dmin, lastrow[k]);
        if (psi1e > 0)
            for (k = 0; k <= psi1e; k++) dmin = min2d(dmin, lastcol[k]);
        return dmin;
    }
}

/* Batch driver: B pairs of equal shape (r, c).  Returns 0 on success,
 * -1 on allocation failure (caller falls back to numpy). */
int dtw_batch(const double *X1, const double *X2, long B, long r, long c,
              long window, long psi1b, long psi1e, long psi2b, long psi2e,
              double pen, double max_step, int squared, double *out)
{
    double *scratch;
    double *b0, *b1, *b2, *yr, *lastcol, *lastrow;
    long need = 3 * (r + 2) + c + (psi1e + 1) + (psi2e + 1);
    long b;

    scratch = (double *)malloc((size_t)need * sizeof(double));
    if (scratch == NULL)
        return -1;
    b0 = scratch;
    b1 = b0 + (r + 2);
    b2 = b1 + (r + 2);
    yr = b2 + (r + 2);
    lastcol = yr + c;
    lastrow = lastcol + (psi1e + 1);

    for (b = 0; b < B; b++) {
        out[b] = dtw_one(X1 + b * r, X2 + b * c, r, c, window,
                         psi1b, psi1e, psi2b, psi2e,
                         pen, max_step, squared,
                         b0, b1, b2, yr, lastcol, lastrow);
    }
    free(scratch);
    return 0;
}

/* Indexed batch driver over an equal-length corpus matrix: pair b is
 * (row ii[b], row jj[b]) of V, a (n, L) row-major matrix.  Avoids the
 * caller materializing per-batch X1/X2 stacks (the all-pairs job would
 * memcpy every series once per partner — ~2·L·8 bytes per pair). */
int dtw_batch_idx(const double *V, long L, const long *ii, const long *jj,
                  long B, long window, long psi1b, long psi1e, long psi2b,
                  long psi2e, double pen, double max_step, int squared,
                  double *out)
{
    double *scratch;
    double *b0, *b1, *b2, *yr, *lastcol, *lastrow;
    long need = 3 * (L + 2) + L + (psi1e + 1) + (psi2e + 1);
    long b;

    scratch = (double *)malloc((size_t)need * sizeof(double));
    if (scratch == NULL)
        return -1;
    b0 = scratch;
    b1 = b0 + (L + 2);
    b2 = b1 + (L + 2);
    yr = b2 + (L + 2);
    lastcol = yr + L;
    lastrow = lastcol + (psi1e + 1);

    for (b = 0; b < B; b++) {
        out[b] = dtw_one(V + ii[b] * L, V + jj[b] * L, L, L, window,
                         psi1b, psi1e, psi2b, psi2e,
                         pen, max_step, squared,
                         b0, b1, b2, yr, lastcol, lastrow);
    }
    free(scratch);
    return 0;
}
