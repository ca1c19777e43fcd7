/* Banded DTW distance kernel for 1-D and n-D series.
 *
 * An anti-diagonal dynamic program with the per-cell IEEE operation
 * sequence of kernels/dtw.py::_dtw_batch_core (cost, max_step mask,
 * min(up, left), min(., diag), add cost) and the same boundary and psi
 * handling, so results are bit-identical to that numpy loop (asserted
 * in tests/test_dtw_c_kernel.py).  One pass over each anti-diagonal,
 * with the band slice L1-resident and the inner loop vectorizable
 * (cells on one anti-diagonal are independent; the reversed-y trick
 * makes every access contiguous).
 *
 * A point has `dim` float64 values.  The n-D cell cost sums the squared
 * per-dimension differences in ascending k (the dependent n-D distance;
 * sqrt of that sum for the euclidean inner distance).  Layout: X1 is
 * (B, r, dim) row-major, X2 is (B, c, dim) row-major, out is (B,).
 * Distances are returned in the INTERNAL domain (no sqrt, no max_dist
 * mask); the Python wrapper applies s.result()/max_dist exactly as the
 * numpy path does.
 *
 * Lanes.  One DP body, dtw_lanes, runs `lanes` pairs of one shape at
 * once, their cells interleaved so that cell i of every pair is one
 * contiguous vector.  It is instantiated three times: one 1-D pair, one
 * n-D pair, and LANES = 8 1-D pairs (one 512-bit vector per cell).  In
 * a narrow band a single pair's anti-diagonal is too short to fill
 * vectors well, and the per-diagonal bookkeeping is paid once per eight
 * pairs; every lane still runs the per-cell sequence above, so results
 * stay bit-identical.  dtw_batch_idx, the all-pairs matrix's entry,
 * runs its pairs eight at a time and pads the last group with the
 * batch's last pair.  Its scratch is 64-byte aligned: from malloc's
 * 16-byte alignment every lane vector could straddle two cache lines,
 * and the lanes ran at 8.8 or 17 us per pair at window 64 depending on
 * where the heap put the scratch.  The lanes' working set is about
 * 5 * band * 64 bytes per anti-diagonal (three diagonals, x and
 * reversed y), so past the L1 cache they lose.  Single-thread, 2,000
 * pairs of 504 points, against one pair at a time (48 KB L1d Xeon,
 * gcc 12, alternating runs in one process), the lanes ran 1.9x faster
 * at window 1, 2.2-3.5x at windows 2-24, 1.8-2.0x at 64-128, 1.5x at
 * 160, 1.1-1.6x at 168-192, and 0.9x from 200 up to 504.  So a band
 * wider than LANE_MAX_WINDOW = 160 runs one pair at a time.
 *
 * Single-threaded by design: Spark's task-level parallelism already
 * saturates the host; threads here would only oversubscribe (same
 * reasoning as the OPENBLAS_NUM_THREADS=1 pin in session.py).
 */

#include <math.h>
#include <stdlib.h>
#include <string.h>

#define INF INFINITY

/* Pairs per vector in dtw_batch_idx, and the widest band it runs them
 * in (the header gives the measured crossover) */
#define LANES 8
#define LANE_MAX_WINDOW 160

static inline long max2l(long a, long b) { return a > b ? a : b; }
static inline long min2l(long a, long b) { return a < b ? a : b; }
static inline double min2d(double a, double b) { return a < b ? a : b; }

/* ceil(v / 2) for possibly-negative v (mirrors python -(-v // 2)) */
static inline long ceil_half(long v)
{
    return v >= 0 ? (v + 1) / 2 : -((-v) / 2);
}

/* Local cost of points a and b, whose elements lie `stride` doubles
 * apart: |a - b| or (a - b)^2 at dim == 1, else the ascending-k sum of
 * squared differences (its sqrt if !squared). */
static inline __attribute__((always_inline)) double
cell_cost(const double *a, const double *b, long dim, long stride,
          int squared)
{
    double d = a[0] - b[0];
    double acc;
    long k;

    if (dim == 1)
        return squared ? d * d : fabs(d);
    acc = d * d;
    for (k = 1; k < dim; k++) {
        d = a[k * stride] - b[k * stride];
        acc += d * d;
    }
    return squared ? acc : sqrt(acc);
}

/* The DP body: `lanes` pairs of equal shape (r, c, dim), banded
 * anti-diagonal DP, lane-interleaved.  Element q of point k of lane l
 * is x[(k*dim + q)*lanes + l]; yr holds y REVERSED in the same layout,
 * and the diagonal buffers hold cell i of lane l at [i*lanes + l].
 * With lanes == 1 this is the plain one-pair layout and the vector
 * loop runs along the anti-diagonal; with lanes > 1 it runs across the
 * lanes, the same cell of every pair at once.  Either way each lane
 * runs the per-cell sequence above.  Scratch buffers come from the
 * batch driver (allocated once per call):
 *   b0, b1, b2: 3 rolling diagonal buffers, each (r+2)*lanes doubles
 *   lastcol: (psi1e+1)*lanes doubles (unused if psi1e == 0)
 *   lastrow: (psi2e+1)*lanes doubles (unused if psi2e == 0)
 * Writes the lanes' internal-domain distances to out[0..lanes). */
static inline __attribute__((always_inline)) void
dtw_lanes(const double *restrict x, const double *restrict yr,
          long r, long c, long dim, long lanes, long window,
          long psi1b, long psi1e, long psi2b, long psi2e,
          double pen, double max_step, int squared,
          double *restrict b0, double *restrict b1, double *restrict b2,
          double *restrict lastcol, double *restrict lastrow,
          double *restrict out)
{
    long M = max2l(0, r - c);
    long N = max2l(0, c - r);
    long T = r + c;
    long P = dim * lanes;           /* doubles per point position */
    long t, i, k, l;
    double *bufs[3] = {b0, b1, b2};
    double *D2, *D1, *cur;

    for (i = 0; i < (r + 2) * lanes; i++) {
        b0[i] = INF; b1[i] = INF; b2[i] = INF;
    }
    if (psi1e > 0)
        for (k = 0; k < (psi1e + 1) * lanes; k++) lastcol[k] = INF;
    if (psi2e > 0)
        for (k = 0; k < (psi2e + 1) * lanes; k++) lastrow[k] = INF;

    /* t = 0: cell (0,0); t = 1: cells (0,1) and (1,0) */
    D2 = bufs[0];
    D1 = bufs[1];
    for (l = 0; l < lanes; l++) {
        D2[l] = 0.0;
        if (c >= 1) D1[l] = (psi2b >= 1) ? 0.0 : INF;
        if (r >= 1) D1[lanes + l] = (psi1b >= 1) ? 0.0 : INF;
    }

    for (t = 2; t <= T; t++) {
        cur = bufs[t % 3];
        long v = t + 1 - N - window;
        long lo = max2l(max2l(1, t - c), ceil_half(v));
        long hi = min2l(min2l(r, t - 1), (t + M + window - 1) / 2);
        /* clear potentially-stale edge cells around the active range */
        if (lo - 1 >= 0)
            for (l = 0; l < lanes; l++) cur[(lo - 1) * lanes + l] = INF;
        if (hi + 1 <= r)
            for (l = 0; l < lanes; l++) cur[(hi + 1) * lanes + l] = INF;
        /* boundary cells, set only where the band reads them */
        if (t <= c && lo == 1) {
            double e = (t <= psi2b) ? 0.0 : INF;
            for (l = 0; l < lanes; l++) cur[l] = e;
        }
        if (t <= r && t == hi + 1) {
            double e = (t <= psi1b) ? 0.0 : INF;
            for (l = 0; l < lanes; l++) cur[t * lanes + l] = e;
        }
        if (lo <= hi) {
            /* cost index: point x[i-1], point y[t-i-1] == yr[c-t+i]
             * (contiguous), indexed from the base pointers: x - P and
             * yr + (c - t) * P would point outside their arrays */
            if (pen == 0.0 && max_step == INF) {
                if (squared) {
                    for (i = lo; i <= hi; i++)
                        for (l = 0; l < lanes; l++) {
                            double cost = cell_cost(
                                x + (i - 1) * P + l,
                                yr + (c - t + i) * P + l, dim, lanes, 1);
                            double m = min2d(D1[(i - 1) * lanes + l],
                                             D1[i * lanes + l]);
                            m = min2d(m, D2[(i - 1) * lanes + l]);
                            cur[i * lanes + l] = m + cost;
                        }
                } else {
                    for (i = lo; i <= hi; i++)
                        for (l = 0; l < lanes; l++) {
                            double cost = cell_cost(
                                x + (i - 1) * P + l,
                                yr + (c - t + i) * P + l, dim, lanes, 0);
                            double m = min2d(D1[(i - 1) * lanes + l],
                                             D1[i * lanes + l]);
                            m = min2d(m, D2[(i - 1) * lanes + l]);
                            cur[i * lanes + l] = m + cost;
                        }
                }
            } else {
                for (i = lo; i <= hi; i++)
                    for (l = 0; l < lanes; l++) {
                        double cost = cell_cost(
                            x + (i - 1) * P + l,
                            yr + (c - t + i) * P + l, dim, lanes, squared);
                        if (cost > max_step) cost = INF;
                        double m = min2d(D1[(i - 1) * lanes + l] + pen,
                                         D1[i * lanes + l] + pen);
                        m = min2d(m, D2[(i - 1) * lanes + l]);
                        cur[i * lanes + l] = m + cost;
                    }
            }
        }
        /* psi-end collectors */
        if (psi1e > 0) {
            long I = t - c;
            if (I >= max2l(1, r - psi1e) && I <= r)
                for (l = 0; l < lanes; l++)
                    lastcol[(I - (r - psi1e)) * lanes + l] =
                        (lo <= I && I <= hi) ? cur[I * lanes + l] : INF;
        }
        if (psi2e > 0) {
            long J = t - r;
            if (J >= max2l(1, c - psi2e) && J <= c)
                for (l = 0; l < lanes; l++)
                    lastrow[(J - (c - psi2e)) * lanes + l] =
                        (lo <= r && r <= hi) ? cur[r * lanes + l] : INF;
        }
        D2 = D1;
        D1 = cur;
    }

    /* D1 is the diagonal t == T (callers pass r, c >= 1, so T >= 2) */
    for (l = 0; l < lanes; l++) {
        double dmin = D1[r * lanes + l];
        if (psi2e > 0)
            for (k = 0; k <= psi2e; k++)
                dmin = min2d(dmin, lastrow[k * lanes + l]);
        if (psi1e > 0)
            for (k = 0; k <= psi1e; k++)
                dmin = min2d(dmin, lastcol[k * lanes + l]);
        out[l] = dmin;
    }
}

/* The body instantiated three times, each out of line: one 1-D pair,
 * one n-D pair (runtime dim), and LANES 1-D pairs.  Kept apart so the
 * 1-D loops compile as if dim did not exist: with the 1-D and n-D
 * bodies in one function, 400 pairs of 504 points at window 24 ran 9.5
 * instead of 8.5 us per 1-D pair, and with the n-D body inlined into
 * dtw_batch, 44 instead of 35 us per 2-D pair (4-vCPU AMD EPYC, gcc
 * 12).  The one-pair instances reverse y into yr themselves. */
static __attribute__((noinline)) double
dtw_one_1d(const double *restrict x, const double *restrict y,
           long r, long c, long window,
           long psi1b, long psi1e, long psi2b, long psi2e,
           double pen, double max_step, int squared,
           double *restrict b0, double *restrict b1,
           double *restrict b2, double *restrict yr,
           double *restrict lastcol, double *restrict lastrow)
{
    double d;
    long k;

    for (k = 0; k < c; k++)
        yr[k] = y[c - 1 - k];
    dtw_lanes(x, yr, r, c, 1, 1, window, psi1b, psi1e, psi2b, psi2e,
              pen, max_step, squared, b0, b1, b2, lastcol, lastrow, &d);
    return d;
}

/* ... for a runtime dim */
static __attribute__((noinline)) double
dtw_one_nd(const double *restrict x, const double *restrict y,
           long r, long c, long dim, long window,
           long psi1b, long psi1e, long psi2b, long psi2e,
           double pen, double max_step, int squared,
           double *restrict b0, double *restrict b1,
           double *restrict b2, double *restrict yr,
           double *restrict lastcol, double *restrict lastrow)
{
    double d;
    long k;

    for (k = 0; k < c; k++)
        memcpy(yr + k * dim, y + (c - 1 - k) * dim,
               (size_t)dim * sizeof(double));
    dtw_lanes(x, yr, r, c, dim, 1, window, psi1b, psi1e, psi2b, psi2e,
              pen, max_step, squared, b0, b1, b2, lastcol, lastrow, &d);
    return d;
}

/* ... and for LANES 1-D pairs at once, from lane-interleaved x and yr */
static __attribute__((noinline)) void
dtw_lanes_1d(const double *restrict x, const double *restrict yr,
             long r, long c, long window,
             long psi1b, long psi1e, long psi2b, long psi2e,
             double pen, double max_step, int squared,
             double *restrict b0, double *restrict b1, double *restrict b2,
             double *restrict lastcol, double *restrict lastrow,
             double *restrict out)
{
    dtw_lanes(x, yr, r, c, 1, LANES, window, psi1b, psi1e, psi2b, psi2e,
              pen, max_step, squared, b0, b1, b2, lastcol, lastrow, out);
}

/* Batch driver: B pairs of equal shape (r, c, dim).  Returns 0 on success,
 * -1 on allocation failure (caller falls back to numpy). */
int dtw_batch(const double *X1, const double *X2, long B, long r, long c,
              long dim, long window, long psi1b, long psi1e, long psi2b,
              long psi2e, double pen, double max_step, int squared,
              double *out)
{
    double *scratch;
    double *b0, *b1, *b2, *yr, *lastcol, *lastrow;
    long need = 3 * (r + 2) + c * dim + (psi1e + 1) + (psi2e + 1);
    long b;

    scratch = (double *)malloc((size_t)need * sizeof(double));
    if (scratch == NULL)
        return -1;
    b0 = scratch;
    b1 = b0 + (r + 2);
    b2 = b1 + (r + 2);
    yr = b2 + (r + 2);
    lastcol = yr + c * dim;
    lastrow = lastcol + (psi1e + 1);

    for (b = 0; b < B; b++) {
        if (dim == 1)
            out[b] = dtw_one_1d(X1 + b * r, X2 + b * c, r, c, window,
                                psi1b, psi1e, psi2b, psi2e,
                                pen, max_step, squared,
                                b0, b1, b2, yr, lastcol, lastrow);
        else
            out[b] = dtw_one_nd(X1 + b * r * dim, X2 + b * c * dim, r, c,
                                dim, window, psi1b, psi1e, psi2b, psi2e,
                                pen, max_step, squared,
                                b0, b1, b2, yr, lastcol, lastrow);
    }
    free(scratch);
    return 0;
}

/* Indexed batch driver over an equal-length 1-D corpus matrix: pair b is
 * (row ii[b], row jj[b]) of V, a (n, L) row-major matrix.  Avoids the
 * caller materializing per-batch X1/X2 stacks (the all-pairs job would
 * memcpy every series once per partner — ~2·L·8 bytes per pair).
 * Within the lane gate the pairs run LANES at a time: each group's rows
 * are copied lane-interleaved (y reversed) and the last group is padded
 * with the batch's last pair, whose extra results are dropped. */
int dtw_batch_idx(const double *V, long L, const long *ii, const long *jj,
                  long B, long window, long psi1b, long psi1e, long psi2b,
                  long psi2e, double pen, double max_step, int squared,
                  double *out)
{
    double *scratch;
    double *b0, *b1, *b2, *yr, *lastcol, *lastrow, *x;
    double d[LANES];
    long lanes = min2l(window, L) <= LANE_MAX_WINDOW ? LANES : 1;
    long need = (3 * (L + 2) + 2 * L + (psi1e + 1) + (psi2e + 1)) * lanes;
    long b, k, l;

    /* every buffer starts on a 64-byte line, so no lane vector straddles
     * two lines (from malloc's 16-byte alignment the lanes ran at about
     * half speed, depending on where the heap placed the scratch) */
    scratch = (double *)aligned_alloc(64, ((size_t)need * sizeof(double)
                                           + 63) / 64 * 64);
    if (scratch == NULL)
        return -1;
    b0 = scratch;
    b1 = b0 + (L + 2) * lanes;
    b2 = b1 + (L + 2) * lanes;
    yr = b2 + (L + 2) * lanes;
    x = yr + L * lanes;
    lastcol = x + L * lanes;
    lastrow = lastcol + (psi1e + 1) * lanes;

    if (lanes == 1) {
        for (b = 0; b < B; b++)
            out[b] = dtw_one_1d(V + ii[b] * L, V + jj[b] * L, L, L, window,
                                psi1b, psi1e, psi2b, psi2e,
                                pen, max_step, squared,
                                b0, b1, b2, yr, lastcol, lastrow);
    } else {
        for (b = 0; b < B; b += LANES) {
            for (l = 0; l < LANES; l++) {
                long p = min2l(b + l, B - 1);
                const double *xs = V + ii[p] * L;
                const double *ys = V + jj[p] * L + (L - 1);
                for (k = 0; k < L; k++) {
                    x[k * LANES + l] = xs[k];
                    yr[k * LANES + l] = ys[-k];
                }
            }
            dtw_lanes_1d(x, yr, L, L, window, psi1b, psi1e, psi2b, psi2e,
                         pen, max_step, squared, b0, b1, b2, lastcol,
                         lastrow, d);
            for (l = 0; l < LANES && b + l < B; l++)
                out[b + l] = d[l];
        }
    }
    free(scratch);
    return 0;
}
