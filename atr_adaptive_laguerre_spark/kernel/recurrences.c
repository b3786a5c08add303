/* The three per-step recurrences of the lockstep kernel, compiled.
 *
 * Each function runs over a C-contiguous (b, t) float64 slab, rows on
 * the outside: rows are independent, so every element sees the same
 * sequence of + - * / as in the NumPy loops of kernel/batched.py and
 * kernel/expander_batched.py, which step all rows in lockstep.  Built
 * with -O2 -ffp-contract=off and no fast-math (no FMA contraction, no
 * reassociation), so the results are IEEE-identical to those loops.
 * Each loop takes an optional carried initial state, so the streaming
 * steppers resume the same loops the batch runs from its zero state.
 */
#include <stdint.h>

/* C2: ATR as the incremental ring-buffer sum
 * tr_sum = (tr_sum + tr[i]) - tr[i-p], divided by the bars seen (< p)
 * or by p.  Each row resumes at column i0 from sums[r] (columns before
 * i0 are carried TR history, out is left unwritten there) and writes its
 * final sum back; sums == NULL starts every row at column i0 from 0. */
void atr_incremental(const double *tr, double *out,
                     int64_t b, int64_t t, int64_t p,
                     int64_t i0, double *sums)
{
    for (int64_t r = 0; r < b; r++) {
        const double *x = tr + r * t;
        double *y = out + r * t;
        double s = sums ? sums[r] : 0.0;
        for (int64_t i = i0; i < t; i++) {
            s += x[i];
            if (i < p) {
                y[i] = s / (double)(i + 1);
            } else {
                s -= x[i - p];
                y[i] = s / (double)p;
            }
        }
        if (sums)
            sums[r] = s;
    }
}

/* C6: 4-stage Laguerre cascade with time-varying gamma.  Each row's
 * state starts at init[r*4 .. r*4+3] (carried l0..l3), or at zero when
 * init == NULL. */
void laguerre_cascade(const double *close, const double *gamma,
                      double *L0, double *L1, double *L2, double *L3,
                      int64_t b, int64_t t, const double *init)
{
    static const double zero[4] = {0.0, 0.0, 0.0, 0.0};
    for (int64_t r = 0; r < b; r++) {
        int64_t o = r * t;
        const double *s0 = init ? init + r * 4 : zero;
        double l0 = s0[0], l1 = s0[1], l2 = s0[2], l3 = s0[3];
        for (int64_t i = 0; i < t; i++) {
            double c = close[o + i], g = gamma[o + i];
            double p0 = l0, p1 = l1, p2 = l2;
            l0 = c + g * (l0 - c);
            l1 = p0 + g * (l1 - l0);
            l2 = p1 + g * (l2 - l1);
            l3 = p2 + g * (l3 - l2);
            L0[o + i] = l0;
            L1[o + i] = l1;
            L2[o + i] = l2;
            L3[o + i] = l3;
        }
    }
}

/* EWM mean (adjust=False): y[0] = x[0], y[i] = x[i]*alpha + y*(1-alpha).
 * With y0 != NULL each row continues from the carried mean y0[r], so
 * column 0 also takes the second form.  one_minus_alpha is passed in so
 * it is rounded exactly as the caller's. */
void ewm_mean(const double *x, double *out, int64_t b, int64_t t,
              double alpha, double one_minus_alpha, const double *y0)
{
    if (t == 0)
        return;
    for (int64_t r = 0; r < b; r++) {
        const double *u = x + r * t;
        double *v = out + r * t;
        double y = y0 ? y0[r] : u[0];
        int64_t i = 0;
        if (!y0)
            v[i++] = y;
        for (; i < t; i++) {
            y = u[i] * alpha + y * one_minus_alpha;
            v[i] = y;
        }
    }
}
