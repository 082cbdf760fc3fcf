"""Not-a-knot cubic spline interpolation in pure numpy.

The reference's gap corrector passes its ``method`` straight to
``pandas.DataFrame.interpolate`` (reference
``scripts/discontinuity_utils.py:144-163``), so ``method='cubic'`` there
means scipy's ``interp1d(kind='cubic')`` evaluated on the frame's
positional index: a **not-a-knot** cubic spline through the valid points,
``NaN`` outside their span. scipy is an optional dependency this engine
does not require, so the same interpolant is implemented here directly —
a tridiagonal moments solve (Thomas algorithm) plus vectorized piecewise
evaluation. Not-a-knot reproduces any global cubic exactly, which the
test suite uses to pin the boundary condition; a scipy-gated parity test
covers the case where scipy *is* installed.

The O(n) scalar Thomas recurrence is sequential by nature; the spline
path is an opt-in ``gap_method`` (the default stays the vectorized
linear fill), and the loop costs ~1ms per 6k-point series — negligible
next to the kernel's window scans.
"""

from __future__ import annotations

import numpy as np

__all__ = ["cubic_spline_eval", "cubic_fill"]


def cubic_spline_eval(x: np.ndarray, y: np.ndarray, xq: np.ndarray) -> np.ndarray:
    """Evaluate the not-a-knot cubic spline through ``(x, y)`` at ``xq``.

    Requires strictly increasing ``x`` with at least 4 points (scipy's
    ``interp1d(kind='cubic')`` has the same minimum). Every knot evaluates
    to its ``y`` exactly. Query points outside
    ``[x[0], x[-1]]`` evaluate to ``NaN``, matching pandas' scipy wrapper
    (``bounds_error=False`` with the default NaN fill).
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    xq = np.asarray(xq, dtype=np.float64)
    npts = len(x)
    if npts < 4:
        raise ValueError("not-a-knot cubic spline requires at least 4 points")
    h = np.diff(x)
    if np.any(h <= 0):
        raise ValueError("x must be strictly increasing")

    # Slopes form (the formulation scipy's CubicSpline builds): unknowns
    # s_i = S'(x_i). Interior C2-continuity rows (i = 1..n-1):
    #   h[i]*s[i-1] + 2*(h[i-1]+h[i])*s[i] + h[i-1]*s[i+1]
    #     = 3*(h[i]*slope[i-1] + h[i-1]*slope[i])
    # Not-a-knot end rows, already reduced to two nonzeros with a strictly
    # positive diagonal (a moments-form corner elimination instead hits a
    # ZERO PIVOT whenever h[0] == h[1] — i.e. on every evenly-spaced
    # series):
    #   h[1]*s[0] + (h[0]+h[1])*s[1]
    #     = ((h[0] + 2*(h[0]+h[1]))*h[1]*slope[0] + h[0]^2*slope[1])
    #       / (h[0]+h[1])
    #   (h[-2]+h[-1])*s[n-1] + h[-2]*s[n]
    #     = (h[-1]^2*slope[-2] + (2*(h[-2]+h[-1]) + h[-1])*h[-2]*slope[-1])
    #       / (h[-2]+h[-1])
    n = npts - 1
    slope = np.diff(y) / h

    a = np.empty(npts)  # sub-diagonal: multiplies s[i-1]
    b = np.empty(npts)  # diagonal
    c = np.empty(npts)  # super-diagonal: multiplies s[i+1]
    d = np.empty(npts)
    a[1:-1] = h[1:]
    b[1:-1] = 2.0 * (h[:-1] + h[1:])
    c[1:-1] = h[:-1]
    d[1:-1] = 3.0 * (h[1:] * slope[:-1] + h[:-1] * slope[1:])
    b[0] = h[1]
    c[0] = h[0] + h[1]
    d[0] = ((h[0] + 2.0 * c[0]) * h[1] * slope[0] + h[0] ** 2 * slope[1]) / c[0]
    a[-1] = h[-2] + h[-1]
    b[-1] = h[-2]
    d[-1] = (
        h[-1] ** 2 * slope[-2] + (2.0 * a[-1] + h[-1]) * h[-2] * slope[-1]
    ) / a[-1]

    # Thomas algorithm. The first pivot h[1] is strictly positive and the
    # interior rows are diagonally dominant, so no pivoting is needed (the
    # scipy-parity and exact-cubic tests exercise uneven spacings).
    cp = np.empty(npts)
    dp = np.empty(npts)
    cp[0] = c[0] / b[0]
    dp[0] = d[0] / b[0]
    for i in range(1, npts):
        denom = b[i] - a[i] * cp[i - 1]
        cp[i] = (c[i] / denom) if i < npts - 1 else 0.0
        dp[i] = (d[i] - a[i] * dp[i - 1]) / denom
    s = np.empty(npts)
    s[-1] = dp[-1]
    for i in range(npts - 2, -1, -1):
        s[i] = dp[i] - cp[i] * s[i + 1]

    # Hermite evaluation on interval idx with knot slopes s.
    idx = np.clip(np.searchsorted(x, xq, side="right") - 1, 0, n - 1)
    dx = xq - x[idx]
    hi = h[idx]
    si = s[idx]
    si1 = s[idx + 1]
    sl = slope[idx]
    c2 = (3.0 * sl - 2.0 * si - si1) / hi
    c3 = (si + si1 - 2.0 * sl) / (hi * hi)
    out = y[idx] + dx * (si + dx * (c2 + dx * c3))
    # the last knot sits at the END of the last interval (dx = h[-1], not
    # 0), where the cubic's round-off would miss y[-1]; every other knot
    # starts its interval and evaluates to y[i] exactly
    out[xq == x[-1]] = y[-1]
    out[(xq < x[0]) | (xq > x[-1])] = np.nan
    return out


def cubic_fill(values: np.ndarray) -> np.ndarray:
    """Fill NaNs in ``values`` by cubic-spline interpolation over the
    positional index — exactly what ``Series.interpolate(method='cubic')``
    computes on a RangeIndex frame. Leading/trailing NaNs stay NaN (they
    sit outside the valid span). Returns a new array.
    """
    values = np.asarray(values, dtype=np.float64)
    invalid = np.isnan(values)
    if not invalid.any():
        return values.copy()
    valid_pos = np.flatnonzero(~invalid).astype(np.float64)
    if len(valid_pos) < 4:
        raise ValueError(
            "cubic gap interpolation requires at least 4 non-NaN points"
        )
    out = values.copy()
    query_pos = np.flatnonzero(invalid).astype(np.float64)
    out[invalid] = cubic_spline_eval(valid_pos, values[~invalid], query_pos)
    return out
