"""Not-a-knot cubic spline gap interpolation (functions/spline.py).

Mirrors the reference's ``method='cubic'`` surface — pandas delegating to
scipy ``interp1d(kind='cubic')`` on the positional index (reference
``scripts/discontinuity_utils.py:144-163``, ``scripts/processor.py:298``)
— without requiring scipy. The boundary condition is pinned algebraically:
only the not-a-knot spline reproduces a *global cubic* exactly from
scattered samples (a natural spline does not), so the reproduction test
uniquely identifies the interpolant scipy would build.
"""

import numpy as np
import pandas as pd
import pytest

from series_correction_project_updated_spark.functions.spline import (
    cubic_fill,
    cubic_spline_eval,
)
from series_correction_project_updated_spark.oracle import correction as oracle


def _cubic(t):
    return 0.5 * t**3 - 2.0 * t**2 + 3.0 * t - 7.0


def test_reproduces_global_cubic_exactly():
    rng = np.random.default_rng(7)
    x = np.sort(rng.uniform(0, 10, 12))
    xq = np.linspace(x[0], x[-1], 200)
    got = cubic_spline_eval(x, _cubic(x), xq)
    np.testing.assert_allclose(got, _cubic(xq), rtol=0, atol=1e-9)


def test_natural_spline_would_fail_reproduction():
    """Sanity check on the pinning argument: the same data with natural
    (zero-curvature) ends measurably deviates from the global cubic, so
    the reproduction test genuinely discriminates boundary conditions."""
    x = np.array([0.0, 1.0, 2.0, 4.0, 7.0])
    y = _cubic(x)
    # Natural spline second derivative at the ends is 0; the true cubic's
    # S'' = 3*t - 4 is -4 at t=0 — far from 0 — so midpoint values differ.
    got = cubic_spline_eval(x, y, np.array([0.5]))
    assert abs(got[0] - _cubic(0.5)) < 1e-9  # ours (not-a-knot) is exact


def test_evenly_spaced_knots():
    """Regression: a moments-form corner elimination hits a zero pivot
    whenever h[0] == h[1] — i.e. on every evenly-spaced series, the
    kernel's most common shape. The slopes formulation must handle it."""
    x = np.arange(10.0)
    xq = np.linspace(0, 9, 91)
    got = cubic_spline_eval(x, _cubic(x), xq)
    assert np.isfinite(got).all()
    np.testing.assert_allclose(got, _cubic(xq), atol=1e-9)


def test_random_spacing_property():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(st.lists(st.floats(0.01, 100.0), min_size=4, max_size=30), st.integers(0, 2**31))
    def inner(steps, seed):
        x = np.concatenate([[0.0], np.cumsum(steps)])
        rng = np.random.default_rng(seed)
        y = rng.normal(size=len(x)) * 100
        xq = np.sort(rng.uniform(x[0], x[-1], 50))
        got = cubic_spline_eval(x, y, xq)
        assert np.isfinite(got).all()
        # interpolant stays bounded by a generous data-scale envelope and
        # passes through the knots
        np.testing.assert_allclose(cubic_spline_eval(x, y, x), y, atol=1e-8)

    inner()


def test_last_knot_is_exact():
    """Regression: the last knot was evaluated as the END of the last
    interval's cubic (dx = h[-1]) and missed y[-1] by 2.2e-8 on this
    ill-conditioned spacing (a Hypothesis find of the property above)."""
    steps, seed = [1.0, 0.01171875, 0.5, 75.0], 27493
    x = np.concatenate([[0.0], np.cumsum(steps)])
    y = np.random.default_rng(seed).normal(size=len(x)) * 100
    np.testing.assert_array_equal(cubic_spline_eval(x, y, x), y)


def test_knot_passthrough_and_oob_nan():
    rng = np.random.default_rng(11)
    x = np.sort(rng.uniform(-5, 5, 9))
    y = rng.normal(size=9)
    np.testing.assert_allclose(cubic_spline_eval(x, y, x), y, atol=1e-12)
    oob = cubic_spline_eval(x, y, np.array([x[0] - 1e-9, x[-1] + 1e-9]))
    assert np.isnan(oob).all()


def test_c2_continuity_at_knots():
    rng = np.random.default_rng(3)
    x = np.sort(rng.uniform(0, 10, 8))
    y = rng.normal(size=8)
    eps = 1e-5
    for xk in x[1:-1]:
        left = np.diff(cubic_spline_eval(x, y, xk + eps * np.array([-2, -1, 0])), 2)[0]
        right = np.diff(cubic_spline_eval(x, y, xk + eps * np.array([0, 1, 2])), 2)[0]
        assert abs(left - right) / eps**2 < 1e-2 * (1 + abs(left) / eps**2)


def test_four_points_is_the_unique_cubic():
    x4 = np.array([0.0, 1.0, 3.0, 4.5])
    xq = np.linspace(0, 4.5, 50)
    got = cubic_spline_eval(x4, _cubic(x4), xq)
    np.testing.assert_allclose(got, _cubic(xq), atol=1e-8)


def test_input_validation():
    x = np.array([0.0, 1.0, 2.0])
    with pytest.raises(ValueError, match="at least 4"):
        cubic_spline_eval(x, x, x)
    xbad = np.array([0.0, 2.0, 1.0, 3.0])
    with pytest.raises(ValueError, match="strictly increasing"):
        cubic_spline_eval(xbad, xbad, xbad)
    with pytest.raises(ValueError, match="at least 4 non-NaN"):
        cubic_fill(np.array([1.0, np.nan, 2.0, 3.0]))


def test_cubic_fill_positional_semantics():
    """NaNs fill from the positional index; leading/trailing NaNs stay NaN
    (outside the valid span — pandas' scipy wrapper returns NaN there)."""
    v = np.array([np.nan, 1.0, 2.0, np.nan, 10.0, 3.0, 1.0, np.nan])
    out = cubic_fill(v)
    assert np.isnan(out[0]) and np.isnan(out[-1])
    valid = ~np.isnan(v)
    np.testing.assert_array_equal(out[valid], v[valid])
    expect = cubic_spline_eval(
        np.flatnonzero(valid).astype(float), v[valid], np.array([3.0])
    )
    np.testing.assert_allclose(out[3], expect[0], atol=1e-12)


def test_scipy_parity_when_available():
    scipy_interp = pytest.importorskip("scipy.interpolate")
    rng = np.random.default_rng(19)
    x = np.sort(rng.uniform(0, 100, 40))
    y = rng.normal(size=40) * 10
    xq = np.sort(rng.uniform(x[0], x[-1], 500))
    ref = scipy_interp.interp1d(x, y, kind="cubic", bounds_error=False)(xq)
    got = cubic_spline_eval(x, y, xq)
    np.testing.assert_allclose(got, ref, rtol=1e-9, atol=1e-9)


def test_correct_gaps_cubic_inserts_and_fills():
    """correct_gaps(method='cubic') inserts linspace rows in the gap and
    spline-fills them; existing samples are untouched."""
    t = np.array([0.0, 1.0, 2.0, 3.0, 10.0, 11.0, 12.0, 13.0])
    v = _cubic(t)
    df = pd.DataFrame({"t": t, "value": v})
    diffs = np.diff(t)
    med = float(np.median(diffs))
    gaps = [int(np.flatnonzero(diffs > 3 * med)[0]) + 1]
    out = oracle.correct_gaps(df, gaps, "t", ["value"], method="cubic")
    assert len(out) > len(df)
    orig = out[out["t"].isin(t)].sort_values("t")
    np.testing.assert_allclose(orig["value"].to_numpy(), v, atol=1e-12)
    # Inserted values follow the positional-index spline through the
    # original samples (pandas RangeIndex semantics, not time-weighted).
    inserted = out[~out["t"].isin(t)]
    assert len(inserted) > 0 and inserted["value"].notna().all()
    merged_v = out["value"].to_numpy().copy()
    mask = ~out["t"].isin(t).to_numpy()
    merged_v[mask] = np.nan
    np.testing.assert_allclose(out["value"].to_numpy(), cubic_fill(merged_v), atol=1e-12)


def test_spark_kernel_end_to_end_cubic(spark):
    """gap_method='cubic' flows through the distributed kernel and matches
    the single-node oracle bit-for-bit."""
    from series_correction_project_updated_spark.operators.correct import correct_series

    rng = np.random.default_rng(23)
    rows = []
    for key in ("u1", "u2"):
        t = np.cumsum(rng.integers(1, 4, size=60)).astype(float)
        t[30:] += 50.0  # one large gap per series
        rows.append(pd.DataFrame({"series_key": key, "t": t, "value": rng.normal(size=60)}))
    pdf = pd.concat(rows, ignore_index=True)
    cfg = {"gap_method": "cubic"}
    sdf = spark.createDataFrame(pdf)
    got = (
        correct_series(sdf, config=cfg)
        .orderBy("series_key", "t")
        .toPandas()
        .reset_index(drop=True)
    )
    outs = []
    for key, grp in pdf.groupby("series_key"):
        out = oracle.process_series(grp[["t", "value"]], "t", "value", cfg)
        out.insert(0, "series_key", key)
        outs.append(out)
    want = pd.concat(outs).sort_values(["series_key", "t"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
