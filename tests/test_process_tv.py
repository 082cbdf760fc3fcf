"""Bit-parity of the array-native kernel path (oracle.process_tv) against
the frame pipeline (process_series_with_stats) — the r6 optimization that
removed per-series pandas frame plumbing from the Spark kernel.

Every comparison is check_exact: the array path must be BIT-identical,
including tie permutations, NaN handling, stats rows, and the steps knob.
"""

import numpy as np
import pandas as pd
import pytest

from series_correction_project_updated_spark.oracle import correction as oracle


def _both(t, v, cfg=None):
    t = np.asarray(t, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    df = pd.DataFrame({"t": t, "value": v})
    want, want_stats = oracle.process_series_with_stats(df, "t", "value", cfg)
    got_t, got_v, got_stats = oracle.process_tv(t, v, cfg)
    return (want, want_stats), (got_t, got_v, got_stats)


def _assert_equal(t, v, cfg=None):
    (want, want_stats), (got_t, got_v, got_stats) = _both(t, v, cfg)
    np.testing.assert_array_equal(got_t, want["t"].to_numpy(dtype=np.float64))
    np.testing.assert_array_equal(got_v, want["value"].to_numpy(dtype=np.float64))
    assert got_stats == want_stats


def test_simple_series():
    rng = np.random.default_rng(0)
    t = np.arange(200, dtype=np.float64) * 20.0
    v = rng.normal(100.0, 5.0, 200)
    v[50] = 500.0  # outlier
    v[120:] += 80.0  # jump
    _assert_equal(t, v)


def test_gap_expansion_and_interp():
    t = np.concatenate([np.arange(50) * 10.0, 5000.0 + np.arange(50) * 10.0])
    v = np.linspace(0.0, 99.0, 100)
    _assert_equal(t, v)


def test_unsorted_input_with_ties():
    rng = np.random.default_rng(1)
    t = rng.choice(np.arange(60, dtype=np.float64) * 5.0, size=120, replace=True)
    v = rng.normal(0.0, 1.0, 120)
    _assert_equal(t, v)


def test_nan_values_and_nan_times():
    rng = np.random.default_rng(2)
    t = np.arange(100, dtype=np.float64) * 7.0
    v = rng.normal(10.0, 2.0, 100)
    v[rng.choice(100, 15, replace=False)] = np.nan
    _assert_equal(t, v)
    t2 = t.copy()
    t2[[5, 40]] = np.nan
    _assert_equal(t2, v)


def test_short_and_empty_series():
    _assert_equal([], [])
    _assert_equal([1.0], [2.0])
    _assert_equal([1.0, 2.0, 100.0], [1.0, 2.0, 3.0])


def test_steps_knob():
    rng = np.random.default_rng(3)
    t = np.arange(300, dtype=np.float64) * 20.0
    t[150:] += 4000.0
    v = rng.normal(50.0, 3.0, 300)
    v[200:] -= 40.0
    for steps in (("gaps",), ("outliers",), ("jumps",), (), ("gaps", "jumps"), None):
        _assert_equal(t, v, {"steps": steps})
    with pytest.raises(ValueError):
        oracle.process_tv(t, v, {"steps": ("gaps", "bogus")})


def test_outlier_methods():
    rng = np.random.default_rng(4)
    t = np.arange(150, dtype=np.float64) * 20.0
    v = rng.normal(0.0, 1.0, 150)
    v[[30, 60, 90]] = 50.0
    for method in ("median", "mean", "interpolate", "remove"):
        _assert_equal(t, v, {"outlier_method": method})


def test_fallback_methods_route_through_frame_path():
    rng = np.random.default_rng(5)
    t = np.concatenate([np.arange(40) * 10.0, 3000.0 + np.arange(40) * 10.0])
    v = rng.normal(0.0, 1.0, 80)
    _assert_equal(t, v, {"gap_method": "nearest"})


def test_fuzz_random_patterns():
    rng = np.random.default_rng(6)
    for trial in range(30):
        n = int(rng.integers(0, 400))
        t = rng.choice(
            np.arange(max(n, 1), dtype=np.float64) * float(rng.integers(1, 30)),
            size=n,
            replace=bool(rng.integers(0, 2)),
        )
        v = rng.normal(0.0, 10.0, n)
        if n and rng.integers(0, 2):
            v[rng.choice(n, max(1, n // 10), replace=False)] = np.nan
        if n and rng.integers(0, 3) == 0:
            v[int(rng.integers(0, n)) :] += 100.0
        _assert_equal(t, v)


def test_input_arrays_not_mutated():
    rng = np.random.default_rng(7)
    t = np.concatenate([np.arange(50) * 10.0, 4000.0 + np.arange(50) * 10.0])
    v = rng.normal(0.0, 1.0, 100)
    v[10] = 200.0
    t0, v0 = t.copy(), v.copy()
    oracle.process_tv(t, v, None)
    np.testing.assert_array_equal(t, t0)
    np.testing.assert_array_equal(v, v0)


def test_median_network_matches_np_median_bruteforce():
    """r6: the median-of-3/5 min/max networks must equal np.median exactly,
    including NaN propagation, infs, ties, and signed zeros."""
    from itertools import permutations, product

    from series_correction_project_updated_spark.oracle.correction import (
        _rowwise_median_small,
    )

    pools = [
        [1.0, 2.0, 3.0, 4.0, 5.0],
        [1.0, 1.0, 2.0, 2.0, 3.0],
        [0.0, -0.0, 0.0, -0.0, 1.0],
        [np.inf, -np.inf, 0.0, 5.0, -5.0],
        [np.nan, 1.0, 2.0, 3.0, 4.0],
        [np.nan, np.nan, np.nan, np.nan, np.nan],
        [1e308, -1e308, 8.99e307, -8.99e307, 0.0],
    ]
    for w in (3, 5):
        rows = []
        for pool in pools:
            rows.extend(list(p) for p in set(permutations(pool, w)))
        rows.extend(list(p) for p in product([0.0, -0.0, 1.0, np.nan], repeat=w))
        win = np.array(rows, dtype=np.float64)
        got = _rowwise_median_small(win, w)
        import warnings as _w

        with _w.catch_warnings():
            _w.simplefilter("ignore", category=RuntimeWarning)
            want = np.median(win, axis=1)
        np.testing.assert_array_equal(got, want)
        # signed zeros must match too (assert_array_equal checks them,
        # but make the intent explicit)
        zg, zw = got == 0.0, want == 0.0
        assert (zg == zw).all()
        np.testing.assert_array_equal(np.signbit(got[zg]), np.signbit(want[zw]))


def test_roll_mean_std_matches_pandas_api():
    from series_correction_project_updated_spark.oracle.correction import (
        _roll_mean_std,
    )

    rng = np.random.default_rng(11)
    for w in (2, 3, 5, 7):
        for trial in range(10):
            n = int(rng.integers(0, 80))
            v = rng.normal(0.0, 1e3, n)
            if n and trial % 2:
                v[rng.choice(n, max(1, n // 7), replace=False)] = np.nan
            if n and trial % 3 == 0:
                v[: min(n, w)] = 42.0  # constant run → zero/negative var path
            got_m, got_s = _roll_mean_std(v, w)
            s = pd.Series(v)
            np.testing.assert_array_equal(got_m, s.rolling(window=w).mean().to_numpy())
            np.testing.assert_array_equal(got_s, s.rolling(window=w).std().to_numpy())


def test_roll_mean_std_falls_back_on_private_api_drift(monkeypatch):
    """A pandas release that changes the private ``roll_mean``/``roll_var``
    signatures raises TypeError; the Series.rolling fallback must give
    the fast path's output bit for bit."""
    from series_correction_project_updated_spark.oracle import correction

    rng = np.random.default_rng(3)
    v = rng.normal(0.0, 1e3, 64)
    v[[5, 17, 40]] = np.nan
    v[20:26] = 42.0  # constant run → zero/negative var clamp
    want = [correction._roll_mean_std(v, w) for w in (2, 5, 7)]

    class _Drifted:
        @staticmethod
        def roll_mean(values, start, end, minp):
            raise TypeError("roll_mean() takes 5 positional arguments")

        roll_var = roll_mean

    monkeypatch.setattr(correction, "_pd_window_aggregations", _Drifted)
    for (want_m, want_s), w in zip(want, (2, 5, 7)):
        got_m, got_s = correction._roll_mean_std(v, w)
        np.testing.assert_array_equal(got_m, want_m)
        np.testing.assert_array_equal(got_s, want_s)
