"""Discontinuity detection/correction oracle (single-node, pandas/NumPy).

Reimplements — from scratch, against observed behavior — the reference
pipeline's three sequential steps (gaps → outliers → jumps) with exact float
semantics, including every quirk the parity tests pin down:

* NaN-propagating rolling median (``np.median``, not ``nanmedian``) — the
  reference relies on this for ``min_periods``-like behavior
  (reference ``scripts/processor.py:213-233`` and comment at ``:222-227``).
* Modified z-score with ``1e-6`` zero-MAD guards and the inf/0 special cases
  (reference ``scripts/discontinuity_utils.py:166-203``).
* CUSUM jump scan with reset-on-trigger — inherently sequential
  (reference ``scripts/processor.py:181-199``).
* Jump offsets computed from ORIGINAL values for all jumps, then applied
  cumulatively via one cumsum (reference ``scripts/processor.py:376-401``;
  multi-jump semantics pinned by ``scripts/tests/test_processor.py:93-128``).
* Gap fill inserts ``round((t_after-t_before)/step)-1`` linspace-spaced rows
  (reference ``scripts/discontinuity_utils.py:49-91``), then interpolates the
  value column linearly with ``limit_direction="both"`` — the reference's
  ``method='time'`` always falls back to linear on a numeric time column
  (``scripts/discontinuity_utils.py:144-163``).
* Detectors return POSITIONS into the current sorted frame; steps compose
  sequentially and are not commutable (reference ``scripts/processor.py:540-572``).

All functions operate on plain numpy arrays / pandas frames so they run
unchanged inside the Spark Arrow kernel.
"""

from __future__ import annotations

import warnings
from typing import Any

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view

#: Default knobs — mirrors reference scripts/processor.py:468-481.
DEFAULT_CONFIG: dict[str, Any] = {
    "window_size": 5,
    "threshold": 3.0,
    "gap_threshold_factor": 3.0,
    "gap_method": "time",
    "outlier_method": "median",
    # accepted but never forwarded to correct_jumps — the REFERENCE reads it
    # from config and also never passes it on (scripts/processor.py:475 vs
    # :529-535); reproducing that is part of parity
    "jump_method": "offset",
}

_MAD_SCALE = 1.4826  # consistency constant for MAD → sigma
_EPS = 1e-6
_MAD_CHUNK = 50_000  # windows per chunk (memory ceiling, reference :170-184)


# ---------------------------------------------------------------------------
# Detection
# ---------------------------------------------------------------------------


def detect_gaps(times: np.ndarray, threshold_factor: float = 3.0) -> list[int]:
    """Positions (of the row AFTER the gap) where the sampling interval
    exceeds ``threshold_factor`` × median interval.

    Reference: scripts/processor.py:46-115 (detect_gaps/_find_gap_indices —
    index semantics "first point after the gap"); zero/negative median ⇒ no
    gaps (scripts/processor.py:31-43).
    """
    if len(times) < 2:
        return []
    diffs = np.diff(np.asarray(times, dtype=np.float64))
    median_diff = np.median(diffs)
    if median_diff <= 0:
        return []
    return (np.where(diffs > threshold_factor * median_diff)[0] + 1).tolist()


def _median3_cols(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Columnwise median of 3 via a min/max network (exact element
    selection — identical to ``np.median`` on odd counts)."""
    return np.maximum(np.minimum(a, b), np.minimum(np.maximum(a, b), c))


def _median5_cols(cols: np.ndarray) -> np.ndarray:
    """Columnwise median of 5 rows via the classic selection network:
    ``median5(a..e) = median3(e, max(min(a,b), min(c,d)),
    min(max(a,b), max(c,d)))`` — exact element selection, identical to
    ``np.median`` on 5 elements (brute-force-pinned in tests). Caller
    handles NaN rows separately (min/max networks may discard the NaN
    branch, unlike ``np.median``)."""
    a, b, c, d, e = cols
    lo = np.maximum(np.minimum(a, b), np.minimum(c, d))
    hi = np.minimum(np.maximum(a, b), np.maximum(c, d))
    return _median3_cols(e, lo, hi)


def _rowwise_median_small(windows: np.ndarray, window_size: int) -> np.ndarray:
    """``np.median(windows, axis=1)`` for the kernel's small odd windows —
    a branch-free min/max network instead of per-row partition (r6;
    ~3× on the z-score stage). Any-NaN rows get NaN explicitly, matching
    ``np.median``'s propagation. Falls back to ``np.median`` for widths
    without a network."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", category=RuntimeWarning)
        if window_size == 5:
            med = _median5_cols([windows[:, k] for k in range(5)])
        elif window_size == 3:
            med = _median3_cols(windows[:, 0], windows[:, 1], windows[:, 2])
        else:
            return np.median(windows, axis=1)
        if med.base is not None:
            med = med.copy()
        # ±0.0: among mixed-sign zeros the network may select a zero with
        # a different SIGN BIT than np.median's positional pick — recompute
        # exactly-zero medians the slow way (rare) so parity is bit-exact
        zmask = med == 0.0
        if zmask.any():
            med[zmask] = np.median(windows[zmask], axis=1)
    nanmask = np.isnan(windows).any(axis=1)
    if nanmask.any():
        med[nanmask] = np.nan
    return med


def _rolling_center_median(values: np.ndarray, window_size: int) -> np.ndarray:
    """Centered rolling median, NaN-propagating, NaN at the edges.

    Pads ``window_size//2`` left / ``window_size-1-window_size//2`` right with
    NaN then takes the rowwise median (reference
    scripts/processor.py:213-227 — NaN-in-window ⇒ NaN by design).
    """
    pad_left = window_size // 2
    pad_right = window_size - 1 - pad_left
    padded = np.pad(values, (pad_left, pad_right), constant_values=np.nan)
    windows = sliding_window_view(padded, window_shape=window_size)
    return _rowwise_median_small(windows, window_size)


def _rolling_center_mad(values: np.ndarray, rolling_median: np.ndarray, window_size: int) -> np.ndarray:
    """Centered rolling MAD vs ``rolling_median``; edges NaN; chunked.

    Windows are taken over the RAW (unpadded) values, so only full windows
    get a MAD and the pad positions stay NaN — matching reference
    scripts/discontinuity_utils.py:166-189 exactly (incl. 50k-window chunks).
    """
    n = len(values)
    pad = window_size // 2
    n_windows = n - window_size + 1
    chunks: list[np.ndarray] = []
    for start in range(0, n_windows, _MAD_CHUNK):
        end = min(start + _MAD_CHUNK, n_windows)
        win = sliding_window_view(values[start : end + window_size - 1], window_shape=window_size)
        centers = rolling_median[start + pad : end + pad, np.newaxis]
        with np.errstate(invalid="ignore"):
            chunks.append(_rowwise_median_small(np.abs(win - centers), window_size))
    flat = np.concatenate(chunks) if chunks else np.array([])
    return np.pad(flat, (pad, n - len(flat) - pad), constant_values=np.nan)


def modified_z_scores(
    values: np.ndarray, window_size: int, threshold: float
) -> tuple[np.ndarray, np.ndarray]:
    """(z_scores, valid_mask) — modified z-score vs centered rolling median/MAD.

    Zero-MAD special cases — the EXACT nested rule the reference applies
    (scripts/discontinuity_utils.py:192-203, mirrored verbatim): scaled
    MAD < 1e-6 ⇒ z = inf when |dev| > 1e-6 AND |dev| > threshold·1e-6,
    else 0. For threshold ≥ 1 only the second comparison binds; for
    threshold < 1 the outer |dev| > 1e-6 guard binds first — that is the
    reference's behavior too, and parity (not the looser one-comparison
    paraphrase an earlier docstring gave) is the contract.
    """
    rolling_median = _rolling_center_median(values, window_size)
    scaled_mad = _rolling_center_mad(values, rolling_median, window_size) * _MAD_SCALE
    # over=: adversarial fuzz inputs (|dev| near 1e308 over a tiny MAD)
    # overflow to inf, which the z-threshold comparison handles — same
    # result the reference's numpy produces
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        abs_diff = np.abs(values - rolling_median)
        z = np.where(
            scaled_mad < _EPS,
            np.where(abs_diff > _EPS, np.where(abs_diff > threshold * _EPS, np.inf, 0.0), 0.0),
            abs_diff / scaled_mad,
        )
        valid = ~np.isnan(rolling_median) & ~np.isnan(scaled_mad)
    return z, valid


def detect_outliers(values: np.ndarray, window_size: int = 5, threshold: float = 3.0) -> list[int]:
    """Positions whose modified z-score exceeds ``threshold``.

    Reference: scripts/processor.py:236-276 + _calculate_outlier_indices
    (:213-233). Short series (< window_size) ⇒ []; NaN values never flag.
    """
    values = np.asarray(values, dtype=np.float64)
    if len(values) < window_size:
        return []
    z, valid = modified_z_scores(values, window_size, threshold)
    return np.where(valid & (z > threshold))[0].tolist()


try:  # pandas' C window kernels — the same code Series.rolling dispatches to
    from pandas._libs.window import aggregations as _pd_window_aggregations
except ImportError:  # pragma: no cover - pandas layout change
    _pd_window_aggregations = None


def _roll_mean_std(values: np.ndarray, window_size: int) -> tuple[np.ndarray, np.ndarray]:
    """Trailing rolling mean and std (ddof=1, min_periods=window) —
    BIT-IDENTICAL to ``pd.Series(values).rolling(window).mean()/std()``
    because it calls the very same pandas C aggregations
    (``roll_mean``/``roll_var`` + the ``zsqrt`` negative-variance clamp)
    with the same fixed-window bounds, skipping only the Series/Rolling
    API layers (~0.4 ms per call on short series — the kernel calls this
    once per series; r6). Falls back to the API when pandas internals
    move: the module is gone (``ImportError``) or a private signature
    changed (``TypeError``); parity-pinned either way."""
    n = len(values)
    if _pd_window_aggregations is not None:
        end = np.arange(1, n + 1, dtype=np.int64)
        start = np.clip(end - window_size, 0, None)
        contiguous = np.ascontiguousarray(values, dtype=np.float64)
        try:
            mean = _pd_window_aggregations.roll_mean(contiguous, start, end, window_size)
            var = _pd_window_aggregations.roll_var(contiguous, start, end, window_size, 1)
        except TypeError:
            pass
        else:
            with np.errstate(all="ignore"):
                std = np.sqrt(var)
                neg = var < 0
            if neg.any():
                std[neg] = 0.0
            return mean, std
    rolling = pd.Series(values).rolling(window=window_size)
    return rolling.mean().to_numpy(), rolling.std().to_numpy()


def detect_jumps(values: np.ndarray, window_size: int = 5, threshold: float = 3.0) -> list[int]:
    """CUSUM-style level-shift detection against the PREVIOUS trailing window.

    Per position i ≥ window_size: deviation = v[i] − mean(prev window), divided
    by std(prev window, ddof=1) when std > 1e-6; a running signed sum triggers
    (and resets) when |cusum| > threshold. Sequential by construction.
    Reference: scripts/processor.py:118-199.
    """
    values = np.asarray(values, dtype=np.float64)
    n = len(values)
    if n < window_size * 2:
        return []

    rolling_mean, rolling_std = _roll_mean_std(values, window_size)

    mean_prev = np.roll(rolling_mean, 1)
    std_prev = np.roll(rolling_std, 1)
    valid = np.arange(n) >= window_size

    deviations = np.zeros(n)
    np.subtract(values, mean_prev, out=deviations, where=valid)
    normalized = np.zeros(n)
    with np.errstate(invalid="ignore"):
        std_ok = (std_prev > _EPS) & valid & ~np.isnan(std_prev)
    np.divide(deviations, std_prev, out=normalized, where=std_ok)

    return [i + window_size for i in _cusum_resets(normalized[window_size:], threshold)]


def _cusum_resets(x: np.ndarray, threshold: float) -> list[int]:
    """Positions where the running sum of ``x`` (reset to 0 after each
    trigger) exceeds ``threshold`` in absolute value — vectorized, and
    BIT-IDENTICAL to the scalar loop ``cusum += x[i]; if |cusum| > thr``.

    Exactness: ``np.cumsum`` accumulates float64 strictly left-to-right, so
    seeding each block with the carry as element 0 reproduces the scalar
    loop's exact operation order ``((carry + x_i) + x_{i+1}) + ...`` —
    unlike ``carry + cumsum(block)`` or global-prefix-sum differences, which
    re-associate and can flip an |cusum|-within-one-ulp-of-threshold
    comparison. Parity is property-tested against the scalar loop.

    Cost: blocks grow exponentially from 64 after each reset, so total work
    is O(n) even when triggers are dense (each element is scanned O(1)
    times amortized), all in C-speed numpy — no per-row Python (the kernel's
    last Python loop, removed round 3).
    """
    n = len(x)
    out: list[int] = []
    carry = 0.0
    i = 0
    block = 16  # dense triggers are the common case on noisy series — start
    # small, grow exponentially; preallocated buffers + method dispatch keep
    # the per-iteration fixed cost down (the numpy fromnumeric wrappers alone
    # measured ~10µs/iteration before)
    cap = min(n, 65536)
    buf = np.empty(cap + 1)
    cum = np.empty(cap + 1)
    ab = np.empty(cap + 1)
    cr = np.empty(cap + 1, dtype=bool)
    xl = x.tolist()  # scalar fast path reads python floats (no per-item boxing)
    while i < n:
        j = i + block
        if j > n:
            j = n
        m = j - i
        if m <= 32:
            # small-block fast path: the SCALAR reference recurrence itself
            # (~1µs for 16 elements vs ~5µs of numpy call overhead below);
            # dense-trigger series spend most iterations here (r4 — the
            # dispatch measured ~2.5× on this function for the events data)
            k = i
            while k < j:
                carry += xl[k]
                if carry > threshold or carry < -threshold:
                    out.append(k)
                    carry = 0.0
                    i = k + 1
                    block = 16
                    break
                k += 1
            else:
                i = j
                block = min(block << 1, 65536)
            continue
        b = buf[: m + 1]
        b[0] = carry
        b[1:] = x[i:j]
        c = b.cumsum(out=cum[: m + 1])
        np.abs(c[1:], out=ab[:m])
        cross = np.greater(ab[:m], threshold, out=cr[:m])
        k = int(cross.argmax())
        if cross[k]:
            out.append(i + k)
            carry = 0.0
            i = i + k + 1
            block = 16
        else:
            carry = float(c[m])
            i = j
            block = min(block << 1, 65536)
    return out


# ---------------------------------------------------------------------------
# Correction
# ---------------------------------------------------------------------------


def _nanmedian_rows(win: np.ndarray) -> np.ndarray:
    """``np.nanmedian(win, axis=1)`` for small-width 2-D windows, bit-exact,
    without numpy's masked-array slow path (``_nanmedian_small`` builds a
    ``np.ma`` array per call — ~0.6 ms of fixed overhead, taken thousands of
    times per kernel pass).

    Exactness: ``np.sort`` places NaNs last; with ``m`` non-NaN values the
    median is ``s[(m-1)//2]`` (odd) or ``(s[m//2-1] + s[m//2]) * 0.5``
    (even) — the same add-then-halve numpy's even case computes (×0.5 and /2
    are both exact binary-scale ops). All-NaN rows → NaN, matching
    ``np.nanmedian``'s return (we already suppress its RuntimeWarning).
    Property-tested against ``np.nanmedian`` over random NaN patterns.
    """
    if win.size == 0:
        return np.full(len(win), np.nan)
    s = np.sort(win, axis=1)
    m = (~np.isnan(win)).sum(axis=1)
    rows = np.arange(len(win))
    lo = s[rows, np.maximum((m - 1) // 2, 0)]
    hi = s[rows, np.maximum(m // 2, 0)]
    # odd counts return the middle ELEMENT directly, like np.nanmedian —
    # (lo+lo)*0.5 would overflow to inf for |median| > ~8.99e307 (r4
    # self-review #7); the even case's add-then-halve matches numpy's own
    # mean-of-two (which overflows identically, so parity holds there too)
    with np.errstate(invalid="ignore", over="ignore"):
        out = np.where(m % 2 == 1, lo, (lo + hi) * 0.5)
    out[m == 0] = np.nan
    return out


def _sorted_by_time(df: pd.DataFrame, time_col: str) -> pd.DataFrame:
    """``df.sort_values(time_col).reset_index(drop=True)``, skipping the
    sort when the column is already STRICTLY increasing (then quicksort is
    provably the identity permutation — with ties it may not be, so ties
    always take the real sort for bit-parity with the reference's sort)."""
    t = df[time_col].to_numpy()
    if len(t) > 1 and bool(np.all(np.diff(t) > 0)):
        return df.reset_index(drop=True)
    return df.sort_values(by=time_col).reset_index(drop=True)


def _gap_fill_times(times: np.ndarray, gap_indices: list[int]) -> np.ndarray | None:
    """Synthesize timestamps inside each gap.

    Per gap (descending, deduped, position 0 skipped): normal step is the
    interval just before the gap (or just after, at the series head);
    ``num_missing = round((t_after − t_before)/step) − 1``; new times are
    ``linspace(t_before+step, t_after−step, num_missing)`` — evenly spaced,
    NOT fixed-step. Reference: scripts/discontinuity_utils.py:28-141.
    """
    times = np.asarray(times, dtype=np.float64)
    n = len(times)
    seen: set[int] = set()
    pieces: list[np.ndarray] = []
    for g in sorted(gap_indices, reverse=True):
        if g in seen or g == 0:
            continue
        t_before, t_after = times[g - 1], times[g]
        if g - 1 > 0:
            step = times[g - 1] - times[g - 2]
        elif n > g + 1:
            step = times[g + 1] - times[g]
        else:
            continue
        if not step > 0:
            continue
        num_missing = round((t_after - t_before) / step) - 1
        if num_missing <= 0:
            continue
        pieces.append(np.linspace(t_before + step, t_after - step, num=num_missing))
        seen.add(g)
    if not pieces:
        return None
    return np.concatenate(pieces)


def correct_gaps(
    df: pd.DataFrame,
    gap_indices: list[int],
    time_col: str,
    value_cols: list[str],
    method: str = "time",
) -> pd.DataFrame:
    """Insert linspace-spaced rows inside gaps, then interpolate value cols.

    Non-value columns of inserted rows stay NaN. ``method='time'`` on a
    numeric time column falls back to linear (reference
    scripts/discontinuity_utils.py:144-163); ``limit_direction='both'``
    fills the edges too. Reference: scripts/processor.py:279-338.
    """
    if not gap_indices:
        return df.copy()
    result = _sorted_by_time(df, time_col)
    # Fast path for the kernel's exact frame shape (one float64 value col,
    # linear/time method): pure numpy, BIT-IDENTICAL to the pandas path —
    #   * the merge sort is np.argsort(kind='quicksort'), the same
    #     algorithm pandas sort_values runs on a NaN-free float column,
    #   * pandas 2.x 'linear' interpolate with limit_direction='both' and
    #     no limit is exactly ``y[invalid] = np.interp(pos[invalid],
    #     pos[valid], y[valid])`` (pandas/core/missing.py _interpolate_1d
    #     dispatches NP_METHODS to np.interp; preserve_nans is empty).
    # Skips ~half the kernel's pandas block-manager overhead (r4; full
    # 1,500-series reference parity sweep re-run green on this path).
    if (
        len(value_cols) == 1
        and method in ("time", "linear")
        and list(result.columns) in ([time_col, value_cols[0]], [value_cols[0], time_col])
        and result[value_cols[0]].dtype == np.float64
        and result[time_col].dtype == np.float64
    ):
        vcol = value_cols[0]
        t = result[time_col].to_numpy()
        v = result[vcol].to_numpy()
        new_times = _gap_fill_times(t, gap_indices)
        if new_times is not None:
            t_all = np.concatenate([t, new_times])
            order = np.argsort(t_all, kind="quicksort")
            t_all = t_all[order]
            v_all = np.concatenate([v, np.full(len(new_times), np.nan)])[order]
        else:
            t_all, v_all = t, v.copy()
        invalid = np.isnan(v_all)
        if invalid.any() and not invalid.all():
            pos = np.arange(len(v_all), dtype=np.float64)
            v_all[invalid] = np.interp(pos[invalid], pos[~invalid], v_all[~invalid])
        return pd.DataFrame(
            {c: (t_all if c == time_col else v_all) for c in result.columns}
        )
    new_times = _gap_fill_times(result[time_col].to_numpy(), gap_indices)
    if new_times is not None:
        gaps_df = pd.DataFrame(np.nan, index=range(len(new_times)), columns=result.columns)
        gaps_df[time_col] = new_times
        result = pd.concat([result, gaps_df], ignore_index=True)
        result = result.sort_values(by=time_col).reset_index(drop=True)
    interp_method = "linear" if method == "time" else method
    if interp_method in ("cubic", "nearest", "akima", "pchip", "locf"):
        # pandas delegates these methods to scipy over the positional
        # index; scipy is optional here, so the same interpolants run
        # through the numpy implementations instead (functions/spline.py
        # for the not-a-knot cubic, functions/interp.py for the rest —
        # scipy-gated parity tests pin equivalence).
        from series_correction_project_updated_spark.functions.interp import interp_fill
        from series_correction_project_updated_spark.functions.spline import cubic_fill

        for col in value_cols:
            v = result[col].to_numpy()
            result[col] = (
                cubic_fill(v) if interp_method == "cubic" else interp_fill(v, interp_method)
            )
        return result
    result[value_cols] = result[value_cols].interpolate(method=interp_method, limit_direction="both")
    return result


def correct_outliers(
    df: pd.DataFrame,
    outlier_indices: list[int],
    value_col: str,
    window_size: int = 5,
    method: str = "median",
) -> pd.DataFrame:
    """Replace flagged positions via median/mean of the surrounding window
    (flagged positions excluded), linear interpolation, or NaN removal.

    The replacement window is ``2*(window_size//2)+1`` wide, centered;
    NaN-padded at the edges. Reference: scripts/processor.py:407-465 +
    scripts/discontinuity_utils.py:206-258.
    """
    if not outlier_indices:
        return df.copy()
    result = df.copy()
    if method == "interpolate":
        result.loc[outlier_indices, value_col] = np.nan
        result[value_col] = result[value_col].interpolate(method="linear", limit_direction="both")
        return result
    if method == "remove":
        result.loc[outlier_indices, value_col] = np.nan
        return result
    if method not in ("median", "mean"):
        return result

    values = result[value_col].astype(float).to_numpy(copy=True)
    n = len(values)
    calc = values.copy()
    mask = np.zeros(n, dtype=bool)
    mask[outlier_indices] = True
    calc[mask] = np.nan
    pad = window_size // 2
    padded = np.pad(calc, (pad, pad), constant_values=np.nan)
    windows = sliding_window_view(padded, window_shape=2 * pad + 1)[outlier_indices]
    with np.errstate(invalid="ignore"), warnings.catch_warnings():
        warnings.simplefilter("ignore", category=RuntimeWarning)
        repl = _nanmedian_rows(windows) if method == "median" else np.nanmean(windows, axis=1)
    ok = ~np.isnan(repl)
    idx = np.asarray(outlier_indices)[ok]
    values[idx] = repl[ok]
    result[value_col] = values
    return result


def correct_jumps(
    df: pd.DataFrame, jump_indices: list[int], value_col: str, window_size: int = 5
) -> pd.DataFrame:
    """Offset-correct level shifts.

    For each in-bounds jump j (window_size ≤ j < n−window_size): offset =
    nanmedian(values[j−w : j]) − nanmedian(values[j : j+w]), all computed on
    ORIGINAL values; offsets land at their positions and one cumsum applies
    them to everything downstream. Reference: scripts/processor.py:341-404;
    cumulative semantics pinned by scripts/tests/test_processor.py:93-128.
    """
    if not jump_indices:
        return df.copy()
    result = df.copy()
    n = len(result)
    valid = sorted(j for j in jump_indices if window_size <= j < n - window_size)
    if not valid:
        return result
    values = result[value_col].astype(float).to_numpy(copy=True)
    jumps = np.asarray(valid)
    windows = sliding_window_view(values, window_shape=window_size)
    before = _nanmedian_rows(windows[jumps - window_size])
    after = _nanmedian_rows(windows[jumps])
    ok = ~(np.isnan(before) | np.isnan(after))
    offsets = np.zeros(n)
    np.add.at(offsets, jumps[ok], before[ok] - after[ok])
    result[value_col] = values + np.cumsum(offsets)
    return result


# ---------------------------------------------------------------------------
# Full pipeline
# ---------------------------------------------------------------------------


def _argsort_like_pandas(t: np.ndarray) -> np.ndarray:
    """The exact permutation ``pd.DataFrame.sort_values(by=t)`` applies:
    pandas ``nargsort(kind='quicksort', na_position='last')`` — quicksort
    over the non-NaN values, NaN positions appended in original order.
    With no NaNs this is plain ``np.argsort(kind='quicksort')``."""
    mask = np.isnan(t)
    if not mask.any():
        return np.argsort(t, kind="quicksort")
    non_nan_idx = np.flatnonzero(~mask)
    indexer = non_nan_idx[np.argsort(t[non_nan_idx], kind="quicksort")]
    return np.concatenate([indexer, np.flatnonzero(mask)])


def _sorted_tv(t: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Array twin of ``_sorted_by_time`` — identity when strictly
    increasing, else the pandas sort permutation."""
    if len(t) > 1 and not bool(np.all(np.diff(t) > 0)):
        order = _argsort_like_pandas(t)
        return t[order], v[order]
    return t, v


def _correct_outliers_tv(
    v: np.ndarray, outlier_indices: list[int], window_size: int, method: str
) -> np.ndarray:
    """Array twin of ``correct_outliers`` — identical numpy operations on
    the same float64 buffers, minus the frame plumbing."""
    values = v.copy()
    if method == "interpolate":
        # pandas 'linear' interpolate over a RangeIndex with
        # limit_direction='both' IS np.interp over positions (see the
        # correct_gaps fast-path note; same dispatch in pandas/core/missing)
        values[outlier_indices] = np.nan
        invalid = np.isnan(values)
        if invalid.any() and not invalid.all():
            pos = np.arange(len(values), dtype=np.float64)
            values[invalid] = np.interp(pos[invalid], pos[~invalid], values[~invalid])
        return values
    if method == "remove":
        values[outlier_indices] = np.nan
        return values
    if method not in ("median", "mean"):
        return values
    n = len(values)
    calc = values.copy()
    mask = np.zeros(n, dtype=bool)
    mask[outlier_indices] = True
    calc[mask] = np.nan
    pad = window_size // 2
    padded = np.pad(calc, (pad, pad), constant_values=np.nan)
    windows = sliding_window_view(padded, window_shape=2 * pad + 1)[outlier_indices]
    with np.errstate(invalid="ignore"), warnings.catch_warnings():
        warnings.simplefilter("ignore", category=RuntimeWarning)
        repl = _nanmedian_rows(windows) if method == "median" else np.nanmean(windows, axis=1)
    ok = ~np.isnan(repl)
    idx = np.asarray(outlier_indices)[ok]
    values[idx] = repl[ok]
    return values


def _correct_jumps_tv(
    v: np.ndarray, jump_indices: list[int], window_size: int
) -> np.ndarray:
    """Array twin of ``correct_jumps`` — identical numpy operations."""
    n = len(v)
    valid = sorted(j for j in jump_indices if window_size <= j < n - window_size)
    if not valid:
        return v
    values = v.copy()
    jumps = np.asarray(valid)
    windows = sliding_window_view(values, window_shape=window_size)
    before = _nanmedian_rows(windows[jumps - window_size])
    after = _nanmedian_rows(windows[jumps])
    ok = ~(np.isnan(before) | np.isnan(after))
    offsets = np.zeros(n)
    np.add.at(offsets, jumps[ok], before[ok] - after[ok])
    return values + np.cumsum(offsets)


def _correct_gaps_tv(
    t: np.ndarray, v: np.ndarray, gap_indices: list[int]
) -> tuple[np.ndarray, np.ndarray]:
    """Array twin of ``correct_gaps``' linear/time fast path (which is
    already pure numpy internally): insert linspace rows, argsort, interp.

    Leads with the same ``_sorted_by_time`` re-sort ``correct_gaps``
    applies to its input — identity on strictly-increasing t, but with
    TIES the quicksort can permute tied rows, and parity requires the
    identical permutation."""
    t, v = _sorted_tv(t, v)
    new_times = _gap_fill_times(t, gap_indices)
    if new_times is not None:
        t_all = np.concatenate([t, new_times])
        order = np.argsort(t_all, kind="quicksort")
        t_all = t_all[order]
        v_all = np.concatenate([v, np.full(len(new_times), np.nan)])[order]
    else:
        t_all, v_all = t, v.copy()
    invalid = np.isnan(v_all)
    if invalid.any() and not invalid.all():
        pos = np.arange(len(v_all), dtype=np.float64)
        v_all[invalid] = np.interp(pos[invalid], pos[~invalid], v_all[~invalid])
    return t_all, v_all


#: methods the array fast path handles; anything else falls back to the
#: frame pipeline (identical results, just slower)
_TV_GAP_METHODS = ("time", "linear")
_TV_OUTLIER_METHODS = ("median", "mean", "interpolate", "remove")


def process_tv(
    t: np.ndarray,
    v: np.ndarray,
    config: dict[str, Any] | None = None,
) -> tuple[np.ndarray, np.ndarray, list[tuple[str, int, int, int, str]]]:
    """Array-native ``process_series_with_stats`` for the kernel's exact
    shape: two float64 arrays in, ``(t_out, v_out, stats)`` out.

    BIT-IDENTICAL to the frame pipeline (pinned by
    tests/test_spark_kernel.py equality asserts and a dedicated parity
    test): every numeric step runs the same numpy calls on the same
    float64 buffers — only the pandas frame plumbing (per-series frame
    construction, ``.copy()``/``__getitem__``/``astype`` block-manager
    churn, ~70%% of kernel time on short series) is gone. Falls back to
    the frame pipeline for exotic gap/outlier methods.
    """
    cfg = {**DEFAULT_CONFIG, **(config or {})}
    if (
        cfg["gap_method"] not in _TV_GAP_METHODS
        or cfg["outlier_method"] not in _TV_OUTLIER_METHODS
    ):
        frame = pd.DataFrame({"t": t, "value": v})
        out, stats = process_series_with_stats(frame, "t", "value", cfg)
        return (
            out["t"].to_numpy(dtype=np.float64),
            out["value"].to_numpy(dtype=np.float64),
            stats,
        )
    raw_steps = cfg.get("steps")
    steps = frozenset(("gaps", "outliers", "jumps") if raw_steps is None else raw_steps)
    unknown = steps - {"gaps", "outliers", "jumps"}
    if unknown:
        raise ValueError(f"unknown steps: {sorted(unknown)}")
    t = np.ascontiguousarray(t, dtype=np.float64)
    v = np.ascontiguousarray(v, dtype=np.float64)
    t, v = _sorted_tv(t, v)
    n_in = len(t)

    if "gaps" in steps:
        gaps = detect_gaps(t, cfg["gap_threshold_factor"])
        if gaps:
            t, v = _correct_gaps_tv(t, v, gaps)
            t, v = _sorted_tv(t, v)
        n_after_gaps = len(t)
        stats = [("gaps", len(gaps), n_in, n_after_gaps, f"inserted={n_after_gaps - n_in}")]
    else:
        n_after_gaps = n_in
        stats = [("gaps", 0, n_in, n_in, "skipped")]

    if "outliers" in steps:
        outliers = detect_outliers(v, cfg["window_size"], cfg["threshold"])
        if outliers:
            v = _correct_outliers_tv(v, outliers, cfg["window_size"], cfg["outlier_method"])
        stats.append(("outliers", len(outliers), n_after_gaps, len(t), ""))
    else:
        stats.append(("outliers", 0, n_after_gaps, len(t), "skipped"))

    if "jumps" in steps:
        jumps = detect_jumps(v, cfg["window_size"], cfg["threshold"])
        if jumps:
            v = _correct_jumps_tv(v, jumps, cfg["window_size"])
        stats.append(("jumps", len(jumps), len(t), len(t), ""))
    else:
        stats.append(("jumps", 0, len(t), len(t), "skipped"))

    return t, v, stats


def process_series_with_stats(
    df: pd.DataFrame,
    time_col: str,
    value_col: str,
    config: dict[str, Any] | None = None,
) -> tuple[pd.DataFrame, list[tuple[str, int, int, int, str]]]:
    """``process_series`` that ALSO returns per-step lineage stats from the
    same execution, so callers never need a second detector pass.

    Stats rows are ``(step, n_detected, n_rows_in, n_rows_out, detail)`` in
    pipeline order (gaps, outliers, jumps) — the reference's correction-log
    record at series granularity (scripts/apply_refined_corrections.py:185-194).

    ``config["steps"]`` (optional collection of ``"gaps"``/``"outliers"``/
    ``"jumps"``; default all three) ACTUALLY SKIPS disabled stages — both
    detection and correction — instead of running detectors whose triggers
    are then suppressed by an extreme threshold. A gap-only production run
    (``steps=("gaps",)``) pays for neither the rolling median/MAD z-pass nor
    the CUSUM scan. Skipped steps still emit a stats row (n_detected=0,
    detail="skipped") so the lineage schema is stable.
    """
    cfg = {**DEFAULT_CONFIG, **(config or {})}
    # `is None`, not falsy: steps=() is a legitimate explicit no-op pipeline
    # (all stages skipped, input passed through with stable stats rows) —
    # `or` would silently re-enable all three stages on an empty collection
    raw_steps = cfg.get("steps")
    steps = frozenset(("gaps", "outliers", "jumps") if raw_steps is None else raw_steps)
    unknown = steps - {"gaps", "outliers", "jumps"}
    if unknown:
        raise ValueError(f"unknown steps: {sorted(unknown)}")
    data = _sorted_by_time(df, time_col)
    n_in = len(data)

    if "gaps" in steps:
        gaps = detect_gaps(data[time_col].to_numpy(), cfg["gap_threshold_factor"])
        if gaps:
            data = correct_gaps(data, gaps, time_col, [value_col], cfg["gap_method"])
            data = _sorted_by_time(data, time_col)
        n_after_gaps = len(data)
        stats = [("gaps", len(gaps), n_in, n_after_gaps, f"inserted={n_after_gaps - n_in}")]
    else:
        n_after_gaps = n_in
        stats = [("gaps", 0, n_in, n_in, "skipped")]

    if "outliers" in steps:
        outliers = detect_outliers(
            data[value_col].astype(float).to_numpy(), cfg["window_size"], cfg["threshold"]
        )
        if outliers:
            data = correct_outliers(
                data, outliers, value_col, cfg["window_size"], cfg["outlier_method"]
            )
        stats.append(("outliers", len(outliers), n_after_gaps, len(data), ""))
    else:
        stats.append(("outliers", 0, n_after_gaps, len(data), "skipped"))

    if "jumps" in steps:
        jumps = detect_jumps(data[value_col].to_numpy(), cfg["window_size"], cfg["threshold"])
        if jumps:
            data = correct_jumps(data, jumps, value_col, cfg["window_size"])
        stats.append(("jumps", len(jumps), len(data), len(data), ""))
    else:
        stats.append(("jumps", 0, len(data), len(data), "skipped"))

    return data, stats


def process_series(
    df: pd.DataFrame,
    time_col: str,
    value_col: str,
    config: dict[str, Any] | None = None,
) -> pd.DataFrame:
    """Sequential 3-step pipeline: gaps → outliers → jumps (ORDER MATTERS).

    Expects a numeric time column (callers convert timestamps to epoch
    seconds first — reference scripts/discontinuity_utils.py:261-291). Each
    detector sees the PREVIOUS step's output frame; only the gap step
    re-sorts. Reference: scripts/processor.py:484-572.
    """
    data, _stats = process_series_with_stats(df, time_col, value_col, config)
    return data
