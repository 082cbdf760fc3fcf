"""Exponentially-weighted smoothing and one-step-ahead anomaly scores.

EWMA is the classic streaming smoother (pandas ``ewm(adjust=False)``,
Prometheus ``holt_winters``'s level term): ``y_i = (1-α)·y_{i-1} + α·x_i``.
The recurrence is sequential per series, but it is LINEAR, so it
vectorizes exactly: within a block, ``s_i = c^{i+1}·carry +
c^i·Σ_j z_j c^{-j}`` — one ``cumsum`` per block, with the block size
chosen so ``c^{-B}`` stays finite (the same carry-seeded block-scan
pattern as the kernel's CUSUM). The EWM variance shares the shape: with
the mean known, ``v_i = c·v_{i-1} + c·α·(x_i - y_{i-1})²`` is another
linear recurrence with known inputs. Both match pandas
``ewm(alpha, adjust=False).mean()`` / ``.var(bias=True)`` to ~1e-14
relative (test-pinned).

``ewm_z`` is the one-step-ahead standardized innovation
``(x_i - y_{i-1}) / sqrt(v_{i-1})`` — the natural streaming anomaly
score (how surprising is this point given the smoothed past), null
until the variance warms up.

Execution shape: the kernel's standard one-hash-repartition, a JVM sort
by (key, t) and ``mapInPandas`` over series-complete frames
(``operators/_keyed``, so a task holds one Arrow batch plus its largest
series); per series one numpy block scan (no per-row Python). Null
values pass through with null outputs and do not perturb the smoother
state; rows with a null key yield no output (``map_keyed`` drops them
in the JVM, as for every keyed operator). Not SQL-expressible (infinite
exponential memory), so pandas is the test oracle; the 50-entry driver
registry is full.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._keyed import map_keyed


def _lin_rec_blocked(z: np.ndarray, c: float, s0: float) -> np.ndarray:
    """s_i = c*s_{i-1} + z_i with s_{-1} = s0, exact blocked scan."""
    n = len(z)
    out = np.empty(n)
    if n == 0:
        return out
    if c == 0.0:
        out[:] = z
        return out
    # c^{-B} must stay finite: B ~ 600/-ln(c) keeps it under ~e^600
    B = 4096 if c >= 1.0 else max(16, min(4096, int(600.0 / -np.log(c))))
    carry = s0
    for st in range(0, n, B):
        blk = z[st : st + B]
        m = len(blk)
        ci = c ** np.arange(m, dtype=np.float64)
        s = c * ci * carry + ci * np.cumsum(blk / ci)
        out[st : st + m] = s
        carry = s[-1]
    return out


def ewm_mean_var(x: np.ndarray, alpha: float) -> tuple[np.ndarray, np.ndarray]:
    """(mean, biased var) per pandas ``ewm(alpha, adjust=False)``."""
    n = len(x)
    y = np.empty(n)
    v = np.zeros(n)
    if n == 0:
        return y, v
    c = 1.0 - alpha
    y[0] = x[0]
    if n > 1:
        y[1:] = _lin_rec_blocked(alpha * x[1:], c, x[0])
        diff = x[1:] - y[:-1]
        v[1:] = _lin_rec_blocked(c * alpha * diff * diff, c, 0.0)
    return y, v


def _lin_rec_blocked_c(z: np.ndarray, c: complex, s0: complex) -> np.ndarray:
    """Complex variant of the blocked scan (block bound from |c|)."""
    n = len(z)
    out = np.empty(n, dtype=complex)
    if n == 0:
        return out
    if c == 0:
        out[:] = z
        return out
    mag = abs(c)
    B = 4096 if mag >= 1.0 else max(16, min(4096, int(600.0 / -np.log(mag))))
    carry = s0
    for st in range(0, n, B):
        blk = z[st : st + B]
        m = len(blk)
        ci = c ** np.arange(m)
        s = c * ci * carry + ci * np.cumsum(blk / ci)
        out[st : st + m] = s
        carry = s[-1]
    return out


def holt_scalar(x: np.ndarray, alpha: float, beta: float):
    """Reference scalar Holt recurrence (l_0 = x_0, t_0 = 0) — the
    oracle the vectorized path is property-tested against, and the
    fallback when the transition matrix is (near-)defective."""
    n = len(x)
    level = np.empty(n)
    trend = np.empty(n)
    if n == 0:
        return level, trend
    level[0], trend[0] = x[0], 0.0
    for i in range(1, n):
        level[i] = alpha * x[i] + (1 - alpha) * (level[i - 1] + trend[i - 1])
        trend[i] = beta * (level[i] - level[i - 1]) + (1 - beta) * trend[i - 1]
    return level, trend


def holt_level_trend(x: np.ndarray, alpha: float, beta: float):
    """Holt double-exponential smoothing, vectorized.

    The coupled (level, trend) update is one LINEAR state recurrence
    ``s_i = M s_{i-1} + c x_i`` with constant 2x2 ``M``; diagonalizing
    ``M = P D P^-1`` decouples it into two independent scalar
    recurrences with the (generally complex-conjugate) eigenvalues —
    each just a complex blocked scan. Stable for α∈(0,1], β∈[0,1]
    (|λ|² = 1-α). Matches the scalar recurrence to ~1e-13 of the level
    scale (test-pinned); falls back to the scalar loop on a (near-)
    defective ``M`` (measure-zero parameter curve).
    """
    n = len(x)
    if n <= 1:
        return holt_scalar(x, alpha, beta)
    M = np.array([[1 - alpha, 1 - alpha], [-alpha * beta, 1 - alpha * beta]])
    cvec = np.array([alpha, alpha * beta])
    lam, P = np.linalg.eig(M)
    if abs(lam[0] - lam[1]) < 1e-6 * max(1.0, abs(lam[0])):
        return holt_scalar(x, alpha, beta)
    Pinv = np.linalg.inv(P)
    g = Pinv @ cvec
    u0 = Pinv @ np.array([x[0], 0.0])
    xs = x[1:]
    u = np.empty((2, n - 1), dtype=complex)
    for k in range(2):
        u[k] = _lin_rec_blocked_c(g[k] * xs, lam[k], u0[k])
    s = (P @ u).real
    return (
        np.concatenate(([x[0]], s[0])),
        np.concatenate(([0.0], s[1])),
    )


def _ewm_series(x: np.ndarray, alpha: float) -> tuple[np.ndarray, ...]:
    """(ewma, ewm_std, ewm_z) of one series' non-null values."""
    y, v = ewm_mean_var(x, alpha)
    sd = np.sqrt(v)
    z = np.full(len(x), np.nan)
    if len(x) > 1:
        prev_sd = sd[:-1]
        with np.errstate(divide="ignore", invalid="ignore"):
            z[1:] = np.where(prev_sd >= 1e-12, (x[1:] - y[:-1]) / prev_sd, np.nan)
    return y, sd, z


def _holt_series(x: np.ndarray, alpha: float, beta: float) -> tuple[np.ndarray, ...]:
    """(level, trend, yhat) of one series' non-null values."""
    level, trend = holt_level_trend(x, alpha, beta)
    fc = np.full(len(x), np.nan)
    fc[1:] = level[:-1] + trend[:-1]
    return level, trend, fc


def _per_series(vals: np.ndarray, offsets: np.ndarray, fn) -> np.ndarray:
    """``fn`` over each series' non-null values; the (3, n) result is NaN
    at null values, which leave the smoother state untouched."""
    out = np.full((3, len(vals)), np.nan)
    for s, e in zip(offsets[:-1], offsets[1:]):
        ok = ~np.isnan(vals[s:e])
        if ok.any():
            out[:, np.flatnonzero(ok) + s] = fn(vals[s:e][ok])
    return out


def _smooth(points, key_col, time_col, value_col, num_partitions, fields, frame_fn, tagged=False):
    """The shared shape of the smoothers: ``map_keyed`` on the key, sorted
    by time, ``frame_fn(pdf, values, offsets)`` per series-complete frame.
    Output: ([op,] key, t, value, *fields)."""
    cols = [key_col, time_col, value_col]
    schema = T.StructType(
        ([T.StructField("op", T.StringType())] if tagged else [])
        + [points.schema[c] for c in cols]
        + [T.StructField(f, T.DoubleType()) for f in fields]
    )

    def _run(frames):
        for pdf, offsets in frames:
            yield frame_fn(pdf[cols], pdf[value_col].to_numpy(dtype=np.float64), offsets)

    return map_keyed(points.select(*cols), (key_col,), (time_col,), _run, schema, num_partitions)


def holt_smooth(
    points: DataFrame,
    alpha: float,
    beta: float,
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-series Holt level+trend: adds ``level``, ``trend``, ``yhat``
    (the one-step-ahead forecast ``l_{i-1} + t_{i-1}``, null on each
    series' first point — residual ``value - yhat`` is the forecast
    error stream). Same one-shuffle mapInPandas shape as
    ``ewma_smooth``; null values pass through with null outputs."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 <= beta <= 1.0:
        raise ValueError(f"beta must be in [0, 1], got {beta}")

    def _frame(base, vals, offsets):
        lv, tr, yh = _per_series(vals, offsets, partial(_holt_series, alpha=alpha, beta=beta))
        return base.assign(level=lv, trend=tr, yhat=yh)

    return _smooth(
        points, key_col, time_col, value_col, num_partitions, ("level", "trend", "yhat"), _frame
    )


def ewma_smooth(
    points: DataFrame,
    alpha: float,
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-series EWM smoothing: adds ``ewma``, ``ewm_std``, ``ewm_z``.

    Rows keep their (key, t, value); null values get null outputs and
    are invisible to the smoother state. ``ewm_z`` is null while
    ``sqrt(v_{i-1}) < 1e-12`` (variance not warmed up / constant run).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")

    def _frame(base, vals, offsets):
        ew, sd, zs = _per_series(vals, offsets, partial(_ewm_series, alpha=alpha))
        return base.assign(ewma=ew, ewm_std=sd, ewm_z=zs)

    return _smooth(
        points, key_col, time_col, value_col, num_partitions, ("ewma", "ewm_std", "ewm_z"), _frame
    )


def ewma_holt_smooth(
    points: DataFrame,
    alpha: float,
    beta: float,
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
    num_partitions: int | None = None,
) -> DataFrame:
    """EWMA and Holt smoothing FUSED into one kernel pass (r6 optimization):
    one scan, one shuffle, one per-partition sort and one Arrow boundary
    instead of two of each — the union ``ewma_smooth(pts) ∪ holt_smooth(pts)``
    with a discriminator column, row-for-row identical (pinned by
    tests/test_smooth.py::test_fused_equals_union).

    Output: (op, key, t, value, m1, m2, m3) where op='ewm' carries
    (ewma, ewm_std, ewm_z) and op='holt' carries (level, trend, yhat) in
    m1..m3. Per-series math is the SAME functions (``_ewm_series``,
    ``_holt_series``) as the standalone operators.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 <= beta <= 1.0:
        raise ValueError(f"beta must be in [0, 1], got {beta}")
    out_cols = ["op", key_col, time_col, value_col, "m1", "m2", "m3"]

    def _frame(base, vals, offsets):
        ew, sd, zs = _per_series(vals, offsets, partial(_ewm_series, alpha=alpha))
        lv, tr, yh = _per_series(vals, offsets, partial(_holt_series, alpha=alpha, beta=beta))
        return pd.concat(
            [
                base.assign(op="ewm", m1=ew, m2=sd, m3=zs),
                base.assign(op="holt", m1=lv, m2=tr, m3=yh),
            ],
            ignore_index=True,
        )[out_cols]

    return _smooth(
        points, key_col, time_col, value_col, num_partitions, ("m1", "m2", "m3"), _frame,
        tagged=True,
    )


def holt_forecast(
    points: DataFrame,
    alpha: float,
    beta: float,
    horizon: int,
    step: float,
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
    num_partitions: int | None = None,
) -> DataFrame:
    """Project each series ``horizon`` steps past its last observation:
    Holt's linear-trend forecast ``yhat_{T+k} = l_T + k·t_T`` on the
    grid ``t_T + k·step`` (the standard h-step rule, e.g. Hyndman &
    Athanasopoulos, *Forecasting: Principles and Practice* §8.2 — the
    reference repo stops at smoothing; forecasting is additive surface).

    Output: (key, t, k, yhat) — ``k`` in 1..horizon, one row per future
    bucket, composable with the real tier for forecast-vs-actual joins
    (the ``yhat`` residual stream ``holt_smooth`` serves in-sample).

    Scale shape: ``holt_smooth``'s one shuffle + Arrow pass, then a
    per-key ``max(struct(t, level, trend))`` hash aggregate (map-side
    partials reuse the smoother's key clustering) and a width-``horizon``
    ``sequence`` explode of the 1-row-per-key frontier — the expensive
    part scales with points, the generate with keys × horizon, and
    nothing is driver-side. Under duplicate last timestamps the struct
    max tiebreaks on (level, trend) deterministically; feed a tier grid
    (unique (key, bucket)) for well-defined semantics.
    """
    if horizon < 1:
        raise ValueError(f"horizon must be >= 1, got {horizon}")
    if step <= 0:
        raise ValueError(f"step must be > 0, got {step}")
    sm = holt_smooth(
        points,
        alpha,
        beta,
        key_col=key_col,
        time_col=time_col,
        value_col=value_col,
        num_partitions=num_partitions,
    )
    frontier = (
        sm.where(F.col("level").isNotNull())
        .groupBy(key_col)
        .agg(
            F.max(
                F.struct(
                    F.col(time_col).cast("double").alias("t"),
                    F.col("level").alias("level"),
                    F.col("trend").alias("trend"),
                )
            ).alias("_s")
        )
    )
    k = F.explode(F.sequence(F.lit(1), F.lit(int(horizon)))).alias("k")
    last = F.col("_s")
    return frontier.select(key_col, k, "_s").select(
        key_col,
        (last["t"] + F.col("k").cast("double") * F.lit(float(step))).alias(time_col),
        "k",
        (last["level"] + F.col("k").cast("double") * last["trend"]).alias("yhat"),
    )
