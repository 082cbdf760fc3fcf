"""Live EWM smoothing + anomaly scores.

Keyed stateful stream (``streaming/stateful``), the analog of
``operators.smooth.ewma_smooth``: per series the state is just three
doubles — (last_t, ewm mean, ewm var) — because the exponential
recurrences fold any prefix into their carries. Each micro-batch
continues the batch operator's blocked scans FROM the carried state, so
arrivals are processed vectorized per batch (no per-row Python), and on
a fully delivered in-order stream the emitted rows match the batch
operator (same recurrences; block boundaries differ with micro-batch
splits, so equality is to float reassociation — ~1e-12 relative,
test-pinned — not bit-level).

Every arrival emits (series_key, t, value, ewma, ewm_std, ewm_z);
``ewm_z`` — the one-step-ahead standardized innovation — is the live
anomaly signal. Null values are dropped (match the batch operator by
filtering upstream if null passthrough rows are needed). O(1) state per
key; one shuffle on the key, exactly like the batch shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..operators.smooth import _lin_rec_blocked
from .stateful import stateful_stream

SMOOTH_EVENT = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("t", T.DoubleType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("ewma", T.DoubleType(), False),
        T.StructField("ewm_std", T.DoubleType(), False),
        T.StructField("ewm_z", T.DoubleType(), True),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_t", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def ewma_stream(
    points_stream: DataFrame,
    alpha: float,
    state_ttl_ms: int = 0,
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
) -> DataFrame:
    """Keyed stateful EWM smoothing over a stream of (key, t, value)."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    c = 1.0 - alpha

    def _step(key, pdf, st):
        pdf = pdf.dropna(subset=[value_col]).sort_values(time_col)
        ts = pdf[time_col].to_numpy(dtype="float64")
        xs = pdf[value_col].to_numpy(dtype="float64")
        if st is not None:
            last_t, y_prev, v_prev = st
            keep = ts > last_t
            ts, xs = ts[keep], xs[keep]
        if len(ts) == 0:
            return None, None
        if st is None:
            y0, v0 = xs[0], 0.0
            y_rest = _lin_rec_blocked(alpha * xs[1:], c, y0)
            y = np.concatenate(([y0], y_rest))
            prev_y = np.concatenate(([np.nan], y[:-1]))
            diff = xs - prev_y
            v = np.concatenate(
                ([v0], _lin_rec_blocked(c * alpha * diff[1:] ** 2, c, v0))
            )
            prev_v = np.concatenate(([np.nan], v[:-1]))
        else:
            y = _lin_rec_blocked(alpha * xs, c, y_prev)
            prev_y = np.concatenate(([y_prev], y[:-1]))
            diff = xs - prev_y
            v = _lin_rec_blocked(c * alpha * diff**2, c, v_prev)
            prev_v = np.concatenate(([v_prev], v[:-1]))
        prev_sd = np.sqrt(prev_v)
        with np.errstate(divide="ignore", invalid="ignore"):
            z = np.where(prev_sd >= 1e-12, diff / prev_sd, np.nan)
        out = pd.DataFrame(
            {
                "series_key": key,
                "t": ts,
                "value": xs,
                "ewma": y,
                "ewm_std": np.sqrt(v),
                "ewm_z": z,
            }
        )
        return (float(ts[-1]), float(y[-1]), float(v[-1])), out

    return stateful_stream(
        points_stream, key_col, _step, SMOOTH_EVENT, _STATE_SCHEMA, state_ttl_ms
    )
