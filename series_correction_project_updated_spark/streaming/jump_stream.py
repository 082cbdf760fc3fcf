"""Live CUSUM level-shift detection.

Keyed stateful stream (``streaming/stateful``), the analog of the batch
jump detector (W6, ``oracle.detect_jumps`` — reference
scripts/processor.py:118-199): per series, each arrival is normalized
against the mean/std of the previous ``window_size`` samples and
accumulated into a signed CUSUM that triggers (and resets) when
``|cusum| > threshold``.

State per series (explicitly bounded):

* ``last_t``  — time of the last accepted sample,
* ``window``  — ring of the last ``window_size`` values (the trailing
  context the batch detector reads via ``rolling(window)``), O(window_size)
  doubles per key,
* ``cusum``   — the running signed sum (a single double).

Semantics note: the batch path computes the rolling std through pandas'
Welford-style rolling kernel; the stream recomputes ``np.std(window,
ddof=1)`` per arrival. The two agree mathematically but not necessarily in
the last ulp, so the streaming detector matches batch DECISIONS (tested on
planted level shifts), not bit-level z-scores — the same estimator-vs-exact
trade-off the gap stream documents for its bounded median reservoir.

Output rows: (series_key, t, value, cusum) per TRIGGER. Scale: state is
per-key and O(window_size); the stream shuffles once on series_key exactly
like the batch kernel.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .stateful import stateful_stream

_EPS = 1e-6

JUMP_EVENT = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("t", T.DoubleType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("cusum", T.DoubleType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_t", T.DoubleType()),
        T.StructField("window", T.ArrayType(T.DoubleType())),
        T.StructField("cusum", T.DoubleType()),
    ]
)


def detect_jumps_stream(
    points_stream: DataFrame,
    window_size: int = 5,
    threshold: float = 3.0,
    state_ttl_ms: int = 0,
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
) -> DataFrame:
    """Keyed stateful CUSUM jump detection on a stream of
    (series_key, t, value) rows; ``state_ttl_ms > 0`` evicts idle series."""

    def _step(key, pdf, st):
        last_t, window, cusum = (None, [], 0.0) if st is None else (st[0], list(st[1]), st[2])
        pdf = pdf.sort_values(time_col)
        ts = pdf[time_col].to_numpy(dtype="float64")
        vs = pdf[value_col].to_numpy(dtype="float64")
        out = []
        for t, v in zip(ts, vs):
            if last_t is not None and t <= last_t:
                continue
            if len(window) == window_size:
                w = np.asarray(window)
                std = float(np.std(w, ddof=1))
                if std > _EPS and not np.isnan(std):
                    cusum += (float(v) - float(np.mean(w))) / std
                if abs(cusum) > threshold:
                    out.append((key, float(t), float(v), float(cusum)))
                    cusum = 0.0
            window.append(float(v))
            if len(window) > window_size:
                window.pop(0)
            last_t = float(t)
        return (last_t, window, float(cusum)), out

    return stateful_stream(
        points_stream, key_col, _step, JUMP_EVENT, _STATE_SCHEMA, state_ttl_ms
    )
