"""Live gap detection per series.

Keyed stateful stream (``streaming/stateful``), the Structured Streaming
analog of the batch gap detector (W9,
``operators/correct.detect_gaps_native`` / ``oracle.detect_gaps``): per
series, flag arrivals whose distance to the previous sample exceeds
``threshold_factor`` × the running median interval.

State per series (explicitly bounded):

* ``last_t``      — time of the last sample seen,
* ``deltas``      — reservoir of up to ``max_deltas`` recent inter-arrival
  deltas, from which the median interval is estimated. A true exact median
  over an unbounded stream needs unbounded state; the bounded reservoir is
  the deliberate streaming trade-off (the batch path stays exact), and at
  ``max_deltas`` samples the estimate converges for stationary cadences.

Output rows mirror the batch detector: (series_key, t, prev_t, delta) for
each gap START. Scale notes: state is per-key and O(max_deltas) doubles —
hash-partitioned by series_key exactly like the batch shuffle; no skew
beyond what the key distribution already has.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .stateful import stateful_stream

GAP_EVENT = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("t", T.DoubleType(), False),
        T.StructField("prev_t", T.DoubleType(), False),
        T.StructField("delta", T.DoubleType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_t", T.DoubleType()),
        T.StructField("deltas", T.ArrayType(T.DoubleType())),
    ]
)


def detect_gaps_stream(
    points_stream: DataFrame,
    threshold_factor: float = 3.0,
    max_deltas: int = 256,
    state_ttl_ms: int = 0,
    key_col: str = "series_key",
    time_col: str = "t",
) -> DataFrame:
    """Keyed stateful gap detection on a stream of (series_key, t, ...)
    rows; ``state_ttl_ms > 0`` evicts idle series."""

    def _step(key, pdf, st):
        last_t, deltas = (None, []) if st is None else (st[0], list(st[1]))
        out = []
        for t in np.sort(pdf[time_col].to_numpy(dtype="float64")):
            if last_t is not None:
                delta = float(t - last_t)
                if delta <= 0:
                    # A row from a later micro-batch arriving with t ≤ the
                    # stored last_t (cross-batch disorder). The batch
                    # detector never sees non-positive deltas (it sorts
                    # globally); appending them would skew the running
                    # median down and cause spurious gap flags. Skip the
                    # row and keep last_t monotone.
                    continue
                if len(deltas) >= 4:  # enough history for a median estimate
                    med = float(np.median(deltas))
                    if med > 0 and delta > threshold_factor * med:
                        out.append((key, float(t), float(last_t), delta))
                deltas.append(delta)
                if len(deltas) > max_deltas:
                    deltas = deltas[-max_deltas:]
            last_t = float(t)
        return (last_t, deltas), out

    return stateful_stream(
        points_stream, key_col, _step, GAP_EVENT, _STATE_SCHEMA, state_ttl_ms
    )
