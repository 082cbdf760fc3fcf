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
  A sorted copy of the reservoir is kept beside it during a batch, so
  each row reads the median in O(1) and updates it in O(max_deltas)
  (a ``bisect`` insert and remove) instead of sorting the reservoir.

Output rows mirror the batch detector: (series_key, t, prev_t, delta) for
each gap START. Scale notes: state is per-key and O(max_deltas) doubles —
hash-partitioned by series_key exactly like the batch shuffle; no skew
beyond what the key distribution already has.
"""

from __future__ import annotations

from bisect import bisect_left, insort
from collections import deque

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

    if max_deltas < 1:
        raise ValueError(f"max_deltas must be at least 1, got {max_deltas}")

    def _step(key, pdf, st):
        last_t = None if st is None else st[0]
        # the reservoir in arrival order (a loaded state trimmed to its
        # newest max_deltas), and a sorted copy the median is read off
        deltas = deque(() if st is None else st[1], maxlen=max_deltas)
        ranked = sorted(deltas)
        out = []
        for t in np.sort(pdf[time_col].to_numpy(dtype="float64")).tolist():
            if last_t is not None:
                delta = t - last_t
                if delta <= 0:
                    # A row from a later micro-batch arriving with t ≤ the
                    # stored last_t (cross-batch disorder). The batch
                    # detector never sees non-positive deltas (it sorts
                    # globally); appending them would skew the running
                    # median down and cause spurious gap flags. Skip the
                    # row and keep last_t monotone.
                    continue
                n = len(ranked)
                if n >= 4:  # enough history for a median estimate
                    # np.median's arithmetic: the middle value, or the
                    # mean of the two middle values
                    h = n // 2
                    med = ranked[h] if n % 2 else (ranked[h - 1] + ranked[h]) / 2
                    if med > 0 and delta > threshold_factor * med:
                        out.append((key, t, last_t, delta))
                if len(deltas) == max_deltas:
                    del ranked[bisect_left(ranked, deltas[0])]  # evicted below
                deltas.append(delta)
                insort(ranked, delta)
            last_t = t
        return (last_t, list(deltas)), out

    return stateful_stream(
        points_stream, key_col, time_col, _step, GAP_EVENT, _STATE_SCHEMA, state_ttl_ms
    )
