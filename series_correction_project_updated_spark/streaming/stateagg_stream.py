"""Streaming time-in-state: live state_agg tier.

Keyed stateful stream (``streaming/stateful``), the live twin of
``operators/stateagg.state_rollup``. A segment [t0, t1) only exists
once the NEXT observation arrives, so the stream emits each segment's
edge-split pieces at the moment the segment CLOSES; the pieces are
computed by the same law as batch (floor-to-bucket edges, clamp,
positive-width filter), so emitted rows are **bit-equal to the batch
rollup restricted to closed segments by construction** — float
arithmetic is per-piece (min/max/subtract), no folds, no order
dependence. Summing emitted rows per (key, bucket, state) downstream
(``state_cascade`` with ``to_tier`` = same tier, or any streaming sum)
reproduces the batch tier exactly on a fully delivered ordered stream
(test-pinned across micro-batch splits).

State per key: (last_t, last_state) — one frontier observation; a late
observation would re-write an already-emitted segment, so the frontier
rule is what keeps emitted pieces final. ``max_gap_sec`` mirrors batch:
an over-long dark segment emits nothing but still advances the frontier.

Per micro-batch the work is one sort + one vectorized piece expansion
per touched key — segments, never rows, in Python.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..schema import TIER_SECONDS
from .stateful import quantized_t, stateful_stream

STATE_PIECE = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("bucket_start", T.LongType(), False),
        T.StructField("state", T.StringType(), False),
        T.StructField("duration_sec", T.DoubleType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_t", T.DoubleType()),
        T.StructField("last_state", T.StringType()),
    ]
)


def state_rollup_stream(
    points_stream: DataFrame,
    tier: str = "1m",
    max_gap_sec: float | None = None,
    key_col: str = "series_key",
    time_col: str = "t",
    state_col: str = "state",
    state_ttl_ms: int = 0,
) -> DataFrame:
    """Keyed stateful time-in-state pieces on a stream of
    (key, t, state) rows; emitted rows sum to the batch tier."""
    sec = float(TIER_SECONDS[tier])

    src = points_stream.select(
        points_stream[key_col].cast("string").alias("series_key"),
        quantized_t(time_col).alias("t"),
        points_stream[state_col].cast("string").alias("state"),
    ).where("state IS NOT NULL AND t IS NOT NULL")

    def _pieces(key: str, t0: float, t1: float, s: str) -> list[tuple]:
        if max_gap_sec is not None and t1 - t0 > max_gap_sec:
            return []
        out = []
        b = np.floor(t0 / sec) * sec
        while b < t1:
            dur = min(t1, b + sec) - max(t0, b)
            if dur > 0:
                out.append((key, int(b), s, float(dur)))
            b += sec
        return out

    def _step(key, pdf, st):
        last_t, last_state = (None, None) if st is None else st
        pdf = pdf.sort_values(["t", "state"], kind="mergesort")
        rows: list[tuple] = []
        for t, s in zip(pdf["t"].to_numpy("float64"), pdf["state"]):
            if last_t is not None:
                if t <= last_t:
                    continue
                rows.extend(_pieces(key, last_t, float(t), last_state))
            last_t, last_state = float(t), s
        return (last_t, last_state), rows

    return stateful_stream(
        src, "series_key", _step, STATE_PIECE, _STATE_SCHEMA, state_ttl_ms
    )
