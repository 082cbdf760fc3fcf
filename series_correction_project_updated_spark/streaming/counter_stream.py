"""Live counter tier.

Keyed stateful stream (``streaming/stateful``), the analog of
``operators.counters.counter_rollup``: per series the state is ONE OPEN
BUCKET (plus the last accepted point), because accepted arrivals are
strictly time-increasing, so the bucket index is nondecreasing and a
bucket CLOSES exactly when the first point of a later bucket arrives.
Closed buckets are emitted with the full batch column set (n, first/last
envelope, inc_within, resets, boundary_increase/reset, bucket_increase,
rate).

Exactness: the within-bucket walk adds contributions in time order both
here and in the batch JVM fold — the carry continues the same left
fold, and timestamps are quantized by the SAME JVM expression the batch
uses (applied in the stream's pre-projection), so on a fully delivered
in-order stream every CLOSED bucket is **bit-equal** to the batch
``counter_rollup`` row (float data and fractional timestamps included;
test-pinned across micro-batch splits).

Per batch the arithmetic is vectorized: one diff/where pass over all
accepted points plus ``np.add.reduceat`` per bucket segment — Python
touches segments (≤ buckets per batch), never rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import TIER_SECONDS
from .stateful import bucket_runs, left_fold, quantized_t, stateful_stream

COUNTER_BUCKET = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("bucket_start", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("first_t", T.DoubleType(), False),
        T.StructField("first_v", T.DoubleType(), False),
        T.StructField("last_t", T.DoubleType(), False),
        T.StructField("last_v", T.DoubleType(), False),
        T.StructField("inc_within", T.DoubleType(), False),
        T.StructField("resets", T.LongType(), False),
        T.StructField("boundary_increase", T.DoubleType(), False),
        T.StructField("boundary_reset", T.LongType(), False),
        T.StructField("bucket_increase", T.DoubleType(), False),
        T.StructField("rate", T.DoubleType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_t", T.DoubleType()),
        T.StructField("bucket_start", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("first_t", T.DoubleType()),
        T.StructField("first_v", T.DoubleType()),
        T.StructField("last_v", T.DoubleType()),
        T.StructField("inc_within", T.DoubleType()),
        T.StructField("resets", T.LongType()),
        T.StructField("boundary_increase", T.DoubleType()),
        T.StructField("boundary_reset", T.LongType()),
    ]
)


def counter_stream(
    points_stream: DataFrame,
    tier: str = "1m",
    state_ttl_ms: int = 0,
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
) -> DataFrame:
    """Keyed stateful counter tier over a stream of (key, t, value)."""
    sec = TIER_SECONDS[tier]

    def _flush(key, st) -> tuple:
        (_lt, b, n, ft, fv, lv, inc, res, binc, bres) = st
        total = inc + binc
        return (key, b, n, ft, fv, _lt, lv, inc, res, binc, bres, total, total / sec)

    def _step(key, pdf, st):
        pdf = pdf.dropna(subset=[value_col]).sort_values(time_col)
        ts = pdf[time_col].to_numpy(dtype="float64")
        xs = pdf[value_col].to_numpy(dtype="float64")
        open_st = list(st) if st is not None else None
        if open_st is not None:
            keep = ts > open_st[0]
            ts, xs = ts[keep], xs[keep]
        if len(ts) == 0:
            return None, None

        buckets = (np.floor(ts / sec) * sec).astype(np.int64)
        prev = np.empty(len(xs))
        prev[0] = open_st[5] if open_st is not None else np.nan
        prev[1:] = xs[:-1]
        diff = xs - prev
        with np.errstate(invalid="ignore"):
            contrib = np.where(diff >= 0, diff, xs)
            reset = diff < 0
        if open_st is None:
            contrib[0] = 0.0  # series' very first point: no predecessor
            reset[0] = False

        starts, ends = bucket_runs(buckets)
        seg_res = np.add.reduceat(reset.astype(np.int64), starts)
        out = []
        for j, (s, e) in enumerate(zip(starts, ends)):
            b = int(buckets[s])
            if open_st is not None and b == open_st[1]:
                # continue the open bucket: the segment's first diff is a
                # WITHIN contribution (same bucket as the carry point)
                open_st[2] += int(e - s)
                open_st[5] = float(xs[e - 1])
                open_st[6] = left_fold(open_st[6], contrib[s:e])
                open_st[7] += int(seg_res[j])
                open_st[0] = float(ts[e - 1])
                continue
            if open_st is not None:
                out.append(_flush(key, open_st))
            # new bucket: its first point's contribution is the BOUNDARY
            open_st = [
                float(ts[e - 1]),
                b,
                int(e - s),
                float(ts[s]),
                float(xs[s]),
                float(xs[e - 1]),
                left_fold(0.0, contrib[s + 1 : e]),
                int(seg_res[j] - reset[s]),
                float(contrib[s]),
                int(reset[s]),
            ]
        return tuple(open_st), out

    # identical JVM quantization to the batch operator's first projection
    quantized = points_stream.select(
        F.col(key_col), quantized_t(time_col).alias(time_col), F.col(value_col)
    )
    return stateful_stream(
        quantized, key_col, _step, COUNTER_BUCKET, _STATE_SCHEMA, state_ttl_ms, _flush
    )
