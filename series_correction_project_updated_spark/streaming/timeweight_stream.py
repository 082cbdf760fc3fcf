"""Live time-weighted-average tier.

Keyed stateful stream (``streaming/stateful``), the analog of
``operators.timeweight.time_weighted_rollup``: per series the state is
the LAST ACCEPTED POINT plus ONE OPEN BUCKET (integral, covered_sec).
Accepted arrivals are strictly time-increasing, so every segment between
consecutive points extends the time frontier, and a bucket CLOSES
exactly when the frontier moves past its right edge: no future segment
can start before the frontier, so closed buckets are final.

Exactness: the batch operator splits each adjacent-point segment at the
bucket edges it crosses and SUMS piece areas per (key, bucket) in time
order (the lag window's sort survives the explode, and the final
aggregate reuses the window's clustering, so the JVM hash-agg fold IS a
time-ordered left fold). This kernel reproduces that fold: identical
piece geometry (same ``max(t0, edge)``/``min(t1, edge+sec)`` clamps,
same trapezoid/rectangle expression, width-0 pieces dropped) and a
strict carry-seeded ``np.cumsum`` left fold per bucket — never
``np.add.reduceat``, which reassociates. Timestamps are quantized by
the SAME JVM expression the batch uses (``cast(timestamp_ltz) →
cast(double)``, applied in the stream's pre-projection), so the state
kernel sees bit-identical inputs by construction. On a fully delivered
in-order stream every CLOSED bucket is **bit-equal** to the batch
``time_weighted_rollup`` row (test-pinned across micro-batch splits,
fractional timestamps included).

Duplicate timestamps: the stream keeps the first arrival per (key, t);
the store's ingest contract (``operators/ingest``,
``streaming/ingest_stream``) guarantees (key, t) uniqueness upstream,
under which the batch and stream paths agree.

Per batch the piece expansion is vectorized (``np.repeat`` over
buckets-spanned counts); Python touches bucket segments (≤ buckets
observed per key per batch), never rows. A timeout flush skips a
zero-covered open bucket, as a frontier close does.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import TIER_SECONDS
from .stateful import bucket_runs, left_fold, quantized_t, stateful_stream

TW_BUCKET = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("bucket_start", T.LongType(), False),
        T.StructField("integral", T.DoubleType(), False),
        T.StructField("covered_sec", T.DoubleType(), False),
        T.StructField("twa", T.DoubleType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_t", T.DoubleType()),
        T.StructField("last_v", T.DoubleType()),
        T.StructField("bucket_start", T.LongType()),
        T.StructField("integral", T.DoubleType()),
        T.StructField("covered_sec", T.DoubleType()),
    ]
)


def timeweight_stream(
    points_stream: DataFrame,
    tier: str = "1m",
    method: str = "linear",
    max_gap_sec: float | None = None,
    state_ttl_ms: int = 0,
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
) -> DataFrame:
    """Keyed stateful time-weighted-average tier over a (key, t, value)
    stream; emits (series_key, bucket_start, integral, covered_sec, twa)
    rows as buckets close."""
    if method not in ("linear", "locf"):
        raise ValueError(f"method must be 'linear' or 'locf', got {method}")
    sec = TIER_SECONDS[tier]

    def _close(key, b: int, integral: float, covered: float) -> tuple:
        return (key, b, integral, covered, integral / covered)

    def _flush(key, st) -> tuple | None:
        _lt, _lv, b, integral, covered = st
        return _close(key, b, integral, covered) if covered > 0 else None

    def _step(key, pdf, st):
        pdf = pdf.dropna(subset=[value_col]).sort_values(time_col)
        ts = pdf[time_col].to_numpy(dtype="float64")
        xs = pdf[value_col].to_numpy(dtype="float64")
        if st is not None:
            keep = ts > st[0]
            ts, xs = ts[keep], xs[keep]
        if len(ts) == 0:
            return None, None

        # segments between consecutive accepted points (carry included)
        if st is not None:
            t0 = np.concatenate(([st[0]], ts[:-1]))
            v0 = np.concatenate(([st[1]], xs[:-1]))
            t1, v1 = ts, xs
        else:
            t0, v0, t1, v1 = ts[:-1], xs[:-1], ts[1:], xs[1:]
        dt = t1 - t0
        seg_keep = dt > 0
        if max_gap_sec is not None:
            seg_keep &= dt <= max_gap_sec
        t0, v0, t1, v1, dt = t0[seg_keep], v0[seg_keep], t1[seg_keep], v1[seg_keep], dt[seg_keep]

        out = []
        open_b, open_int, open_cov = (None, 0.0, 0.0) if st is None else st[2:]

        if len(t0) > 0:
            b0 = (np.floor(t0 / sec) * sec).astype(np.int64)
            b1 = (np.floor(t1 / sec) * sec).astype(np.int64)
            counts = ((b1 - b0) // sec + 1).astype(np.int64)
            total = int(counts.sum())
            seg_idx = np.repeat(np.arange(len(t0)), counts)
            offs = np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)
            edge = b0[seg_idx] + offs * sec
            a = np.maximum(t0[seg_idx], edge.astype(np.float64))
            b = np.minimum(t1[seg_idx], (edge + sec).astype(np.float64))
            width = b - a
            pk = width > 0
            edge, a, b, width, si = edge[pk], a[pk], b[pk], width[pk], seg_idx[pk]
            if method == "locf":
                area = width * v0[si]
            else:
                slope = (v1 - v0) / dt
                va = v0[si] + slope[si] * (a - t0[si])
                vb = v0[si] + slope[si] * (b - t0[si])
                area = width * (va + vb) / 2.0

            # bucket segments in piece (= time) order; fold each with the
            # carry so float association matches the batch hash-agg fold
            starts, ends = bucket_runs(edge) if len(edge) > 0 else ((), ())
            for s, e in zip(starts, ends):
                bkt = int(edge[s])
                if open_b is not None and bkt != open_b:
                    if open_cov > 0:
                        out.append(_close(key, open_b, open_int, open_cov))
                    open_int, open_cov = 0.0, 0.0
                open_b = bkt
                open_int = left_fold(open_int, area[s:e])
                open_cov = left_fold(open_cov, width[s:e])

        # frontier rule: the open bucket is the one containing the last
        # accepted point (zero-covered when the frontier sits exactly on
        # an edge or a max_gap drop jumped past the last piece's bucket)
        frontier_b = int(np.floor(ts[-1] / sec) * sec)
        if open_b is not None and frontier_b != open_b:
            if open_cov > 0:
                out.append(_close(key, open_b, open_int, open_cov))
            open_b, open_int, open_cov = frontier_b, 0.0, 0.0
        elif open_b is None:
            open_b = frontier_b
        return (float(ts[-1]), float(xs[-1]), open_b, open_int, open_cov), out

    # identical JVM quantization to the batch operator's first projection
    quantized = points_stream.select(
        F.col(key_col).alias(key_col),
        quantized_t(time_col).alias(time_col),
        F.col(value_col).cast("double").alias(value_col),
    )
    return stateful_stream(
        quantized, key_col, _step, TW_BUCKET, _STATE_SCHEMA, state_ttl_ms, _flush
    )
