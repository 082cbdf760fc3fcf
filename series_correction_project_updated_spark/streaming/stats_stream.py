"""Live 2D-moment stats tier.

Keyed stateful stream (``streaming/stateful``), the analog of
``operators.stats.stats_rollup`` (time-regression mode): per series the
state is ONE OPEN BUCKET's moment vector (n, sx, sy, sxx, syy, sxy) with
x bucket-relative, the same precision contract as the batch tier
(epoch² never enters a double). Only the bucket frontier is monotone.

Exactness: n is exact; the five float sums match the batch JVM
aggregate to reassociation (~1e-12 relative, the same law the batch
cascade and the EWM stream pin — a distributed ``F.sum`` has no
defined addition order, so bit-equality is not a meaningful target
here, unlike the integer histogram tier). Per-point arithmetic is
bitwise-identical: the pre-projection computes bucket id and
bucket-relative x with the SAME JVM expressions the batch operator
uses, and x², y², x·y are IEEE products either way.

Per batch the update is one vectorized pass: np sums per touched
bucket segment — Python touches segments, never rows. Closed rows
feed ``stats_cascade`` / ``stats_eval`` unchanged.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import TIER_SECONDS
from .stateful import bucket_runs, quantized_t, stateful_stream

STATS_BUCKET = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("bucket_start", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("sx", T.DoubleType(), False),
        T.StructField("sy", T.DoubleType(), False),
        T.StructField("sxx", T.DoubleType(), False),
        T.StructField("syy", T.DoubleType(), False),
        T.StructField("sxy", T.DoubleType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("bucket_start", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sx", T.DoubleType()),
        T.StructField("sy", T.DoubleType()),
        T.StructField("sxx", T.DoubleType()),
        T.StructField("syy", T.DoubleType()),
        T.StructField("sxy", T.DoubleType()),
    ]
)


def stats_stream(
    points_stream: DataFrame,
    tier: str = "1m",
    state_ttl_ms: int = 0,
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
) -> DataFrame:
    """Keyed stateful moment-sum tier over a stream of (key, t, value);
    emits (key, bucket_start, n, sx, sy, sxx, syy, sxy) as buckets
    close."""
    sec = TIER_SECONDS[tier]

    def _step(key, pdf, st):
        pdf = pdf.dropna(subset=["_y"])
        open_st = list(st) if st is not None else None
        if open_st is not None:
            pdf = pdf[pdf["_bucket"] >= open_st[0]]
        if len(pdf) == 0:
            return None, None

        buckets = pdf["_bucket"].to_numpy(dtype=np.int64)
        xs = pdf["_x"].to_numpy(dtype=np.float64)
        ys = pdf["_y"].to_numpy(dtype=np.float64)
        order = np.argsort(buckets, kind="stable")
        buckets, xs, ys = buckets[order], xs[order], ys[order]
        out = []
        for s, e in zip(*bucket_runs(buckets)):
            b = int(buckets[s])
            x, y = xs[s:e], ys[s:e]
            seg = (
                int(e - s),
                float(x.sum()),
                float(y.sum()),
                float((x * x).sum()),
                float((y * y).sum()),
                float((x * y).sum()),
            )
            if open_st is not None and b == open_st[0]:
                open_st = [b] + [a + d for a, d in zip(open_st[1:], seg)]
                continue
            if open_st is not None:
                out.append((key, *open_st))
            open_st = [b, *seg]
        return tuple(open_st), out

    # identical per-point arithmetic to stats_rollup: t quantized by the
    # same cast chain, x bucket-relative in the same JVM expression
    t = quantized_t(time_col)
    bucket = (F.floor(t / sec) * sec).cast("long")
    pre = points_stream.where(F.col(value_col).cast("double").isNotNull()).select(
        F.col(key_col),
        bucket.alias("_bucket"),
        (t - bucket.cast("double")).alias("_x"),
        F.col(value_col).cast("double").alias("_y"),
    )
    return stateful_stream(
        pre,
        key_col,
        _step,
        STATS_BUCKET,
        _STATE_SCHEMA,
        state_ttl_ms,
        lambda key, st: (key, *st),
    )
