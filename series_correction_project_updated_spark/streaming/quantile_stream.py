"""Live quantile-digest tier.

Keyed stateful stream (``streaming/stateful``), the analog of
``operators.quantile.quantile_rollup``: per series the state is the OPEN
bucket's raw values (bounded by points-per-bucket, the same boundedness
the batch ``collect_list`` relies on) plus the last accepted timestamp.
Accepted arrivals are strictly time-increasing, so a bucket CLOSES when a
later bucket's first point arrives; the closed bucket's values run
through the SAME deterministic compression the batch tier uses (sort by
value, tie-merge, equal-weight binning), so closed digests are
**bit-equal to batch ``quantile_rollup`` rows** — arrays included
(test-pinned across micro-batch splits). Null values are dropped,
matching the batch filter.

Emitted rows feed the same downstream surface as the stored tier:
``quantile_cascade`` merges them upward, ``digest_quantiles`` evaluates
percentiles.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..operators.quantile import DEFAULT_K, _compress_scalar
from ..schema import TIER_SECONDS
from .stateful import bucket_runs, stateful_stream

QUANTILE_BUCKET = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("bucket_start", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("vmin", T.DoubleType(), False),
        T.StructField("vmax", T.DoubleType(), False),
        T.StructField("qmeans", T.ArrayType(T.DoubleType()), False),
        T.StructField("qweights", T.ArrayType(T.DoubleType()), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_t", T.DoubleType()),
        T.StructField("bucket_start", T.LongType()),
        T.StructField("vals", T.ArrayType(T.DoubleType())),
    ]
)


def quantile_stream(
    points_stream: DataFrame,
    tier: str = "1m",
    k: int = DEFAULT_K,
    state_ttl_ms: int = 0,
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
) -> DataFrame:
    """Keyed stateful quantile-digest tier over a stream of
    (key, t, value)."""
    sec = TIER_SECONDS[tier]

    def _close(key, bucket: int, vals: list) -> tuple:
        v = np.asarray(vals, dtype=np.float64)
        means, weights = _compress_scalar(v, np.ones(len(v)), k)
        return (
            key,
            bucket,
            len(v),
            float(v.min()),
            float(v.max()),
            means.tolist(),
            weights.tolist(),
        )

    def _step(key, pdf, st):
        pdf = pdf.dropna(subset=[value_col]).sort_values(time_col)
        ts = pdf[time_col].to_numpy(dtype="float64")
        xs = pdf[value_col].to_numpy(dtype="float64")
        if st is not None:
            last_t, bucket, vals = st[0], st[1], list(st[2])
            keep = ts > last_t
            ts, xs = ts[keep], xs[keep]
        else:
            bucket, vals = None, []
        if len(ts) == 0:
            return None, None
        buckets = (np.floor(ts / sec) * sec).astype(np.int64)
        out = []
        for s, e in zip(*bucket_runs(buckets)):
            b = int(buckets[s])
            if bucket is not None and b != bucket:
                out.append(_close(key, bucket, vals))
                vals = []
            bucket = b
            vals.extend(xs[s:e].tolist())
        return (float(ts[-1]), bucket, vals), out

    return stateful_stream(
        points_stream,
        key_col,
        _step,
        QUANTILE_BUCKET,
        _STATE_SCHEMA,
        state_ttl_ms,
        lambda key, st: _close(key, st[1], list(st[2])),
    )
