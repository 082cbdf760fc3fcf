"""Live fixed-bin histogram tier.

Keyed stateful stream (``streaming/stateful``), the analog of
``operators.histogram.histogram_rollup``: per series the state is ONE
OPEN BUCKET's counts array (nbins+2 longs). Only the bucket frontier is
monotone: a bucket CLOSES when a row for a LATER bucket arrives.

Exactness: closed buckets are **bit-equal** to ``histogram_rollup``
rows by construction — bucket id AND bin slot are computed by the SAME
JVM expressions in the stream's pre-projection (``slot_expr`` is
imported from the batch operator, so there is exactly one binning
expression in the codebase), and within a bucket the merge is integer
addition, which is order-free. Test-pinned across micro-batch splits,
including boundary values lo/hi and under/overflow hits.

The per-batch update is vectorized: one ``np.bincount`` per touched
bucket segment over the batch's slot column — Python touches (bucket)
segments, never rows. Closed rows feed ``histogram_cascade`` /
``histogram_quantile`` unchanged.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.histogram import slot_expr
from ..schema import TIER_SECONDS
from .stateful import bucket_runs, quantized_t, stateful_stream

HISTOGRAM_BUCKET = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("bucket_start", T.LongType(), False),
        T.StructField("counts", T.ArrayType(T.LongType()), False),
        T.StructField("n", T.LongType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("bucket_start", T.LongType()),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)


def histogram_stream(
    points_stream: DataFrame,
    tier: str = "1m",
    lo: float = 0.0,
    hi: float = 1.0,
    nbins: int = 32,
    state_ttl_ms: int = 0,
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
) -> DataFrame:
    """Keyed stateful histogram tier over a stream of (key, t, value);
    emits (key, bucket_start, counts, n) rows as buckets close."""
    if not (hi > lo):
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    if not 1 <= nbins <= 512:
        raise ValueError(f"nbins must be in [1, 512], got {nbins}")
    sec = TIER_SECONDS[tier]
    nslots = nbins + 2

    def _close(key: str, bucket: int, counts) -> tuple:
        counts = np.asarray(counts, dtype=np.int64)
        return (key, bucket, counts.tolist(), int(counts.sum()))

    def _step(key, pdf, st):
        pdf = pdf.dropna(subset=["_slot"])
        if st is not None:
            b_open, counts = st[0], np.asarray(st[1], dtype=np.int64)
            pdf = pdf[pdf["_bucket"] >= b_open]
        else:
            b_open, counts = None, np.zeros(nslots, dtype=np.int64)
        if len(pdf) == 0:
            return None, None

        buckets = pdf["_bucket"].to_numpy(dtype=np.int64)
        slots = pdf["_slot"].to_numpy(dtype=np.int64)
        order = np.argsort(buckets, kind="stable")
        buckets, slots = buckets[order], slots[order]
        out = []
        for s, e in zip(*bucket_runs(buckets)):
            b = int(buckets[s])
            if b_open is not None and b != b_open:
                out.append(_close(key, b_open, counts))
                counts = np.zeros(nslots, dtype=np.int64)
            b_open = b
            counts += np.bincount(slots[s:e], minlength=nslots)
        return (b_open, counts.tolist()), out

    v = F.col(value_col).cast("double")
    pre = points_stream.where(v.isNotNull()).select(
        F.col(key_col),
        (F.floor(quantized_t(time_col) / sec) * sec).cast("long").alias("_bucket"),
        slot_expr(v, lo, hi, nbins).alias("_slot"),
    )
    return stateful_stream(
        pre,
        key_col,
        "_bucket",
        _step,
        HISTOGRAM_BUCKET,
        _STATE_SCHEMA,
        state_ttl_ms,
        lambda key, st: _close(key, *st),
    )
