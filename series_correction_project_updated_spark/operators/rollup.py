"""Continuous aggregates: 1m / 1h / 1d rollup tiers + tier cascade.

The new retention layer the reference never had (SURVEY.md §7). Pure
built-in aggregation — one shuffle per tier when computed from raw, or
near-free when CASCADED (1m → 1h → 1d), since each cascade step reduces
input ~60× and reuses the (series_key) clustering.

Aggregate set per bucket: cnt / sum / min / max / first / last, with
first/last defined by time order — JVM-side, no window sort (crucial at
10^12 rows where a per-series global sort just to pick endpoints would
dominate the job).

Two physical forms for the first/last pick (r4: measured, both tested):

- default (``tie_safe=False``): ``min_by(value, t)`` / ``max_by(value,
  t)``. Primitive ordering key → **HashAggregateExec** with map-side
  partial aggregation — the plan this engine wants at scale (audited in
  docs/PLANS.md). Deterministic under the point-store contract that
  ``(series_key, t)`` is unique (what ingest dedup / refresh splicing
  maintain, and what every timeseries store's upsert key is); with
  duplicate timestamps the pick among equal-t rows is
  partition-order-dependent.
- ``tie_safe=True``: lexicographic ``min/max(struct(t, value))`` — a
  total order, deterministic under ANY input (ties at equal t resolve to
  smallest value for first, largest for last — the same orders the M4
  aggregate uses). Struct buffers are not hash-aggregable, so Catalyst
  plans **SortAggregateExec** (map-side sort before the partial agg):
  correct fallback for untrusted input, not the default, because the
  extra in-partition sort of the full raw scan is exactly what this
  module exists to avoid.

The two forms agree whenever the uniqueness contract holds (tested, and
the driver's events table satisfies it). Null values: ``min_by`` skips
null ordering keys; the series tables this engine rolls up carry
non-null t/values (gap-filled upstream) — filter explicitly otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import TIER_SECONDS


def rollup(
    points: DataFrame,
    tier: str = "1m",
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
    tie_safe: bool = False,
) -> DataFrame:
    """Aggregate raw points into one retention tier (see module docstring
    for the ``tie_safe`` physical-form tradeoff)."""
    sec = TIER_SECONDS[tier]
    bucket = (F.floor(F.col(time_col) / sec) * sec).cast("long").alias("bucket_start")
    if tie_safe:
        tv = F.struct(F.col(time_col).alias("t"), F.col(value_col).alias("v"))
        vfirst = F.min(tv).getField("v")
        vlast = F.max(tv).getField("v")
    else:
        vfirst = F.min_by(value_col, time_col)
        vlast = F.max_by(value_col, time_col)
    return points.groupBy(F.col(key_col).alias("series_key"), bucket).agg(
        F.count(value_col).alias("cnt"),
        F.sum(value_col).alias("vsum"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
        vfirst.alias("vfirst"),
        vlast.alias("vlast"),
    )


def cascade(lower: DataFrame, to_tier: str) -> DataFrame:
    """Roll a finer tier up into a coarser one without touching raw data.

    Exactness: cnt/sum/min/max compose associatively; first/last compose
    by picking the child bucket with the extreme bucket_start — child
    bucket_starts are UNIQUE per series (they're group keys of the finer
    tier), so this ``min_by``/``max_by`` is tie-FREE by construction and
    therefore deterministic for any input, while keeping the primitive
    ordering key that HashAggregateExec needs (no struct, no sort — the
    cascade reuses the finer tier's clustering). The child's own pick
    already applied rollup()'s ordering, so the composition reproduces
    ``rollup(raw, to_tier)`` exactly. Equals it bit-for-bit except vsum,
    where float addition order may differ at the last ulp (tests assert
    tight tolerance there, exactness elsewhere).
    """
    sec = TIER_SECONDS[to_tier]
    coarse = lower.withColumn("coarse_bucket", (F.floor(F.col("bucket_start") / sec) * sec).cast("long"))
    return (
        coarse.groupBy("series_key", "coarse_bucket")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("vsum").alias("vsum"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.min_by("vfirst", "bucket_start").alias("vfirst"),
            F.max_by("vlast", "bucket_start").alias("vlast"),
        )
        .withColumnRenamed("coarse_bucket", "bucket_start")
    )


def rollup_all_tiers(points: DataFrame, **kw) -> dict[str, DataFrame]:
    """1m from raw, then 1h and 1d by cascading — the cheap path."""
    r1m = rollup(points, "1m", **kw)
    r1h = cascade(r1m, "1h")
    r1d = cascade(r1h, "1d")
    return {"1m": r1m, "1h": r1h, "1d": r1d}


def _m4_bucket(t, bucket_sec: float):
    """Bucket label for the M4 shapes. Integral widths keep the long-typed
    label (hash-stable, SQL-friendly); fractional widths — the common case
    when ``bucket_sec = (t_max-t_min)/pixel_width`` — stay double, since a
    long cast would collapse distinct buckets (floor(2.4)*0.5 and
    floor(3.2)*0.5 both truncate to 1 — r4 self-review #2)."""
    b = F.floor(t / bucket_sec) * bucket_sec
    return b.cast("long") if float(bucket_sec).is_integer() else b


def downsample_m4(
    points: DataFrame,
    bucket_sec: float,
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
) -> DataFrame:
    """M4 visualization downsample (Jugel et al., VLDB 2014): per
    (series, time bucket), keep the actual ROWS that are the bucket's
    first, last, minimum-value and maximum-value points — the
    error-free reduction for line-chart rendering at any pixel width.

    Row selection is DETERMINISTIC under both value ties AND timestamp
    ties: each of the four roles picks by a total order over (t, value) —
    ((t, value), (t desc, value desc), (value, t), (value desc, t)) — so
    the output is hash-stable and reproducible in ANSI SQL (driver oracle,
    queries.q_downsample_m4) even when a (key, bucket) holds duplicate
    timestamps (r3 ADVICE: t alone left the first/last pick
    nondeterministic there). Rows identical in BOTH t and value are
    interchangeable, so no further tiebreaker is needed for output
    determinism.

    Shape: four ``row_number`` windows over the same (key, bucket)
    clustering — one shuffle carrying EVERY input row, then four
    in-partition sorts (one per ordering; they are separate sort passes,
    not a single stage) and a distinct. Kept as the reference shape and
    for value-null inputs; ``downsample_m4_agg`` is the sort-free
    aggregate form that wins at scale (measured ~1.8× at sf0.1 and
    shuffles only 4 structs per bucket instead of all rows — see
    BENCH/BASELINE.md). At serving scale note the M4 VALUES (without
    their timestamps) are already free in the rollup tiers
    (vmin/vmax/vfirst/vlast).
    """
    from pyspark.sql import Window

    pts = points.withColumn("bucket_start", _m4_bucket(F.col(time_col), bucket_sec))
    w = Window.partitionBy(key_col, "bucket_start")
    ranked = (
        pts.withColumn(
            "rn_first",
            F.row_number().over(w.orderBy(F.col(time_col).asc(), F.col(value_col).asc_nulls_last())),
        )
        .withColumn(
            "rn_last",
            F.row_number().over(w.orderBy(F.col(time_col).desc(), F.col(value_col).desc_nulls_last())),
        )
        .withColumn(
            "rn_min",
            F.row_number().over(w.orderBy(F.col(value_col).asc_nulls_last(), F.col(time_col).asc())),
        )
        .withColumn(
            "rn_max",
            F.row_number().over(w.orderBy(F.col(value_col).desc_nulls_last(), F.col(time_col).asc())),
        )
    )
    kept = ranked.where(
        (F.col("rn_first") == 1)
        | (F.col("rn_last") == 1)
        | (F.col("rn_min") == 1)
        | (F.col("rn_max") == 1)
    )
    return kept.select(key_col, "bucket_start", time_col, value_col).distinct()


def downsample_m4_agg(
    points: DataFrame,
    bucket_sec: float,
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
) -> DataFrame:
    """M4 as a pure AGGREGATE (r3 verdict #5): per (key, bucket) the four
    role rows are lexicographic min/max over (t, value) / (value, ±t)
    structs. The struct buffers make Catalyst plan SortAggregateExec (an
    in-partition sort by the group key — kept deliberately: M4's contract
    REQUIRES total-order tie-breaks identical to the window-form oracle
    under duplicate timestamps/values, which primitive ``min_by`` can't
    give), but unlike the window shape there is no per-bucket global
    window, and the map-side partial aggregate shuffles only four structs
    per bucket instead of every input row — the difference between an
    all-data shuffle and a metadata-sized one at 10^12 rows.
    Output and tie-breaks are IDENTICAL to ``downsample_m4``
    (same four total orders; ``rn_max``'s (value desc, t asc) order is
    ``max`` over (value, -t)) for non-null values; null values are not
    supported here (struct comparison would order them first, not last —
    use the window shape for nullable inputs).
    """
    t, v = F.col(time_col), F.col(value_col)
    bucket = _m4_bucket(t, bucket_sec).alias("bucket_start")
    agg = points.groupBy(F.col(key_col), bucket).agg(
        F.min(F.struct(t.alias("t"), v.alias("v"))).alias("r_first"),
        F.max(F.struct(t.alias("t"), v.alias("v"))).alias("r_last"),
        F.min(F.struct(v.alias("v"), t.alias("t"))).alias("r_min"),
        F.max(F.struct(v.alias("v"), (-t).alias("nt"))).alias("r_max"),
    )
    roles = F.array(
        F.struct(F.col("r_first.t").alias("t"), F.col("r_first.v").alias("v")),
        F.struct(F.col("r_last.t").alias("t"), F.col("r_last.v").alias("v")),
        F.struct(F.col("r_min.t").alias("t"), F.col("r_min.v").alias("v")),
        F.struct((-F.col("r_max.nt")).alias("t"), F.col("r_max.v").alias("v")),
    )
    return (
        agg.select(key_col, "bucket_start", F.explode(roles).alias("p"))
        .select(
            key_col,
            "bucket_start",
            F.col("p.t").alias(time_col),
            F.col("p.v").alias(value_col),
        )
        .distinct()
    )


def _lttb_indices(t, v, n_out):
    """Single-series LTTB (Steinarsson, "Downsampling Time Series for
    Visual Representation", 2013 — public): keep first/last; for each of
    the n_out−2 interior buckets pick the point forming the LARGEST
    triangle with the previously kept point and the next bucket's average.
    Sequential across buckets (each pick depends on the previous), but all
    candidate areas within a bucket are computed in one vectorized pass.
    NaN values never win a comparison (area NaN), so they are only kept if
    a bucket is entirely NaN (argmax falls back to index 0)."""
    import numpy as np

    n = len(t)
    if n_out >= n or n_out < 3:
        return np.arange(n)
    # n_out-2 equal interior buckets over points [1, n-1)
    edges = (np.arange(n_out - 1) * (n - 2) / (n_out - 2) + 1).astype(np.int64)
    edges[-1] = n - 1
    out = np.empty(n_out, dtype=np.int64)
    out[0] = 0
    out[-1] = n - 1
    a = 0
    for i in range(n_out - 2):
        lo, hi = edges[i], edges[i + 1]
        nlo, nhi = (hi, n - 1) if i == n_out - 3 else (edges[i + 1], edges[i + 2])
        # next bucket's average point (the algorithm's fixed third vertex);
        # the final interior bucket averages with the last point
        if nhi > nlo:
            avg_t = t[nlo:nhi].mean()
            avg_v = v[nlo:nhi].mean()
        else:
            avg_t, avg_v = t[n - 1], v[n - 1]
        ts = t[lo:hi]
        vs = v[lo:hi]
        area = np.abs(
            (t[a] - avg_t) * (vs - v[a]) - (t[a] - ts) * (avg_v - v[a])
        )
        k = lo + int(np.nanargmax(area)) if not np.all(np.isnan(area)) else lo
        out[i + 1] = k
        a = k
    return out


def lttb_downsample(
    points: DataFrame,
    n_out: int,
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
    num_partitions: int | None = None,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsample to ``n_out`` points per
    series — the perceptual line-chart reduction that complements M4 (M4
    is error-free for min/max/first/last rendering; LTTB preserves visual
    SHAPE at a fixed point budget). Sequential per series → same execution
    shape as the correction kernel: ``map_keyed`` on the key (one hash
    repartition, a JVM sort by (key, t), series-complete frames), numpy
    per series (vectorized candidate areas per bucket). Series shorter
    than ``n_out`` pass through unchanged; ``n_out < 3`` is rejected (the algorithm needs
    both anchors plus at least one interior bucket — silently returning
    everything would blow a caller's render budget, r4 self-review #9).
    """
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    from ._keyed import map_keyed

    if n_out < 3:
        raise ValueError(f"n_out must be >= 3 (got {n_out})")

    out_schema = T.StructType(
        [
            T.StructField(key_col, points.schema[key_col].dataType),
            T.StructField(time_col, T.DoubleType()),
            T.StructField(value_col, T.DoubleType()),
        ]
    )
    cols = [key_col, time_col, value_col]

    def _run(frames):
        for pdf, offsets in frames:
            keys = pdf[key_col].to_numpy()
            t_all = pdf[time_col].to_numpy(dtype=np.float64)
            v_all = pdf[value_col].to_numpy(dtype=np.float64)
            keys_l, t_l, v_l = [], [], []
            for s, e in zip(offsets[:-1], offsets[1:]):
                t, v = t_all[s:e], v_all[s:e]
                idx = _lttb_indices(t, v, n_out)
                keys_l.append(np.repeat(keys[s], len(idx)))
                t_l.append(t[idx])
                v_l.append(v[idx])
            yield pd.DataFrame(
                {
                    key_col: np.concatenate(keys_l),
                    time_col: np.concatenate(t_l),
                    value_col: np.concatenate(v_l),
                }
            )[cols]

    return map_keyed(
        points.select(*cols), (key_col,), (time_col,), _run, out_schema, num_partitions
    )
