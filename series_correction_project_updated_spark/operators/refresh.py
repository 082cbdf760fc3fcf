"""Incremental tier refresh for late / out-of-order data.

The streaming 1m tier absorbs late pages only inside its watermark
(``streaming/rollup_stream.py``); anything later lands in batch. Without
this module the batch answer is a FULL re-rollup — at 10^12 rows that
recomputes everything to absorb a trickle. This is invalidation-based
refresh instead (the design continuous-aggregate stores use: log the
(key, bucket) regions late rows touch, recompute only those regions,
splice them into the standing tier):

1. ``invalidated_buckets(late, tier)`` — the distinct (series_key,
   bucket_start) pairs the late rows touch. Tiny relative to the tier.
2. ``refresh_tier(tier_df, points, late, tier)`` — recompute ONLY the
   invalidated buckets from the point store (which already includes the
   late rows) and splice: ``tier ⟕ anti-join invalidation ∪ recomputed``.
   Exactness is by construction — recomputed buckets are ``rollup()``
   output over exactly their rows — and tested against the full
   re-rollup.
3. ``refresh_cascade(fine, coarse, invalidation, to_tier)`` — propagate
   a fine-tier refresh upward: coarse buckets covering any invalidated
   fine bucket are recomputed from the REFRESHED fine tier via the same
   ``cascade()`` aggregate, so the composition law (and its
   duplicate-timestamp determinism) is identical to a from-scratch
   cascade.
4. ``recorrect_series(points, late, old_corrected)`` — the correction
   kernel's windowed scans mean a late point can change corrected values
   anywhere in its series, so kernel-level invalidation is per SERIES:
   re-run ``correct_series`` only for series_keys present in the late
   batch, keep every other series' standing output. The kernel is
   per-series deterministic, so this equals the full re-run exactly.

Scale shape: the invalidation set and the touched-series key set are
small (late data is a trickle by definition), so both joins broadcast;
the bucket recompute reads only the touched buckets — on a
``bucket_date``-partitioned store (operators/retention.py) that scan is
partition-pruned; the splice's anti-join shuffles tier rows, never raw
points. Nothing here scans the full point store.

No reference counterpart (the reference recomputes files whole); this is
new surface for the rollup/retention engine, like rollup itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.timeutil import utc_day
from ..schema import TIER_SECONDS
from .rollup import cascade, rollup


def _bucket_expr(time_col: str, sec: int):
    return (F.floor(F.col(time_col) / sec) * sec).cast("long")


def invalidated_buckets(
    late: DataFrame,
    tier: str = "1m",
    key_col: str = "series_key",
    time_col: str = "t",
) -> DataFrame:
    """Distinct (series_key, bucket_start) pairs touched by ``late``."""
    sec = TIER_SECONDS[tier]
    return late.select(
        F.col(key_col).alias("series_key"),
        _bucket_expr(time_col, sec).alias("bucket_start"),
    ).distinct()


def refresh_tier(
    tier_df: DataFrame,
    points: DataFrame,
    late: DataFrame,
    tier: str = "1m",
    key_col: str = "series_key",
    time_col: str = "t",
    value_col: str = "value",
    prune_partition_col: str | None = None,
) -> DataFrame:
    """Splice recomputed invalidated buckets into a standing tier.

    ``points`` is the post-ingest point store (late rows already merged);
    ``late`` is just the late batch, used only to derive the invalidation
    set. Equals ``rollup(points, tier)`` exactly (tested), at the cost of
    recomputing only the touched buckets.

    ``prune_partition_col``: name of a UTC-day partition column in the
    point store (written like ``retention.write_tier_partitioned``:
    ``date_from_unix_date(floor(t / 86400))``). When set, the touched
    DATES are collected driver-side (bounded — the invalidation set is a
    trickle, and distinct dates ≤ distinct buckets) and applied as a
    STATIC ``isin`` filter, so Catalyst prunes untouched day directories
    at the scan instead of reading the whole store to evaluate the
    semi-join. Sound because every tier bucket lies wholly inside one UTC
    day (60, 3600 and 86400 all divide 86400), so a bucket's points share
    its ``bucket_start`` date. Equivalence with the unpruned path is
    tested against a partitioned parquet store.
    """
    sec = TIER_SECONDS[tier]
    inv = invalidated_buckets(late, tier, key_col, time_col)
    if prune_partition_col is not None:
        dates = [
            r[0]
            for r in inv.select(utc_day("bucket_start").alias("d"))
            .distinct()
            .collect()
        ]
        points = points.filter(F.col(prune_partition_col).isin(dates))
    affected = points.join(
        F.broadcast(inv),
        (points[key_col] == inv["series_key"])
        & ((F.floor(points[time_col] / sec) * sec).cast("long") == inv["bucket_start"]),
        "left_semi",
    )
    recomputed = rollup(affected, tier, key_col, time_col, value_col)
    kept = tier_df.join(
        F.broadcast(inv), ["series_key", "bucket_start"], "left_anti"
    )
    return kept.unionByName(recomputed)


def write_points_partitioned(
    points: DataFrame, path: str, time_col: str = "t"
) -> None:
    """Write a point store partitioned by UTC day — the layout
    ``refresh_tier(prune_partition_col="bucket_date")`` prunes against.
    Same pure-UTC-day arithmetic as ``retention.write_tier_partitioned``
    (session-timezone independent)."""
    points.withColumn("bucket_date", utc_day(time_col)).write.mode(
        "overwrite"
    ).partitionBy("bucket_date").parquet(path)


def refresh_cascade(
    fine_refreshed: DataFrame,
    coarse_df: DataFrame,
    invalidation: DataFrame,
    to_tier: str,
) -> DataFrame:
    """Propagate a fine-tier refresh into the next coarser tier.

    ``invalidation`` is the FINE-tier invalidation set (output of
    ``invalidated_buckets`` for the fine tier); coarse buckets covering
    any invalidated fine bucket are re-cascaded from the refreshed fine
    tier, the rest of ``coarse_df`` is kept as-is. Equals
    ``cascade(fine_refreshed, to_tier)`` exactly.
    """
    sec = TIER_SECONDS[to_tier]
    coarse_inv = invalidation.select(
        "series_key",
        _bucket_expr("bucket_start", sec).alias("bucket_start"),
    ).distinct()
    affected_fine = fine_refreshed.join(
        F.broadcast(coarse_inv),
        (fine_refreshed["series_key"] == coarse_inv["series_key"])
        & (
            (F.floor(fine_refreshed["bucket_start"] / sec) * sec).cast("long")
            == coarse_inv["bucket_start"]
        ),
        "left_semi",
    )
    recomputed = cascade(affected_fine, to_tier)
    kept = coarse_df.join(
        F.broadcast(coarse_inv), ["series_key", "bucket_start"], "left_anti"
    )
    return kept.unionByName(recomputed)


def recorrect_series(
    points: DataFrame,
    late: DataFrame,
    old_corrected: DataFrame,
    config: dict | None = None,
) -> DataFrame:
    """Re-run the correction kernel ONLY for series touched by ``late``.

    The kernel's rolling windows, gap linspaces and CUSUM offsets make a
    late point's influence span its whole series, so correction-level
    invalidation is the series itself — still a huge win, because a late
    batch touches few series and ``correct_series`` is embarrassingly
    parallel per series. Exactly equals re-running the kernel on all of
    ``points`` (per-series determinism; tested).
    """
    from .correct import correct_series

    touched = late.select("series_key").distinct()
    to_redo = points.join(F.broadcast(touched), "series_key", "left_semi")
    kept = old_corrected.join(F.broadcast(touched), "series_key", "left_anti")
    return kept.unionByName(correct_series(to_redo, config=config))
