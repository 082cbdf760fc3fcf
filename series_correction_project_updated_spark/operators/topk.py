"""Heavy-hitters (approximate top-k) tiers with SpaceSaving-style
error bounds.

Per (key, bucket) the tier stores a bounded summary whose per-item
counts carry explicit error (Misra–Gries / SpaceSaving, Metwally et al.
2005):

  items:  top-``m`` array<struct<item, lo, hi>> — lo/hi bound the
          item's true in-bucket count (exact rollup ⇒ lo == hi),
  err:    bound on the true count of any ABSENT item,
  n:      exact total (always sums exactly).

Within a bucket counts are EXACT (a JVM hash aggregate), so ``err`` is
the largest dropped count (0 when everything fit). Invariants,
test-pinned:

    lo <= true count <= hi            for every kept item
    true(absent item) <= err
    every bucket fits in m  =>  the summary is the exact count table

Execution: exact counts = one map-side-combining hash aggregate over
raw; summarization = sort_array + slice (JVM). No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import TIER_SECONDS


def _bucket(time_col: str, sec: int):
    t = F.col(time_col).cast("timestamp_ltz").cast("double")
    return (F.floor(t / sec) * sec).cast("long")


def _summarize(grouped: DataFrame, key_cols: list[str], m: int) -> DataFrame:
    """(keys..., _arr sorted desc by hi, n) -> top-m summary columns.

    ``_arr`` elements are struct(hi, lo, item) so sort_array's struct
    ordering ranks by upper bound first (SpaceSaving keeps by upper);
    ties break on lo then item — deterministic."""
    arr = F.col("_arr")
    kept = F.slice(arr, 1, m)
    dropped = F.slice(arr, m + 1, F.greatest(F.size(arr) - m, F.lit(0)))
    max_dropped = F.when(
        F.size(dropped) > 0, F.array_max(F.transform(dropped, lambda s: s["hi"]))
    ).otherwise(F.lit(0.0))
    return grouped.select(
        *key_cols,
        F.transform(
            kept, lambda s: F.struct(s["item"].alias("item"), s["lo"].alias("lo"), s["hi"].alias("hi"))
        ).alias("items"),
        F.greatest(max_dropped, F.lit(0.0)).alias("err"),
        F.col("n"),
    )


def topk_rollup(
    events: DataFrame,
    tier: str = "1h",
    m: int = 20,
    key_col: str | None = None,
    time_col: str = "ts",
    item_col: str = "event_type",
) -> DataFrame:
    """Per-bucket top-``m`` summary over exact in-bucket counts.
    ``key_col=None`` gives global per-bucket rankings."""
    sec = TIER_SECONDS[tier]
    keys = ([F.col(key_col)] if key_col else []) + [
        _bucket(time_col, sec).alias("bucket_start")
    ]
    key_names = ([key_col] if key_col else []) + ["bucket_start"]
    counts = (
        events.where(F.col(item_col).isNotNull())
        .groupBy(*keys, F.col(item_col).cast("string").alias("item"))
        .agg(F.count("*").cast("double").alias("cnt"))
    )
    grouped = counts.groupBy(*key_names).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("cnt").alias("hi"),
                    F.col("cnt").alias("lo"),
                    F.col("item"),
                )
            ),
            asc=False,
        ).alias("_arr"),
        F.sum("cnt").cast("long").alias("n"),
    )
    return _summarize(grouped, key_names, m)
