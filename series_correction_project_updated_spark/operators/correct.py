"""Distributed discontinuity correction — the segmenting Arrow kernel.

The reference pipeline's per-series logic (CUSUM reset scan, rolling exact
median/MAD, positional-index step composition — reference
scripts/processor.py:540-572) is inherently sequential WITHIN a series but
embarrassingly parallel ACROSS series. Every kernel entry is one call into
``_correct_partitions``: one exchange that puts each segment (a series, or a
(series, time-chunk) on the hot-series path) wholly in one partition, a
sort by segment within each partition, then one ``mapInPandas`` that runs
the array-native single-node oracle (``oracle.process_tv``) once per
segment and hands the corrected segments to an emitter — points, the
finest rollup tier, or rollup plus lineage plus the tier's Gorilla chunks.

Scale notes (100 TB / 10^12 rows):
- Shuffle: exactly ONE hash shuffle on the segment columns; everything
  downstream (rollups) re-uses that clustering where possible. Off a
  bucketed point store (sources/bucketstore) even that shuffle disappears —
  ``assume_clustered=True`` makes the job scan → kernel, zero exchanges.
- Skew: a hot url can dwarf others. ``correct_series_chunked`` splits long
  series into fixed TIME chunks (default 1 year, mirroring the reference's
  own year-file decomposition) processed independently, then realigns chunk
  boundaries with level shifts (scripts/apply_refined_corrections.py) via
  ``operators/level_shift.py``.
- Memory: the kernel reads each partition through ``operators/_keyed``: a
  JVM sort on the segment columns (it spills), then frames that each hold
  only complete segments, cut from the Arrow batch stream. A task holds
  about one Arrow batch plus its largest segment, not its partition. A
  series too large for one Python worker goes through
  ``correct_series_chunked``, whose segments are (series, time-chunk).
- Null vs NaN: Spark nulls become NaN inside Arrow (doubles) — the oracle is
  NaN-native, and output NaN maps back to NULL-free doubles or null as-is.
- Null keys: a row with a null series key (or chunk) yields no output in
  any entry; ``map_keyed`` drops it in the JVM before the exchange.
"""

from __future__ import annotations

from functools import partial
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructType

from ..oracle import correction as oracle
from ..oracle.global_mad import MAD_FLOOR, Z_CONST
from ..schema import CORRECTED_POINTS, ROLLUP, ROLLUP_WITH_LINEAGE, TIER_SECONDS
from ._keyed import KeyedFrame, map_keyed
from .compress import chunk_frame, chunk_starts

#: one corrected segment: (segment key tuple, t_out, v_out, lineage stats)
Segment = tuple[tuple, np.ndarray, np.ndarray, list]

#: points emitters flush an Arrow batch once this many rows are buffered
_POINTS_BATCH_ROWS = 262_144


def _correct_partitions(
    points: DataFrame,
    segment_cols: tuple[str, ...],
    config: dict[str, Any] | None,
    emit: Callable[[Iterator[Segment]], Iterator[pd.DataFrame]],
    schema: StructType | str,
    num_partitions: int | None = None,
    partitioner: str | None = "hash",
) -> DataFrame:
    """The one partition loop behind every kernel entry.

    Clusters ``points`` (columns ``t``, ``value`` and ``segment_cols``) on
    the segment columns through ``map_keyed`` (``partitioner`` as there),
    runs ``process_tv`` once per segment of each series-complete frame, and
    ``emit`` turns the stream of ``(key, t_out, v_out, stats)`` into output
    frames. The JVM sort is on the segment columns only: rows of one
    segment keep their arrival order, which is what ``process_tv``'s own
    pandas-permutation time sort has always seen.

    Null keys: a row with a null in any segment column yields no output in
    every entry — ``map_keyed`` drops it in the JVM, before the exchange.
    """
    cfg = {**oracle.DEFAULT_CONFIG, **(config or {})}

    def _segments(frames: Iterator[KeyedFrame]) -> Iterator[Segment]:
        for pdf, offsets in frames:
            keys = [pdf[c].to_numpy() for c in segment_cols]
            t = pdf["t"].to_numpy(dtype=np.float64)
            v = pdf["value"].to_numpy(dtype=np.float64)
            for s, e in zip(offsets[:-1], offsets[1:]):
                t_out, v_out, stats = oracle.process_tv(t[s:e], v[s:e], cfg)
                yield tuple(k[s] for k in keys), t_out, v_out, stats

    return map_keyed(
        points, segment_cols, (), lambda frames: emit(_segments(frames)), schema, num_partitions,
        partitioner,
    )


def _batched(segments: Iterator[Segment]) -> Iterator[list[Segment]]:
    """Corrected segments grouped until ~256k output rows are buffered
    (large Arrow batches instead of one per series)."""
    buf: list[Segment] = []
    buffered = 0
    for seg in segments:
        buf.append(seg)
        buffered += len(seg[1])
        if buffered >= _POINTS_BATCH_ROWS:
            yield buf
            buf, buffered = [], 0
    if buf:
        yield buf


def _emit_points(segments: Iterator[Segment], key_cols: tuple[str, ...]) -> Iterator[pd.DataFrame]:
    """Corrected rows. Gap-inserted rows carry interpolated values, or NaN
    for an all-NaN series (the oracle mirrors the reference's gap rows,
    scripts/discontinuity_utils.py:137-140)."""
    for buf in _batched(segments):
        lens = [len(t) for _, t, _, _ in buf]
        frame = {
            c: np.repeat(np.asarray([key[i] for key, _, _, _ in buf], dtype=object), lens)
            for i, c in enumerate(key_cols)
        }
        frame["t"] = np.concatenate([t for _, t, _, _ in buf])
        frame["value"] = np.concatenate([v for _, _, v, _ in buf])
        yield pd.DataFrame(frame)


def _rollup_frame(buf: list[Segment], sec: int) -> pd.DataFrame:
    """The buffered segments' tier buckets, aggregated in one vectorized pass."""
    return _bucket_rollup_partition(
        [t for _, t, _, _ in buf], [v for _, _, v, _ in buf], [key for (key,), _, _, _ in buf], sec
    )


def _emit_rollup(segments: Iterator[Segment], sec: int) -> Iterator[pd.DataFrame]:
    for buf in _batched(segments):
        yield _rollup_frame(buf, sec)


def _union_frame(sides: dict[str, pd.DataFrame]) -> pd.DataFrame:
    """The ``row_kind`` sides stacked into one ``ROLLUP_WITH_LINEAGE`` frame,
    built column by column: a side's missing columns are typed nulls
    (masked ``IntegerArray`` for longs, NaN for doubles, ``None`` objects
    otherwise). ``pd.concat`` of widened frames gives the same Arrow batch
    but pays pandas' all-NA checks on every ``None`` object column."""
    items = [(side, len(side)) for side in sides.values()]

    def stacked(name: str, dtype: Any, fill: Any) -> np.ndarray:
        return np.concatenate([
            side[name].to_numpy(dtype) if name in side else np.full(n, fill, dtype=dtype)
            for side, n in items
        ])

    cols: dict[str, Any] = {}
    for f in ROLLUP_WITH_LINEAGE.fields:
        if f.name == "row_kind":
            cols[f.name] = np.repeat(np.array(list(sides), dtype=object), [n for _, n in items])
        elif isinstance(f.dataType, LongType):
            # 1 under the mask, as pandas fills it: the Arrow stream is
            # byte-identical to the concatenated frames'
            missing = np.concatenate([np.full(n, f.name not in side) for side, n in items])
            cols[f.name] = pd.arrays.IntegerArray(stacked(f.name, np.int64, 1), missing)
        elif isinstance(f.dataType, DoubleType):
            cols[f.name] = stacked(f.name, np.float64, np.nan)
        else:
            cols[f.name] = stacked(f.name, object, None)
    return pd.DataFrame(cols)


def _emit_rollup_lineage(segments: Iterator[Segment], tier: str) -> Iterator[pd.DataFrame]:
    """Tier buckets, per-series lineage rows and the tier's Gorilla chunks,
    as one ``row_kind`` union frame per buffer of segments.

    A segment is never split across buffers, so every (series, chunk) run
    of a buffer's buckets is complete. ``vsum`` is encoded as it reads back
    from the written tier: Spark stores NaN from pandas as null, and null
    reads back as the canonical ``np.nan``."""
    lin_cols = ["series_key", "step", "n_detected", "n_rows_in", "n_rows_out", "detail"]
    for buf in _batched(segments):
        agg = _rollup_frame(buf, TIER_SECONDS[tier])
        lin = pd.DataFrame(
            [
                (key, st, int(d), int(i), int(o), det)
                for (key,), _t, _v, stats in buf
                for st, d, i, o, det in stats
            ],
            columns=lin_cols,
        )
        keys = agg["series_key"].to_numpy()
        ts = agg["bucket_start"].to_numpy()
        cstarts = chunk_starts(ts, tier)
        change = np.ones(len(agg), dtype=bool)
        change[1:] = (keys[1:] != keys[:-1]) | (cstarts[1:] != cstarts[:-1])
        vsum = agg["vsum"].to_numpy()
        chunks = chunk_frame(
            keys, cstarts, ts, np.where(np.isnan(vsum), np.nan, vsum),
            np.append(np.flatnonzero(change), len(agg)), tier,
        )
        yield _union_frame({"rollup": agg, "lineage": lin, "chunk": chunks})


def correct_series(
    points: DataFrame,
    config: dict[str, Any] | None = None,
    num_partitions: int | None = None,
    assume_clustered: bool = False,
    partitioner: str = "hash",
) -> DataFrame:
    """Run the full 3-step correction per series. Returns (series_key, t, value).

    ``points``: long-format (series_key, t:double epoch-seconds, value:double).

    Execution shape: ONE explicit hash shuffle on the series key (explicit
    ``repartition`` rather than groupBy's implicit exchange, for two scale
    reasons), a JVM sort by key within each partition, then
    ``mapInPandas`` over series-complete frames:

    1. AQE's bytes-based partition coalescing is blind to Python cost — on a
       small-bytes/heavy-compute kernel stage it coalesces to ~1 task and
       serializes the job (measured 22s → 8s at sf0.1/local[32]). A
       user-specified repartition is exempt from AQE coalescing and still
       satisfies the clustering requirement, so no second exchange happens.
    2. ``groupBy().applyInPandas`` pays per-GROUP Arrow/pandas setup — ruinous
       for many small series. ``mapInPandas`` streams each partition as one
       Arrow sequence, cut into frames of whole series at key boundaries
       (hash partitioning guarantees no series straddles partitions).

    ``assume_clustered``: the caller guarantees no series straddles input
    partitions (a bucketed store read via sources/bucketstore — the
    write-time shuffle already clustered by key), so the kernel's one
    exchange disappears and the whole job is scan → sort → kernel. The
    partition count is then the store's bucket count, fixed at write time.

    ``partitioner="range"``: cluster with ``repartitionByRange(key)``
    instead of a hash exchange. Same whole-series-per-partition guarantee,
    but partitions come out ORDERED by key, so a caller that needs globally
    sorted output can follow the kernel with a shuffle-free
    ``sortWithinPartitions(key, t)`` instead of a global orderBy. That
    matters because gap-fill EXPANDS the data — the range sampling here
    reads the small pre-expansion input, where an orderBy after the kernel
    would sample AND shuffle the multiplied output (measured 9.3s → ~4s on
    q_gapfill_linear at sf0.1, whose 100k input rows gap-fill to 3.6M
    output rows).
    """
    return _correct_partitions(
        points,
        ("series_key",),
        config,
        partial(_emit_points, key_cols=("series_key",)),
        CORRECTED_POINTS,
        num_partitions,
        None if assume_clustered else partitioner,
    )


def correct_and_rollup(
    points: DataFrame,
    tier: str = "1m",
    config: dict[str, Any] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Correction kernel FUSED with the finest rollup tier — the production
    fast path for the pipeline's first stage.

    Equivalent to ``rollup(correct_series(points), tier)`` but with a far
    better physical plan: each series is already time-sorted inside the
    kernel, so the bucket aggregation is one vectorized pass there —
    first/last read straight off the sort order, and the job needs NO
    post-kernel shuffle and no JVM aggregation at all. The staged form pays
    a second 10^12-row shuffle and, worse, its ``min_by``/``max_by``
    aggregates run on ObjectHashAggregate, which sort-falls-back and spills
    on high-cardinality buckets (measured 2.2× the stage time at 12.8M
    points).

    Aggregate semantics match ``operators.rollup.rollup`` exactly: cnt/min/
    max skip missing values, an all-missing bucket keeps a null vsum, and
    vfirst/vlast are the bucket's first/last value in time order whether or
    not missing (Spark's ``min_by`` does not skip nulls — ``nth``, not
    pandas ``first``). vsum may differ from the staged form in the last ulp
    (pairwise vs sequential float association); tests bound it.
    """
    emit = partial(_emit_rollup, sec=TIER_SECONDS[tier])
    return _correct_partitions(points, ("series_key",), config, emit, ROLLUP, num_partitions)


def correct_rollup_lineage(
    points: DataFrame,
    tier: str = "1m",
    config: dict[str, Any] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """``correct_and_rollup`` that ALSO emits per-series lineage rows from
    the SAME kernel execution — rollup and lineage in one pass over raw
    points (the pipeline's dominant stage runs once, not twice).

    Lineage rows mirror the reference's correction-log record
    (scripts/apply_refined_corrections.py:185-194) at series granularity:
    one ``(step, n_detected, n_rows_in, n_rows_out, detail)`` row per step.

    The same pass also Gorilla-encodes the tier it has just rolled up
    (``operators.compress.chunk_frame``, default ``CHUNK_BUCKETS``), so the
    build pipeline needs no second shuffle of the tier to compress it.

    Output is a union-typed table discriminated by ``row_kind``:
    ``'rollup'`` rows carry the ROLLUP columns, ``'lineage'`` rows the
    LINEAGE columns and ``'chunk'`` rows the COMPRESSED columns, payload
    bytes equal to ``compress_rollup`` of the rollup rows; every other
    column of a row is null. Callers split with a filter.
    """
    emit = partial(_emit_rollup_lineage, tier=tier)
    return _correct_partitions(
        points, ("series_key",), config, emit, ROLLUP_WITH_LINEAGE, num_partitions
    )


def correct_series_chunked(
    points: DataFrame,
    config: dict[str, Any] | None = None,
    chunk_sec: float = 365.0 * 86400,
) -> DataFrame:
    """Skew-capped variant: split each series into fixed time chunks (default
    1 year, matching the reference's year-file decomposition), correct each
    chunk independently in parallel, then realign chunk boundaries with the
    reference's level-shift rule (tail-5 vs head-5 non-zero averages,
    chained cumulatively — scripts/apply_refined_corrections.py:167-194).

    Segments become (series_key, chunk), so one hot series spreads over
    many tasks (``spark.sql.shuffle.partitions`` of them) and a Python
    worker holds one chunk of it at a time. Trade-off vs ``correct_series``:
    detection near chunk edges sees less context (exactly like the
    reference's per-year files).
    """
    from .level_shift import apply_boundary_shifts

    chunked = points.withColumn("chunk", (F.col("t") / F.lit(chunk_sec)).cast("long"))
    key_cols = ("series_key", "chunk")
    n = int(points.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    corrected = _correct_partitions(
        chunked,
        key_cols,
        config,
        partial(_emit_points, key_cols=key_cols),
        "series_key string not null, chunk long not null, t double, value double",
        n,
    )
    # both branches of the realignment (the boundary aggregates and the
    # join back) read this one exchange, so Spark reuses it and the kernel
    # runs once; the keys are declared NOT NULL so no inferred null filter
    # lands on one branch only and breaks the reuse
    realigned = apply_boundary_shifts(corrected.repartition(n, *key_cols))
    return realigned.select("series_key", "t", "value")


def _bucket_rollup_partition(ts_list: list, vs_list: list, keys: list, sec: int) -> pd.DataFrame:
    """Tier aggregation of a buffer of corrected series in ONE
    vectorized pass (r4): each series frame is time-sorted by the kernel,
    so its tier buckets are CONTIGUOUS RUNS — run boundaries are the union
    of series starts and bucket changes, found with one ``diff``, and
    every aggregate is a ``reduceat`` over those boundaries. Replaces the
    per-series pandas-groupby form (kept below as ``_bucket_rollup``, the
    reference for the equality test): at the 1m tier a 20s-cadence
    partition holds ~3 points per bucket, so the pandas path paid ~130k
    tiny groups × 6 aggregation kernels plus a frame build per series —
    measured 40% of the kernel stage's Python time; this pass is ~20×
    faster on the same partition.

    Aggregate semantics are identical to ``_bucket_rollup`` (exact on
    cnt/min/max/first/last — ``fmin/fmax.reduceat`` skip NaN, positions
    read first/last including NaN; test-pinned): cnt counts non-NaN, an
    all-NaN bucket keeps a NaN vsum. vsum is a per-run ``add.reduceat``
    (plain sequential fold) where pandas groupby-sum uses Kahan
    compensation — a last-ulp difference on some buckets, the SAME
    association family as the staged JVM sum and inside the tolerance the
    fused-vs-staged test already bounds.
    """
    t = np.concatenate(ts_list) if ts_list else np.array([], dtype=np.float64)
    v = np.concatenate(vs_list) if vs_list else np.array([], dtype=np.float64)
    lens = np.fromiter((len(a) for a in ts_list), dtype=np.int64, count=len(ts_list))
    cols = ["series_key", "bucket_start", "cnt", "vsum", "vmin", "vmax", "vfirst", "vlast"]
    if len(t) == 0:
        return pd.DataFrame(
            {
                "series_key": pd.array([], dtype=object),
                "bucket_start": np.array([], dtype=np.int64),
                "cnt": np.array([], dtype=np.int64),
                "vsum": np.array([], dtype=np.float64),
                "vmin": np.array([], dtype=np.float64),
                "vmax": np.array([], dtype=np.float64),
                "vfirst": np.array([], dtype=np.float64),
                "vlast": np.array([], dtype=np.float64),
            }
        )[cols]
    series_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    bucket = (np.floor(t / sec) * sec).astype("int64")
    change = np.empty(len(t), dtype=bool)
    change[0] = True
    np.not_equal(bucket[1:], bucket[:-1], out=change[1:])
    # a TRAILING zero-length series puts len(t) in series_starts — mask it
    # before indexing (interior zero-length entries are harmless: they
    # share the next series' start, which must split anyway)
    change[series_starts[series_starts < len(t)]] = True  # same bucket across a series boundary still splits
    starts = np.flatnonzero(change)
    ends = np.concatenate((starts[1:], [len(t)]))
    ok = ~np.isnan(v)
    cnt = np.add.reduceat(ok.astype(np.int64), starts)
    vsum = np.add.reduceat(np.where(ok, v, 0.0), starts)
    vsum = np.where(cnt > 0, vsum, np.nan)
    nanv = np.where(ok, v, np.nan)
    # zero-length series own no rows; side="right" maps each run to the
    # LAST series starting at/before it, which is the one that owns it
    sidx = np.searchsorted(series_starts, starts, side="right") - 1
    return pd.DataFrame(
        {
            "series_key": np.asarray(keys, dtype=object)[sidx],
            "bucket_start": bucket[starts],
            "cnt": cnt,
            "vsum": vsum,
            "vmin": np.fmin.reduceat(nanv, starts),
            "vmax": np.fmax.reduceat(nanv, starts),
            "vfirst": v[starts],
            "vlast": v[ends - 1],
        }
    )[cols]


def _bucket_rollup(out: pd.DataFrame, key, sec: int) -> pd.DataFrame:
    """Vectorized tier aggregation of one corrected series frame (already
    time-sorted by the kernel, so vfirst/vlast read straight off the order).
    Reference (pandas-groupby) form — production partitions go through
    ``_bucket_rollup_partition``; the equality test pins the two."""
    bucket = (np.floor(out["t"].to_numpy() / sec) * sec).astype("int64")
    vals = out["value"]
    g = vals.groupby(bucket)
    agg = pd.DataFrame(
        {
            "cnt": g.count().astype("int64"),
            "vsum": g.sum(min_count=1),
            "vmin": g.min(),
            "vmax": g.max(),
            "vfirst": g.nth(0).to_numpy(),
            "vlast": g.nth(-1).to_numpy(),
        }
    ).reset_index(names="bucket_start")
    agg.insert(0, "series_key", key)
    return agg[["series_key", "bucket_start", "cnt", "vsum", "vmin", "vmax", "vfirst", "vlast"]]


def detect_gaps_native(
    points: DataFrame,
    threshold_factor: float = 3.0,
    key_col: str = "series_key",
    time_col: str = "t",
) -> DataFrame:
    """Gap DETECTION as pure built-in Spark (no Python) — the fast path.

    Matches oracle.detect_gaps: per series, flag rows whose distance to the
    previous sample exceeds ``threshold_factor`` × the exact median interval
    (reference scripts/processor.py:46-115). Exact ``median`` aggregate +
    lag window; one shuffle, whole-stage codegen throughout.

    Returns (series_key, t, prev_t, delta) rows that START after a gap.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(time_col)
    with_delta = points.withColumn("prev_t", F.lag(time_col).over(w)).withColumn(
        "delta", F.col(time_col) - F.col("prev_t")
    )
    med = with_delta.where(F.col("delta").isNotNull()).groupBy(key_col).agg(
        F.median("delta").alias("median_delta")
    )
    return (
        with_delta.join(F.broadcast(med), key_col)
        .where(
            (F.col("median_delta") > 0)
            & (F.col("delta") > F.lit(threshold_factor) * F.col("median_delta"))
        )
        .select(key_col, time_col, "prev_t", "delta")
    )


def global_mad_correct_native(
    points: DataFrame,
    threshold: float = 3.0,
    key_col: str = "series_key",
    value_col: str = "value",
) -> DataFrame:
    """The reference's global-MAD outlier variant in PURE native Spark SQL —
    no Python in the hot path (updated_processor.py:27-54 semantics).

    Per series: median, MAD = median(|v − median|) floored at 1e-4,
    z = 0.6745·|v − median|/MAD; z > threshold ⇒ replace with median.
    Adds columns ``corrected`` and ``is_outlier``.
    """
    med = points.groupBy(key_col).agg(F.median(value_col).alias("gmedian"))
    with_med = points.join(F.broadcast(med), key_col)
    mad = (
        with_med.groupBy(key_col)
        .agg(F.median(F.abs(F.col(value_col) - F.col("gmedian"))).alias("gmad"))
        .withColumn("gmad", F.greatest(F.col("gmad"), F.lit(MAD_FLOOR)))
    )
    z = F.lit(Z_CONST) * F.abs(F.col(value_col) - F.col("gmedian")) / F.col("gmad")
    flagged = F.when(z > threshold, True).otherwise(False)
    return (
        with_med.join(F.broadcast(mad), key_col)
        .withColumn("is_outlier", F.coalesce(flagged, F.lit(False)))
        .withColumn(
            "corrected",
            F.when(F.col("is_outlier"), F.col("gmedian")).otherwise(F.col(value_col)),
        )
        .drop("gmedian", "gmad")
    )
