"""Spark operator: compress rolled-up points into Gorilla chunks.

Each (series_key, retention-window chunk) of a rollup tier becomes ONE
binary payload holding the bucket timestamps (delta-of-delta — rollup
buckets are near-regular, so most deltas-of-deltas are 0 ⇒ ~1 bit/ts) and
one chosen aggregate column (Gorilla XOR). Grouped Arrow UDF: the executor
sees whole chunks as numpy arrays, the driver never touches data.

Memory: the encoder reads each partition through ``operators/_keyed`` —
frames of whole (series, chunk) groups cut from the JVM-sorted Arrow
batch stream — so a task holds about one Arrow batch plus its largest
chunk, not its partition.

One encoder: ``chunk_frame`` turns flat (series, chunk)-sorted arrays plus
group offsets into ``COMPRESSED`` rows. ``compress_rollup`` calls it on a
written tier; the build pipeline's kernel pass (``operators/correct``,
``correct_rollup_lineage``'s ``chunk`` rows) calls it on the finest tier it
has just rolled up, so the build never re-reads or re-shuffles that tier
to encode it. The kernel pass cuts chunks with ``chunk_starts``, the numpy
twin of ``compress_rollup``'s Spark expression; payloads are the same
bytes either way.

Chunking: ``chunk_buckets`` buckets per payload — default ``CHUNK_BUCKETS``
= 16384 (~11 days of 1m buckets, ~2 years of 1h). Chunks need to be
thousands of points for the vectorized encoder to amortize; sub-100-point
chunks are dominated by NumPy setup. At 10^12 raw rows the tier tables are
~60-86400× smaller; compression output is the retention artifact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import compress as codec
from ..schema import COMPRESSED, TIER_SECONDS
from ._keyed import map_keyed


#: default tier buckets per Gorilla chunk
CHUNK_BUCKETS = 16384


def chunk_starts(bucket_start: np.ndarray, tier: str) -> np.ndarray:
    """Each bucket's chunk start at the default chunk size:
    ``floor(bucket_start / span) * span`` with ``span = tier seconds ×
    CHUNK_BUCKETS`` — the same cut as the Spark expression in
    ``compress_rollup`` and ``refresh_compressed``."""
    span = TIER_SECONDS[tier] * CHUNK_BUCKETS
    return np.floor(np.asarray(bucket_start, dtype=np.int64) / span).astype(np.int64) * span


def chunk_frame(
    keys: np.ndarray,
    cstarts: np.ndarray,
    ts: np.ndarray,
    vals: np.ndarray,
    offsets: np.ndarray,
    tier: str,
) -> pd.DataFrame:
    """Flat rows sorted by (series, chunk, bucket_start) → one ``COMPRESSED``
    frame, one row per group ``[offsets[i], offsets[i+1])``.

    Every group is encoded in ONE flat pass (``codec.encode_chunks``): the
    former per-group pandas groupby loop paid ~20 small-numpy-call
    overheads per chunk — measured 2.5× per thread on the sf0.1 1m-tier
    distribution (1,500 × ~234-pt chunks, 530k → 1.32M pts/s), ~2.6× at
    60-point chunks."""
    ts = np.asarray(ts, dtype=np.int64)
    offsets = np.asarray(offsets, dtype=np.int64)
    g0 = offsets[:-1]  # first row of each group (ts sorted within)
    g1 = offsets[1:] - 1  # last row — exact [t_min, t_max] bounds
    return pd.DataFrame(
        {
            "series_key": np.asarray(keys, dtype=object)[g0],
            "tier": tier,
            "chunk_start": np.asarray(cstarts, dtype=np.int64)[g0],
            # v2: 64-bit dod escape class (payload magic GOR2), the one
            # format ``codec.decode_chunks`` reads
            "codec": "gorilla-dod-xor-v2",
            "n_points": offsets[1:] - g0,
            "t_min": ts[g0],
            "t_max": ts[g1],
            "payload": codec.encode_chunks(ts, vals, offsets),
        }
    )[COMPRESSED.fieldNames()]


def compress_rollup(
    tier_df: DataFrame,
    tier: str,
    value_col: str = "vsum",
    chunk_buckets: int = CHUNK_BUCKETS,
    num_partitions: int | None = None,
) -> DataFrame:
    """rollup tier rows → (series_key, tier, chunk_start, codec, n_points, payload).

    Execution shape: ``map_keyed`` on (series_key, chunk_start) — one
    explicit hash repartition, a JVM sort by (series_key, chunk_start,
    bucket_start), then ``mapInPandas`` over frames of whole chunks — the
    same pattern (and for the same reason) as the correction kernel:
    ``groupBy().applyInPandas`` pays per-GROUP Arrow/pandas setup, ruinous
    when chunks are small relative to group count (measured ~2.4× on 16k ×
    267-bucket chunks). Every chunk encodes independently, so payloads are
    the same bytes at any partition count.
    """
    sec = TIER_SECONDS[tier]
    chunk_span = sec * chunk_buckets

    with_chunk = tier_df.withColumn(
        "chunk_start", (F.floor(F.col("bucket_start") / chunk_span) * chunk_span).cast("long")
    ).select("series_key", "chunk_start", "bucket_start", value_col)

    def _encode(frames):
        for pdf, offsets in frames:
            yield chunk_frame(
                pdf["series_key"].to_numpy(),
                pdf["chunk_start"].to_numpy("int64"),
                pdf["bucket_start"].to_numpy("int64"),
                pdf[value_col].to_numpy("float64"),
                offsets,
                tier,
            )

    return map_keyed(
        with_chunk, ("series_key", "chunk_start"), ("bucket_start",), _encode, COMPRESSED,
        num_partitions,
    )


def decompress_to_points(compressed: DataFrame) -> DataFrame:
    """Inverse of ``compress_rollup``: payload → rows.

    ``mapInPandas``, NOT a grouped UDF: every chunk decodes independently,
    so there is no reason to shuffle on series_key first — the old
    ``groupBy().applyInPandas`` shape paid a full exchange for nothing.
    Per Arrow batch, ALL payloads decode in one ``codec.decode_chunks``
    call (table-driven batch decoder: pointer-doubled dod field starts,
    one global gather, segmented cumsum/XOR-accumulate); key/tier columns
    are np.repeat'd from the returned offsets — no per-row Python
    anywhere. A malformed payload fails the task with the codec's
    ``ValueError``."""
    import numpy as np
    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField("series_key", T.StringType()),
            T.StructField("tier", T.StringType()),
            T.StructField("bucket_start", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    cols = ["series_key", "tier", "bucket_start", "value"]

    def _decode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ts, vals, offsets = codec.decode_chunks(
                [bytes(p) for p in pdf["payload"]]
            )
            counts = np.diff(offsets)
            yield pd.DataFrame(
                {
                    "series_key": np.repeat(pdf["series_key"].to_numpy(), counts),
                    "tier": np.repeat(pdf["tier"].to_numpy(), counts),
                    "bucket_start": ts,
                    "value": vals,
                }
            )[cols]

    return compressed.mapInPandas(_decode, schema=out_schema)


def read_range(
    compressed: DataFrame,
    t_lo: int | None = None,
    t_hi: int | None = None,
    series_keys: list[str] | None = None,
) -> DataFrame:
    """Serve a time window (both bounds inclusive) from the compressed
    store, decoding ONLY overlapping chunks.

    The serving path that makes the compressed store usable at scale:
    pruning is a JVM-side filter on the per-chunk ``[t_min, t_max]`` stat
    columns written at encode time, applied BEFORE the Python decode UDF —
    on a parquet-backed store this is exactly the predicate parquet
    row-group min/max statistics eliminate without reading payload bytes
    (audited: the filter shows under PushedFilters in docs/PLANS.md), and
    with a chunk_start-sorted layout a day's query over years of data
    touches ~span/chunk_span of the chunks. A final row trim handles
    boundary chunks, which straddle the requested window.

    ``series_keys``: optional key pruning (same mechanism — dictionary /
    min-max stats on a string column). ``compressed`` must carry the
    ``COMPRESSED`` stat columns, as every ``chunk_frame`` writer does.
    Output schema = ``decompress_to_points``.
    """
    pruned = compressed
    if series_keys is not None:
        pruned = pruned.where(F.col("series_key").isin(series_keys))
    if t_lo is not None:
        pruned = pruned.where(F.col("t_max") >= int(t_lo))
    if t_hi is not None:
        pruned = pruned.where(F.col("t_min") <= int(t_hi))

    pts = decompress_to_points(pruned)
    if t_lo is not None:
        pts = pts.where(F.col("bucket_start") >= int(t_lo))
    if t_hi is not None:
        pts = pts.where(F.col("bucket_start") <= int(t_hi))
    return pts


def refresh_compressed(
    store: DataFrame,
    refreshed_tier: DataFrame,
    invalidation: DataFrame,
    tier: str,
    value_col: str = "vsum",
    chunk_buckets: int = CHUNK_BUCKETS,
    num_partitions: int | None = None,
) -> DataFrame:
    """Propagate a tier refresh (operators/refresh.py) into the compressed
    store, re-encoding ONLY touched chunks.

    The chunk is the atomic compressed unit, so chunk-level invalidation
    is the bucket invalidation set mapped onto chunk boundaries: a chunk
    is re-encoded iff it contains an invalidated (series_key, bucket).
    Untouched chunks keep their standing payload BYTES; touched chunks are
    re-encoded from the refreshed tier slice — per-chunk encoding is
    independent of every other chunk, so the result equals
    ``compress_rollup(refreshed_tier)`` payload-byte-for-byte (tested).
    ``chunk_buckets`` must match the store's encode-time value (chunk
    boundaries are derived from it).

    Scale shape, mirroring ``refresh_tier``: the touched-chunk set is
    trickle-sized and broadcasts into both the anti-join (keep side —
    chunk rows, never points, and no shuffle of the store) and the
    semi-join (re-encode side); only the touched slices pass through the
    encoder. Late data never forces re-compressing the store.
    """
    sec = TIER_SECONDS[tier]
    chunk_span = sec * chunk_buckets

    touched = invalidation.select(
        "series_key",
        (F.floor(F.col("bucket_start") / chunk_span) * chunk_span)
        .cast("long")
        .alias("chunk_start"),
    ).distinct()

    kept = store.join(F.broadcast(touched), ["series_key", "chunk_start"], "left_anti")

    slice_cond = (
        (refreshed_tier["series_key"] == touched["series_key"])
        & (
            (F.floor(refreshed_tier["bucket_start"] / chunk_span) * chunk_span).cast("long")
            == touched["chunk_start"]
        )
    )
    affected = refreshed_tier.join(F.broadcast(touched), slice_cond, "left_semi")
    recomputed = compress_rollup(
        affected, tier, value_col=value_col, chunk_buckets=chunk_buckets,
        num_partitions=num_partitions,
    )
    return kept.unionByName(recomputed)


def bytes_per_point(compressed: DataFrame) -> DataFrame:
    """Metric: compressed bytes per rolled-up point, per tier."""
    return compressed.groupBy("tier").agg(
        F.sum(F.length("payload")).alias("total_bytes"),
        F.sum("n_points").alias("total_points"),
        (F.sum(F.length("payload")) / F.sum("n_points")).alias("bytes_per_point"),
    )
