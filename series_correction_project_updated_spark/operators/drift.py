"""Content-drift detection over per-url crawl histories.

The north-star framing treats each url's crawl history as a sensor
series; this operator is the CONTENT counterpart of the numeric jump
detector: "when did this page actually change, and how much?" across
recrawls — the signal a crawl scheduler, a dedup-aware trainer, or a
freshness-weighted sampler needs at corpus scale.

Per crawl of a url (ordered by ``warc_ts``) it emits:

- ``exact_hash``      — xxhash64 of the raw text (byte-identity signal;
  the reference pipeline's "extracted text stays byte-identical per
  url" invariant makes this hash stable across engine versions),
- ``simhash``         — 64-bit Charikar signature via the vectorized
  Arrow vote fold shared with dedup (``operators/dedup``: JVM-hashed
  tokens, one ``unpackbits``/``reduceat`` pass per batch),
- ``hamming``         — bit distance to the PREVIOUS crawl's simhash
  (pure JVM: ``bit_count(prev XOR cur)``),
- ``change``          — classification:

  =============  =====================================================
  ``first``      no previous crawl
  ``unchanged``  byte-identical text (exact_hash equal)
  ``cosmetic``   bytes differ but token distribution doesn't move:
                 hamming ≤ threshold (whitespace / boilerplate jitter)
  ``rewrite``    hamming > threshold — real content change
  =============  =====================================================

Scale shape: one Arrow projection for the signatures (no shuffle), ONE
hash shuffle by url for the lag window — the same partitioning the
correction kernel and the tier stores already use, so on a bucketed
page store the exchange disappears. Nothing driver-side; skewed hot
urls cost one window partition each (bounded by crawl count, not text
size, because signatures are computed before the shuffle).

Duplicate timestamps: the window orders by (warc_ts, exact_hash) so
re-fetches landing on the same capture time classify deterministically.

``drift_summary`` rolls per-crawl classes up to one row per url —
crawl counts by class, rewrite rate, mean/max hamming — the per-series
"how volatile is this page" feature.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._keyed import map_keyed

__all__ = ["content_drift", "drift_summary", "redrift_urls"]

DRIFT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("t", T.DoubleType(), False),
        T.StructField("exact_hash", T.LongType(), False),
        T.StructField("simhash", T.LongType(), False),
        T.StructField("hamming", T.IntegerType(), True),
        T.StructField("change", T.StringType(), False),
    ]
)


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized popcount of int64 values (numpy<2 has no bitwise_count)."""
    return (
        np.unpackbits(x.astype(np.int64).view(np.uint8).reshape(-1, 8), axis=1)
        .sum(axis=1)
        .astype(np.int64)
    )


def content_drift(
    pages: DataFrame,
    url_col: str = "url",
    time_col: str = "warc_ts",
    text_col: str = "text",
    hamming_threshold: int = 3,
    portable: bool = False,
    assume_clustered: bool = False,
) -> DataFrame:
    """Classify every crawl of every url against its previous crawl.

    ``hamming_threshold``: max simhash bit distance still considered
    cosmetic. 3 matches the near-dup convention used by
    ``simhash_near_duplicates``; raise it to absorb more template noise.
    ``portable=True`` swaps xxhash64 token hashing for the md5-prefix
    Carter–Wegman family (engine-portable, used by the value-checked
    dedup twins) — same fold, same classification law.

    ``assume_clustered=True``: the caller guarantees no url straddles
    input partitions (a url-bucketed page store read via
    ``sources/bucketstore``) — the window shuffle disappears and the
    whole job is scan → sort within partitions → one ``mapInPandas``
    over url-complete frames (the correction kernel's exchange-free
    law). Needed because an ArrowEvalPython projection does NOT
    propagate the bucketed scan's output partitioning, so the
    default window path re-shuffles even over a bucketed store
    (measured; a pure-JVM window over the same table plans 0
    exchanges). This path returns ``t`` as double epoch seconds (a
    fixed Arrow schema can't mirror an arbitrary input time type);
    classification law and values are identical (test-pinned).
    """
    # lazy: dedup's module-scope pandas_udf needs an active SparkSession
    from .dedup import (
        _filtered_words,
        _simhash_fold,
        _simhash_fold_portable,
        _token_hashes,
        simhash_fold_np,
        simhash_fold_words_np,
    )

    if assume_clustered:
        thr = int(hamming_threshold)
        # portable: ship token STRINGS and md5 them inside the kernel with
        # the memoized Python hash (r6 — the JVM md5→conv chain measured
        # ~8× the xxhash64 path); non-portable keeps JVM xxhash64 tokens
        tok_col = (
            _filtered_words(text_col) if portable else _token_hashes(text_col)
        )
        pre = pages.select(
            F.col(url_col).cast("string").alias("url"),
            F.col(time_col).cast("timestamp_ltz").cast("double").alias("t"),
            F.xxhash64(F.coalesce(F.col(text_col), F.lit(""))).alias("exact_hash"),
            tok_col.alias("_tokh"),
        )
        fold = simhash_fold_words_np if portable else simhash_fold_np

        def _classify(frames):
            for pdf, offsets in frames:
                simhash = fold(pdf["_tokh"])
                exact = pdf["exact_hash"].to_numpy(dtype=np.int64)
                # each row's previous crawl is the row before it, except
                # at a url's first row (the frame is sorted by url, t)
                has_prev = np.ones(len(pdf), dtype=bool)
                has_prev[offsets[:-1]] = False
                ham = _popcount64(simhash ^ np.roll(simhash, 1))
                change = np.where(
                    ~has_prev,
                    "first",
                    np.where(
                        exact == np.roll(exact, 1),
                        "unchanged",
                        np.where(ham <= thr, "cosmetic", "rewrite"),
                    ),
                )
                yield pd.DataFrame(
                    {
                        "url": pdf["url"],
                        "t": pdf["t"],
                        "exact_hash": exact,
                        "simhash": simhash,
                        "hamming": pd.arrays.IntegerArray(
                            np.where(has_prev, ham, 0).astype(np.int32), ~has_prev
                        ),
                        "change": change,
                    }
                )

        return map_keyed(
            pre, ("url",), ("t", "exact_hash"), _classify, DRIFT_SCHEMA, partitioner=None
        )

    fold = (
        _simhash_fold_portable(_filtered_words(text_col))
        if portable
        else _simhash_fold(_token_hashes(text_col))
    )
    sig = pages.select(
        F.col(url_col).alias("url"),
        F.col(time_col).alias("t"),
        F.xxhash64(F.coalesce(F.col(text_col), F.lit(""))).alias("exact_hash"),
        fold.alias("simhash"),
    )
    w = Window.partitionBy("url").orderBy("t", "exact_hash")
    prev_exact = F.lag("exact_hash").over(w)
    prev_sig = F.lag("simhash").over(w)
    hamming = F.bit_count(F.col("simhash").bitwiseXOR(prev_sig))
    return sig.select(
        "url",
        "t",
        "exact_hash",
        "simhash",
        hamming.alias("hamming"),
        F.when(prev_exact.isNull(), F.lit("first"))
        .when(prev_exact == F.col("exact_hash"), F.lit("unchanged"))
        .when(hamming <= hamming_threshold, F.lit("cosmetic"))
        .otherwise(F.lit("rewrite"))
        .alias("change"),
    )


def drift_summary(drifts: DataFrame) -> DataFrame:
    """One row per url: crawl counts by class, rewrite rate over the
    recrawls (first crawl excluded from the denominator), and the
    hamming profile. A second small aggregate over ``content_drift``
    output — map-side combining, same url clustering, no extra width."""
    recrawls = F.count("*") - F.sum(F.when(F.col("change") == "first", 1).otherwise(0))
    n_rewrites = F.sum(F.when(F.col("change") == "rewrite", 1).otherwise(0))
    return (
        drifts.groupBy("url")
        .agg(
            F.count("*").alias("n_crawls"),
            n_rewrites.alias("n_rewrites"),
            F.sum(F.when(F.col("change") == "cosmetic", 1).otherwise(0)).alias(
                "n_cosmetic"
            ),
            F.sum(F.when(F.col("change") == "unchanged", 1).otherwise(0)).alias(
                "n_unchanged"
            ),
            F.try_divide(n_rewrites.cast("double"), recrawls.cast("double")).alias(
                "rewrite_rate"
            ),
            F.avg("hamming").alias("mean_hamming"),
            F.max("hamming").alias("max_hamming"),
        )
    )


def redrift_urls(
    pages: DataFrame,
    late: DataFrame,
    old_drift: DataFrame,
    url_col: str = "url",
    time_col: str = "warc_ts",
    text_col: str = "text",
    hamming_threshold: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Late-crawl repair for the drift signal store (the same
    invalidation law as ``refresh.recorrect_series``): a late crawl
    re-orders its url's history, so every subsequent classification of
    that url may change — the invalidation unit is the URL. Recompute
    drift ONLY for urls touched by ``late`` (a late batch touches few
    urls; ``pages`` must already contain the late rows) and splice via
    broadcast anti-join — exactly equals a full recompute (per-url
    determinism; test-pinned)."""
    touched = late.select(F.col(url_col).alias("url")).distinct()
    to_redo = pages.withColumnRenamed(url_col, "url").join(
        F.broadcast(touched), "url", "left_semi"
    )
    kept = old_drift.join(F.broadcast(touched), "url", "left_anti")
    return kept.unionByName(
        content_drift(
            to_redo,
            url_col="url",
            time_col=time_col,
            text_col=text_col,
            hamming_threshold=hamming_threshold,
            portable=portable,
        )
    )
