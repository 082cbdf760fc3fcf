"""Streaming content drift: live per-url crawl change classification.

Keyed stateful stream (``streaming/stateful``), the streaming twin of
``operators/drift.content_drift`` — as recrawls arrive, classify each
against the url's previous crawl (first/unchanged/cosmetic/rewrite)
using the SAME signature expressions (xxhash64 byte-identity + the dedup
SimHash Arrow fold, computed in the stream's pre-projection — one
signature law in the codebase) and the SAME classification law (imported
constants, not re-typed).

State per url: exactly (last_t, last_exact, last_sig) — 24 bytes, the
smallest state of any operator here; 10⁸ live urls ≈ 2.4 GB across the
cluster. Out-of-order policy: a crawl older than the stored one
(t < last_t) cannot be classified against "the previous crawl" without
history, so it emits with ``change='late'`` and does NOT perturb state
— route late rows to the batch recompute path, like the tier streams'
frontier rule. Ties on t are ordered by exact_hash (the batch
operator's tiebreaker) within a batch; a cross-batch tie keeps the
stored row (arrival order is the only order left).

Per micro-batch the work is vectorized: one sort per touched url, one
XOR + unpackbits popcount over the whole segment — Python touches
segments, never rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.drift import _popcount64  # one popcount in the codebase
from .stateful import quantized_t, stateful_stream

DRIFT_EVENT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("t", T.DoubleType(), False),
        T.StructField("exact_hash", T.LongType(), False),
        T.StructField("simhash", T.LongType(), False),
        T.StructField("hamming", T.IntegerType(), True),
        T.StructField("change", T.StringType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_t", T.DoubleType()),
        T.StructField("last_exact", T.LongType()),
        T.StructField("last_sig", T.LongType()),
    ]
)


def content_drift_stream(
    pages_stream: DataFrame,
    hamming_threshold: int = 3,
    url_col: str = "url",
    time_col: str = "warc_ts",
    text_col: str = "text",
    state_ttl_ms: int = 0,
    portable: bool = False,
) -> DataFrame:
    """Keyed stateful drift classification on a stream of page crawls."""
    from ..operators.dedup import _simhash_fold, _token_hashes

    sig = pages_stream.select(
        F.col(url_col).alias("url"),
        quantized_t(time_col).alias("t"),
        F.xxhash64(F.coalesce(F.col(text_col), F.lit(""))).alias("exact_hash"),
        _simhash_fold(_token_hashes(text_col, portable=portable)).alias("simhash"),
    )

    thr = int(hamming_threshold)

    def _step(key, pdf, st):
        pdf = pdf.sort_values(["t", "exact_hash"], kind="mergesort")
        t = pdf["t"].to_numpy(dtype="float64")
        exact = pdf["exact_hash"].to_numpy(dtype="int64")
        sig_v = pdf["simhash"].to_numpy(dtype="int64")

        late = t < (st[0] if st is not None else -np.inf)
        # previous-crawl columns for the in-order rows: shift within the
        # accepted segment, seeding from state
        ok = ~late
        t_ok, e_ok, s_ok = t[ok], exact[ok], sig_v[ok]
        n = len(t_ok)
        new_state, parts = None, []
        if n:
            # int64, not float: xxhash64 values exceed 2^53, a float
            # compare would collapse distinct hashes
            prev_e = np.empty(n, dtype="int64")
            prev_s = np.empty(n, dtype="int64")
            prev_e[1:] = e_ok[:-1]
            prev_s[1:] = s_ok[:-1]
            has_prev = np.ones(n, dtype=bool)
            if st is None:
                has_prev[0] = False
                prev_e[0] = prev_s[0] = 0
            else:
                prev_e[0], prev_s[0] = st[1], st[2]
            ham = _popcount64(s_ok ^ prev_s)
            change = np.where(
                ~has_prev,
                "first",
                np.where(
                    e_ok == prev_e,
                    "unchanged",
                    np.where(ham <= thr, "cosmetic", "rewrite"),
                ),
            )
            out = pd.DataFrame(
                {
                    "url": key,
                    "t": t_ok,
                    "exact_hash": e_ok,
                    "simhash": s_ok,
                    "hamming": pd.array(np.where(has_prev, ham, 0), dtype="Int32"),
                    "change": change,
                }
            )
            out.loc[~has_prev, "hamming"] = pd.NA
            parts.append(out)
            new_state = (float(t_ok[-1]), int(e_ok[-1]), int(s_ok[-1]))
        if late.any():
            parts.append(
                pd.DataFrame(
                    {
                        "url": key,
                        "t": t[late],
                        "exact_hash": exact[late],
                        "simhash": sig_v[late],
                        "hamming": pd.array([pd.NA] * int(late.sum()), dtype="Int32"),
                        "change": "late",
                    }
                )
            )
        return new_state, pd.concat(parts, ignore_index=True) if parts else None

    return stateful_stream(sig, "url", _step, DRIFT_EVENT, _STATE_SCHEMA, state_ttl_ms)
