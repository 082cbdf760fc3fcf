"""One grouped-map driver for the keyed stateful stream families.

Every stateful family in this package (gap, jump, smooth, funnel,
stateagg, drift, counter, timeweight, quantile, histogram, stats, topk)
is one ``groupBy(key).applyInPandasWithState`` call made here. A family
supplies its schemas, its pre-projection and a ``step`` hook that holds
its arithmetic; this module owns the rest of the per-group contract.

Shared stream policy:

* **Late rows.** Which rows a family accepts is its own ``step``'s rule,
  different on purpose: point families keep a ``t > last_t`` frontier
  (a row at or before the stored ``last_t`` is skipped — the batch
  operators sort globally and never see cross-batch disorder);
  histogram, stats and topk keep only a *bucket* frontier, because
  counting and summing commute inside the open bucket; drift emits an
  older crawl as ``change='late'``. A skipped row never touches state;
  late data reconciles through the batch ``refresh_tier`` path. Within
  one micro-batch rows are sorted before the fold, so only cross-batch
  disorder is ever dropped.
* **TTL.** ``state_ttl_ms > 0`` arms a ProcessingTime timeout and re-arms
  it after every batch that leaves state behind, including a batch whose
  rows were all late. When a key times out, a *flush* family (counter,
  timeweight, quantile, histogram, stats, topk — state is one open
  bucket) emits that bucket through its ``flush`` hook, trading the exact
  close-on-next-bucket boundary for bounded emission delay; an *evict*
  family drops the state and emits nothing.
* **Why ``NoTimeout`` is the default.** Per-key state is already bounded
  by each family (a reservoir, a window, one open bucket, one frontier
  row), and an armed timeout makes Spark schedule state-cleanup
  micro-batches forever, so ``processAllAvailable``-style draining (tests,
  batch replay) never sees the stream go idle. Set a TTL on long-running
  streams whose key sets churn.
* **Time quantization.** Families whose closed buckets must equal a batch
  operator bit for bit read ``t`` through :func:`quantized_t`, the batch
  operators' own µs cast chain, so both paths fold identical inputs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# a step's output: a frame, or row tuples in output-schema order
Rows = pd.DataFrame | list[tuple] | None
Step = Callable[[Any, pd.DataFrame, tuple | None], tuple[tuple | None, Rows]]
Flush = Callable[[Any, tuple], tuple | None]


def quantized_t(time_col: str) -> Column:
    """``time_col`` as epoch seconds, µs-quantized by the same JVM cast
    chain the batch tier operators apply."""
    return F.col(time_col).cast("timestamp_ltz").cast("double")


def bucket_runs(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(starts, ends)`` of the runs of equal values in a sorted id
    array; ``ends`` is exclusive."""
    starts = np.concatenate(([0], np.flatnonzero(ids[1:] != ids[:-1]) + 1))
    return starts, np.concatenate((starts[1:], [len(ids)]))


def left_fold(seed: float, xs: np.ndarray) -> float:
    """``seed + xs[0] + xs[1] + ...`` added strictly left to right.

    Bit-equality with a batch JVM fold needs the same addition order:
    ``np.cumsum`` is a sequential accumulate, while ``np.sum`` and
    ``np.add.reduceat`` are pairwise and reassociate (that put 3% of the
    counter buckets straddling a micro-batch split off in the last ulp)."""
    if len(xs) == 0:
        return seed
    return float(np.cumsum(np.concatenate(([seed], xs)))[-1])


def stateful_stream(
    df: DataFrame,
    key_col: str,
    step: Step,
    out_schema: T.StructType,
    state_schema: T.StructType,
    state_ttl_ms: int,
    flush: Flush | None = None,
) -> DataFrame:
    """``df.groupBy(key_col).applyInPandasWithState`` around a family.

    Per key and micro-batch the group's rows arrive as one frame and
    ``step(key, pdf, state)`` returns ``(new_state, out)``: ``state`` is
    the stored tuple or ``None`` for a new key, ``new_state=None`` leaves
    the state unchanged, and ``out`` (a frame or row tuples; ``None`` or
    empty emits nothing) is appended to the output. On timeout ``flush``
    (flush families) turns the stored state into one output row or
    ``None``; without ``flush`` the state is evicted silently."""
    cols = [f.name for f in out_schema.fields]

    def _update(
        key: tuple[Any, ...], batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            row = flush(key[0], state.get) if flush is not None and state.exists else None
            state.remove()
            if row is not None:
                yield pd.DataFrame([row], columns=cols)
            return
        frames = list(batches)
        # one Arrow batch per group is the common case: skip the concat copy
        pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        new_state, out = step(key[0], pdf, state.get if state.exists else None)
        if new_state is not None:
            state.update(new_state)
        if state_ttl_ms > 0 and state.exists:
            state.setTimeoutDuration(state_ttl_ms)
        if out is not None and len(out):
            yield out if isinstance(out, pd.DataFrame) else pd.DataFrame(out, columns=cols)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )
