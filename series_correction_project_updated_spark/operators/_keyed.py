"""The keyed partition iterator behind every per-series ``mapInPandas``.

Spark side (``map_keyed``): drop rows with a null in any key column, cluster
the input so no key straddles partitions, sort each partition by key in the
JVM (a sort that spills), then one ``mapInPandas``. The null-key drop is a
JVM filter before the exchange and is the one null-key policy of every
keyed operator: a null key names no series, so its rows yield no output.
Python side (``keyed_frames``): walk the sorted Arrow batches and yield
frames that hold only complete keys, carrying the rows of a batch's last
key over to the next batch. A task therefore holds about one Arrow batch
plus its largest key, not its whole partition.
"""

from __future__ import annotations

from functools import reduce
from operator import and_
from typing import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: one series-complete frame and its key-boundary offsets (``offsets[i]`` is
#: the first row of key ``i``; the last entry is ``len(frame)``)
KeyedFrame = tuple[pd.DataFrame, np.ndarray]


def map_keyed(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    fn: Callable[[Iterator[KeyedFrame]], Iterator[pd.DataFrame]],
    schema: StructType | str,
    num_partitions: int | None = None,
    partitioner: str | None = "hash",
) -> DataFrame:
    """``df.mapInPandas`` over series-complete frames sorted by
    ``(*keys, *order)``. Rows with a null in any key column yield no
    output.

    ``partitioner="hash"`` repartitions on ``keys``, ``"range"``
    range-partitions on them, ``None`` trusts the input's clustering (a
    bucketed store read). The default partition count, 2× parallelism,
    is large enough to smooth group-size skew and small enough to keep
    the per-task fixed cost to two waves a stage: every Python task pays
    ~0.07 s of worker setup whatever its size (a trivial ``mapInPandas``
    on ``local[4]``; ~0.29 s before ``_pyworker`` stopped the per-task
    ``pyspark.zip`` directory re-reads). ``order`` columns sort nulls
    last, as pandas does; rows equal on ``(*keys, *order)`` keep their
    arrival order (the in-memory JVM sort is stable).
    """
    if partitioner is not None and num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    keyed = df.where(reduce(and_, [F.col(c).isNotNull() for c in keys]))
    if partitioner is None:
        clustered = keyed
    elif partitioner == "range":
        clustered = keyed.repartitionByRange(num_partitions, *keys)
    elif partitioner == "hash":
        clustered = keyed.repartition(num_partitions, *keys)
    else:
        raise ValueError(f"unknown partitioner: {partitioner!r}")
    sorted_df = clustered.sortWithinPartitions(*keys, *(F.col(c).asc_nulls_last() for c in order))
    return sorted_df.mapInPandas(lambda batches: fn(keyed_frames(batches, keys)), schema=schema)


def keyed_frames(batches: Iterable[pd.DataFrame], keys: Sequence[str]) -> Iterator[KeyedFrame]:
    """Regroup key-sorted batches into frames of complete keys.

    Each yielded frame is a batch's rows up to its last key start, led by
    the rows carried over from earlier batches; the rows of the last key
    wait for the next batch that starts a new key. Keys compare with
    ``!=`` on the key columns (``map_keyed`` never passes a null key; here
    a run of ``None`` keys would be one key).
    """
    pending: list[pd.DataFrame] = []  # rows of the one key not yet complete
    carried = 0
    for pdf in batches:
        if not len(pdf):
            continue
        change = np.zeros(len(pdf), dtype=bool)
        for c in keys:
            k = pdf[c].to_numpy()
            change[1:] |= k[1:] != k[:-1]
            change[0] |= bool(pending) and pending[-1][c].to_numpy()[-1] != k[0]
        starts = np.flatnonzero(change)
        if not len(starts):
            pending.append(pdf)
            carried += len(pdf)
            continue
        cut = int(starts[-1])
        frame = pd.concat(pending + [pdf.iloc[:cut]], ignore_index=True)
        yield frame, np.concatenate(([0], starts[:-1] + carried, [carried + cut]))
        pending, carried = [pdf.iloc[cut:]], len(pdf) - cut
    if pending:
        yield pd.concat(pending, ignore_index=True), np.array([0, carried], dtype=np.int64)
