"""Restart from checkpoint: a stateful stream stopped after the first k
files and resumed from its checkpoint writes exactly what one
uninterrupted run writes.

Both runs use ``trigger(availableNow=True)``, a parquet sink and
``maxFilesPerTrigger=1``, so every source file is one micro-batch and the
restart boundary falls between two of them. Covers one evict family
(``detect_gaps_stream``: median reservoir carried in state) and one flush
family (``counter_stream``: the open bucket and last point carried in
state, with a bucket straddling the restart).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from series_correction_project_updated_spark.streaming.counter_stream import counter_stream
from series_correction_project_updated_spark.streaming.gap_stream import detect_gaps_stream

N_FILES, K = 6, 3
SCHEMA = "series_key string, t double, value double"


def _files(seed=5, per_file=40, keys=("a", "b", "c")):
    """Per-file frames with times increasing across files; cadence ~7 s
    with planted long gaps, cumulative values with occasional resets."""
    rng = np.random.default_rng(seed)
    out = []
    acc = {k: 0.0 for k in keys}
    t = {k: 1.7e9 + 0.25 * i for i, k in enumerate(keys)}
    for _ in range(N_FILES):
        frames = []
        for k in keys:
            step = rng.uniform(5.0, 9.0, per_file)
            step[rng.random(per_file) < 0.05] *= 12.0  # gaps
            ts = t[k] + np.cumsum(step)
            t[k] = ts[-1]
            vs = np.empty(per_file)
            for i in range(per_file):
                acc[k] = 0.0 if rng.random() < 0.03 else acc[k]
                acc[k] += rng.exponential(2.0)
                vs[i] = acc[k]
            frames.append(pd.DataFrame({"series_key": k, "t": ts, "value": vs}))
        out.append(pd.concat(frames, ignore_index=True))
    return out


def _add(src, files, idx):
    """Write files[idx] with strictly increasing mtimes, so the file
    source replays them in the same order in every run."""
    src.mkdir(exist_ok=True)
    for i in idx:
        path = str(src / f"part{i}.parquet")
        pq.write_table(pa.Table.from_pandas(files[i]), path)
        os.utime(path, (1_600_000_000 + 10 * i,) * 2)


def _drain(spark, make, src, sink, ckpt):
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(src))
    q = (
        make(stream)
        .writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q.lastProgress["batchId"]


def _read(spark, sink):
    pdf = spark.read.parquet(str(sink)).toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize(
    "make",
    [
        lambda s: detect_gaps_stream(s, threshold_factor=3.0),
        lambda s: counter_stream(s, "1m"),
    ],
    ids=["gaps_evict", "counter_flush"],
)
def test_restart_from_checkpoint_equals_uninterrupted(spark, tmp_path, make):
    files = _files()

    # interrupted: first K files, stop, add the rest, resume
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    _add(src, files, range(K))
    assert _drain(spark, make, src, sink, ckpt) == K - 1
    first = _read(spark, sink)
    _add(src, files, range(K, N_FILES))
    assert _drain(spark, make, src, sink, ckpt) == N_FILES - 1
    resumed = _read(spark, sink)

    # uninterrupted: all files, fresh checkpoint
    src1, sink1, ckpt1 = tmp_path / "src1", tmp_path / "sink1", tmp_path / "ckpt1"
    _add(src1, files, range(N_FILES))
    assert _drain(spark, make, src1, sink1, ckpt1) == N_FILES - 1
    whole = _read(spark, sink1)

    assert 0 < len(first) < len(resumed)
    pd.testing.assert_frame_equal(resumed, whole, check_exact=True)
