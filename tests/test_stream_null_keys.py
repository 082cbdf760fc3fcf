"""Null keys and null times in the stateful streams: a null
``series_key`` names no series, so its rows yield no output and the query
keeps running — the policy ``operators/_keyed.map_keyed`` applies in
batch; a row with a null time has no place in its series and yields no
output either. Checked on one evict family (gap) and one flush family
(stats): the stream over a source with such rows emits exactly what it
emits without them."""

import os

import numpy as np
import pandas as pd
import pytest

from series_correction_project_updated_spark.sources.synth import pages_to_series
from series_correction_project_updated_spark.streaming.gap_stream import detect_gaps_stream
from series_correction_project_updated_spark.streaming.stats_stream import stats_stream

SCHEMA = "series_key string, t double, value double"

FAMILIES = {
    "gap": lambda s: detect_gaps_stream(s, threshold_factor=3.0),
    "stats": lambda s: stats_stream(s, "1m"),
}


def _keyed_rows():
    deltas = np.full(40, 10.0)
    deltas[[20, 30]] = 100.0  # two planted gaps
    t = 1.7e9 + np.cumsum(deltas)
    return pd.DataFrame({"series_key": "a", "t": t, "value": np.sin(t)})


def _run(spark, tmp_path, pdf, family):
    src = str(tmp_path / f"src_{family}_{len(pdf)}")
    spark.createDataFrame(pdf, SCHEMA).write.parquet(src)
    name = f"null_keys_{family}_{len(pdf)}"
    q = (
        FAMILIES[family](spark.readStream.schema(SCHEMA).parquet(src))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql(f"SELECT * FROM {name}").toPandas()
    return out.sort_values(list(out.columns)).reset_index(drop=True)


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_null_key_rows_yield_no_output(spark, tmp_path, family):
    keyed = _keyed_rows()
    with_nulls = pd.concat([keyed, keyed.assign(series_key=None)], ignore_index=True)
    want = _run(spark, tmp_path, keyed, family)
    assert len(want) > 0
    pd.testing.assert_frame_equal(_run(spark, tmp_path, with_nulls, family), want)


PAGES = "url string, warc_ts timestamp, signal double"


def _run_pages(spark, tmp_path, files, family, name):
    """``family`` over a parquet page stream, one file per micro-batch in
    list order."""
    src = tmp_path / f"pages_{name}"
    for i, pdf in enumerate(files):
        part = str(tmp_path / f"part_{name}_{i}")
        spark.createDataFrame(pdf, PAGES).coalesce(1).write.parquet(part)
        (f,) = [x for x in os.listdir(part) if x.endswith(".parquet")]
        src.mkdir(exist_ok=True)
        os.replace(os.path.join(part, f), src / f"{i:03d}.parquet")
        os.utime(src / f"{i:03d}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))
    stream = spark.readStream.schema(PAGES).option("maxFilesPerTrigger", 1).parquet(str(src))
    q = (
        FAMILIES[family](pages_to_series(stream))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql(f"SELECT * FROM {name}").toPandas()
    return out.sort_values(list(out.columns)).reset_index(drop=True)


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_null_time_page_yields_no_output(spark, tmp_path, family):
    """A page with a null ``warc_ts`` in the first micro-batch: without the
    null-time filter, the gap family's median turned NaN and missed the
    planted gap of the second batch, and the stats family emitted a bucket
    at ``-2**63`` with NaN sums."""
    deltas = np.full(60, 10.0)
    deltas[45] = 6_000.0  # a 100-minute gap, in the second batch
    ts = pd.to_datetime(1.7e9 + np.cumsum(deltas), unit="s")
    pages = pd.DataFrame({"url": "a", "warc_ts": ts, "signal": np.sin(np.arange(60.0))})
    first, second = pages.iloc[:30], pages.iloc[30:]
    null_page = pd.DataFrame({"url": ["a"], "warc_ts": [pd.NaT], "signal": [1.0]})
    want = _run_pages(spark, tmp_path, [first, second], family, f"clean_{family}")
    assert len(want) > 0
    if family == "gap":
        assert 1.7e9 + deltas.cumsum()[45] in set(want["t"])
    got = _run_pages(
        spark, tmp_path, [pd.concat([first, null_page], ignore_index=True), second], family,
        f"null_t_{family}",
    )
    pd.testing.assert_frame_equal(got, want)
