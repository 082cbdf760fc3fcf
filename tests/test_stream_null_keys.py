"""Null keys in the stateful streams: a null ``series_key`` names no
series, so its rows yield no output and the query keeps running — the
policy ``operators/_keyed.map_keyed`` applies in batch. Checked on one
evict family (gap) and one flush family (stats): the stream over a
source with null-key rows emits exactly what it emits without them."""

import numpy as np
import pandas as pd
import pytest

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
