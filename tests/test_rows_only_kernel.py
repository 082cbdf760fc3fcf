"""Whole-dataset check of the two rows-only kernel registry entries.

``q_correct_series`` and ``q_correct_chunked`` have no SQL oracle (the
CUSUM reset scan and positional step composition are not SQL). Here each
is compared with the single-node frame pipeline run per group in pandas
over the same ``events`` input: exact on ``(series_key, t)``, bit-equal
values. The chunked reference corrects each (series, 7-day chunk) frame
independently and realigns with ``apply_boundary_shifts``.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from series_correction_project_updated_spark.operators.level_shift import apply_boundary_shifts
from series_correction_project_updated_spark.oracle import correction as oracle
from series_correction_project_updated_spark.queries import (
    _event_points,
    q_correct_chunked,
    q_correct_series,
)

SF_DIRS = [SF_DIR, "/root/testdata/sf0.01"]
CHUNK_SEC = 7 * 86400.0


def _events_pdf(spark, sf_dir):
    return (
        _event_points(spark, sf_dir)
        .select(F.col("user_id").cast("string").alias("series_key"), "t", "value")
        .toPandas()
    )


def _per_group(pdf, by):
    outs = []
    for key, grp in pdf.groupby(by, sort=False):
        out = oracle.process_series(grp[["t", "value"]], "t", "value")
        for name, k in zip(by, key):
            out.insert(len(out.columns) - 2, name, k)
        outs.append(out)
    return pd.concat(outs, ignore_index=True)


def _assert_bit_equal(got, want):
    got = got.sort_values(["series_key", "t"]).reset_index(drop=True)
    want = want.sort_values(["series_key", "t"]).reset_index(drop=True)
    assert len(want) > 0
    pd.testing.assert_frame_equal(
        got[["series_key", "t"]], want[["series_key", "t"]], check_exact=True
    )
    np.testing.assert_array_equal(
        got["value"].to_numpy().view(np.int64), want["value"].to_numpy().view(np.int64)
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_q_correct_series_equals_frame_oracle(spark, sf_dir):
    pdf = _events_pdf(spark, sf_dir)
    want = _per_group(pdf, ["series_key"])
    got = q_correct_series(spark, sf_dir).toPandas()
    _assert_bit_equal(got, want)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_q_correct_chunked_equals_frame_oracle(spark, sf_dir):
    pdf = _events_pdf(spark, sf_dir)
    pdf["chunk"] = (pdf["t"] / CHUNK_SEC).astype("int64")  # t > 0: truncation == Spark's cast
    assert pdf["chunk"].nunique() > 1
    per_chunk = _per_group(pdf, ["series_key", "chunk"])
    want = (
        apply_boundary_shifts(
            spark.createDataFrame(
                per_chunk, "series_key string, chunk long, t double, value double"
            )
        )
        .select("series_key", "t", "value")
        .toPandas()
    )
    got = q_correct_chunked(spark, sf_dir).toPandas()
    _assert_bit_equal(got, want)
