"""Shared Spark fixture: one local session per test run."""

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from series_correction_project_updated_spark.session import get_spark

    s = get_spark(app_name="engine-tests", shuffle_partitions=8)
    yield s
    s.stop()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _decode_chunk_scalar(payload: bytes):
    """Field-at-a-time reference decoder of one Gorilla payload: the oracle
    ``codec.decode_chunks`` is checked against."""
    import struct

    import numpy as np

    from series_correction_project_updated_spark.functions import compress as codec

    if payload[:4] != codec.MAGIC:
        raise ValueError(f"not a Gorilla chunk (magic {payload[:4]!r})")
    n, tlen = struct.unpack("<IQ", payload[4:16])
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    ts = codec._decode_timestamps_scalar(codec._BitReader(payload[16 : 16 + tlen]), n)
    vals = codec._decode_values_scalar(codec._BitReader(payload[16 + tlen :]), n)
    return ts, vals


@pytest.fixture(scope="session")
def decode_chunk_scalar():
    return _decode_chunk_scalar
