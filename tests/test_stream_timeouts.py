"""Timeout and TTL behaviour of the stateful stream families, without
running a stream.

An armed ProcessingTime timeout never lets ``processAllAvailable`` go
idle, so no streaming test sets ``state_ttl_ms > 0``. These tests build
each family's grouped-map update function (captured from the
``applyInPandasWithState`` call) and drive it directly with constructed
``GroupState`` objects, the way Spark calls it per key:

* flush families (counter, histogram, stats) emit, on timeout, exactly
  the row a next-bucket close would emit, then remove the state;
* evict families (gap, stateagg) emit nothing on timeout and remove the state;
* a batch whose rows are all late re-arms the TTL and leaves the state
  unchanged.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from series_correction_project_updated_spark.streaming.counter_stream import counter_stream
from series_correction_project_updated_spark.streaming.gap_stream import detect_gaps_stream
from series_correction_project_updated_spark.streaming.histogram_stream import histogram_stream
from series_correction_project_updated_spark.streaming.stateagg_stream import state_rollup_stream
from series_correction_project_updated_spark.streaming.stats_stream import stats_stream

TTL = 60_000
NOW_MS = 1_000


class _Capture:
    """Stands in for a streaming DataFrame: records the function handed
    to ``applyInPandasWithState`` instead of planning a query."""

    def __getitem__(self, name):
        return F.col(name)

    def select(self, *cols):
        return self

    def where(self, cond):
        return self

    def groupBy(self, *cols):
        return self

    def applyInPandasWithState(self, func, outputStructType, stateStructType, outputMode, timeoutConf):
        self.func, self.timeout = func, timeoutConf
        self.out_cols = [f.name for f in outputStructType.fields]
        return self


def _state(value=None, timed_out=False):
    return GroupState(
        optionalValue=None if value is None else Row(*value),
        batchProcessingTimeMs=NOW_MS,
        eventTimeWatermarkMs=GroupState.NO_TIMESTAMP,
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        hasTimedOut=timed_out,
        watermarkPresent=False,
        defined=value is not None,
        updated=False,
        removed=False,
        timeoutTimestamp=GroupState.NO_TIMESTAMP,
        keyAsUnsafe=b"",
        valueSchema=None,
    )


def _call(cap, key, pdf, state):
    frames = list(cap.func(key, iter([] if pdf is None else [pdf]), state))
    if not frames:
        return None
    return pd.concat(frames, ignore_index=True)


def _pts(ts, vs=None, key="k"):
    ts = np.asarray(ts, dtype=np.float64)
    vs = np.arange(1.0, len(ts) + 1.0) if vs is None else np.asarray(vs, dtype=np.float64)
    return pd.DataFrame({"series_key": key, "t": ts, "value": vs})


def _binned(buckets, cols):
    """Rows as the histogram/stats pre-projections deliver them."""
    return pd.DataFrame({"series_key": "k", "_bucket": np.asarray(buckets, dtype=np.int64), **cols})


# family id -> (make(df) -> stream, key, first batch, next-bucket batch
# that closes the first batch's bucket, all-late batch)
FLUSH = {
    "counter": (
        lambda d: counter_stream(d, "1m", state_ttl_ms=TTL),
        ("k",),
        _pts([600.0, 610.5, 633.0, 659.0], [5.0, 7.5, 2.0, 4.0]),
        _pts([700.0], [9.0]),
        _pts([100.0, 659.0], [1.0, 2.0]),
    ),
    "histogram": (
        lambda d: histogram_stream(d, "1m", lo=0.0, hi=10.0, nbins=4, state_ttl_ms=TTL),
        ("k",),
        _binned([600, 600, 600, 600], {"_slot": [0, 1, 1, 5]}),
        _binned([660], {"_slot": [2]}),
        _binned([0, 540], {"_slot": [1, 2]}),
    ),
    "stats": (
        lambda d: stats_stream(d, "1m", state_ttl_ms=TTL),
        ("k",),
        _binned([600, 600, 600], {"_x": [0.5, 10.25, 59.0], "_y": [1.5, -2.0, 3.25]}),
        _binned([660], {"_x": [1.0], "_y": [1.0]}),
        _binned([0, 540], {"_x": [1.0, 2.0], "_y": [1.0, 2.0]}),
    ),
}

EVICT = {
    "gap": (
        lambda d: detect_gaps_stream(d, state_ttl_ms=TTL),
        ("k",),
        _pts([0.0, 10.0, 20.0, 30.0, 40.0, 50.0, 200.0]),
        _pts([5.0, 200.0]),
    ),
    "stateagg": (
        lambda d: state_rollup_stream(d, "1m", state_ttl_ms=TTL),
        ("k",),
        pd.DataFrame({"series_key": "k", "t": [10.0, 70.0, 200.0], "state": ["on", "off", "on"]}),
        pd.DataFrame({"series_key": "k", "t": [100.0, 200.0], "state": ["off", "off"]}),
    ),
}


def _capture(make):
    cap = _Capture()
    make(cap)
    return cap


def _prime(cap, key, batch):
    st = _state()
    _call(cap, key, batch, st)
    assert st.exists and st._timeout_timestamp == NOW_MS + TTL
    return st.get


@pytest.mark.parametrize("family", sorted(FLUSH))
def test_flush_on_timeout_equals_next_bucket_close(spark, family):
    make, key, first, nxt, _late = FLUSH[family]
    cap = _capture(make)
    assert cap.timeout == GroupStateTimeout.ProcessingTimeTimeout
    held = _prime(cap, key, first)

    st = _state(held, timed_out=True)
    flushed = _call(cap, key, None, st)
    assert not st.exists and st._removed

    closed = _call(cap, key, nxt, _state(held))
    assert flushed is not None and len(flushed) == 1
    assert list(flushed.columns) == cap.out_cols
    pd.testing.assert_frame_equal(flushed, closed)


@pytest.mark.parametrize("family", sorted(FLUSH))
def test_timeout_without_state_emits_nothing(spark, family):
    make, key = FLUSH[family][:2]
    cap = _capture(make)
    st = _state(timed_out=True)
    assert _call(cap, key, None, st) is None
    assert not st.exists


@pytest.mark.parametrize("family", sorted(EVICT))
def test_evict_on_timeout(spark, family):
    make, key, first, _late = EVICT[family]
    cap = _capture(make)
    assert cap.timeout == GroupStateTimeout.ProcessingTimeTimeout
    held = _prime(cap, key, first)
    st = _state(held, timed_out=True)
    assert _call(cap, key, None, st) is None
    assert not st.exists and st._removed


@pytest.mark.parametrize("family", sorted(FLUSH) + sorted(EVICT))
def test_all_late_batch_rearms_ttl_and_keeps_state(spark, family):
    if family in FLUSH:
        make, key, first, _nxt, late = FLUSH[family]
    else:
        make, key, first, late = EVICT[family]
    cap = _capture(make)
    held = _prime(cap, key, first)
    st = _state(held)
    out = _call(cap, key, late, st)
    assert st.exists and st.get == held
    assert st._timeout_timestamp == NOW_MS + TTL
    assert out is None


_DEFAULTS = [
    (counter_stream, ()),
    (histogram_stream, ()),
    (stats_stream, ()),
    (detect_gaps_stream, ()),
    (state_rollup_stream, ()),
]


@pytest.mark.parametrize("fn,args", _DEFAULTS, ids=[fn.__name__ for fn, _ in _DEFAULTS])
def test_default_is_no_timeout(spark, fn, args):
    cap = _Capture()
    fn(cap, *args)
    assert cap.timeout == GroupStateTimeout.NoTimeout
