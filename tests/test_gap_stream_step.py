"""The gap stream's per-key step, checked without Spark against the loop it
replaced: a per-row ``np.median`` over the reservoir list. The step keeps
a sorted copy of the reservoir instead; events and state must be equal.

A stored state longer than ``max_deltas`` (written by a query with a
larger ``max_deltas``) is trimmed to its newest ``max_deltas`` deltas on
load, so the reference is given the same trimmed state."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from series_correction_project_updated_spark.streaming import gap_stream


def _reference_step(key, pdf, state, threshold_factor, max_deltas):
    last_t, deltas = (None, []) if state is None else (state[0], list(state[1]))
    out = []
    for t in np.sort(pdf["t"].to_numpy(dtype="float64")):
        if last_t is not None:
            delta = float(t - last_t)
            if delta <= 0:
                continue
            if len(deltas) >= 4:
                med = float(np.median(deltas))
                if med > 0 and delta > threshold_factor * med:
                    out.append((key, float(t), float(last_t), delta))
            deltas.append(delta)
            if len(deltas) > max_deltas:
                deltas = deltas[-max_deltas:]
        last_t = float(t)
    return (last_t, deltas), out


def _step(threshold_factor, max_deltas):
    """The step ``detect_gaps_stream`` hands to the stateful driver."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(gap_stream, "stateful_stream", lambda df, key, time, step, *a: step)
        return gap_stream.detect_gaps_stream(None, threshold_factor, max_deltas)


# times on a coarse grid (duplicates, ties between deltas, even-count
# medians), with rare long jumps so gaps fire
_t = st.one_of(
    st.integers(0, 60).map(lambda k: 5.0 * k),
    st.integers(0, 60).map(lambda k: 5.0 * k + 0.25),
    st.integers(1, 5).map(lambda k: 2_000.0 * k),
)
_batch = st.lists(_t, max_size=40)
_deltas = st.lists(
    st.one_of(st.integers(1, 8).map(lambda k: 5.0 * k), st.floats(0.1, 50.0)), max_size=30
)
_state = st.one_of(st.none(), st.tuples(st.one_of(st.none(), _t), _deltas))


@settings(max_examples=400, deadline=None)
@given(
    batches=st.lists(_batch, min_size=1, max_size=5),
    state=_state,
    threshold_factor=st.sampled_from([1.5, 3.0]),
    max_deltas=st.integers(1, 12),
)
def test_step_matches_median_loop(batches, state, threshold_factor, max_deltas):
    step = _step(threshold_factor, max_deltas)
    want_state = None if state is None else (state[0], state[1][-max_deltas:])
    got_state = state
    for ts in batches:
        pdf = pd.DataFrame({"series_key": "a", "t": np.array(ts, dtype=np.float64)})
        got_state, got = step("a", pdf, got_state)
        want_state, want = _reference_step("a", pdf, want_state, threshold_factor, max_deltas)
        assert got == want
        assert got_state == want_state
        assert len(got_state[1]) <= max_deltas


def test_max_deltas_must_be_positive():
    with pytest.raises(ValueError, match="max_deltas"):
        gap_stream.detect_gaps_stream(None, max_deltas=0)
