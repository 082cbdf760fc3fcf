"""Live funnel progression.

Keyed stateful stream (``streaming/stateful``), the analog of the batch funnel
(operators/funnel.funnel_reach): per user, each arriving event can
advance the prefix-filled first-reach state by at most one step; a row is
emitted the moment a step is newly reached, so a dashboard sees
conversion as it happens instead of re-folding history.

State per user (explicitly bounded):

* ``step_ts`` — array of k first-reach epoch seconds (null = unreached),
  O(k) doubles per key, frozen once the funnel completes,
* ``last_t``  — last accepted event time.

On a fully-delivered, in-order stream the final state per user equals
``funnel_reach`` bit-for-bit (test-pinned, including the time budget).

Output rows: (user_id, step, step_name, t) per newly-reached step.
Scale: one shuffle on user_id, O(k) state per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .stateful import stateful_stream

FUNNEL_EVENT = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("step", T.IntegerType(), False),
        T.StructField("step_name", T.StringType(), False),
        T.StructField("t", T.DoubleType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("step_ts", T.ArrayType(T.DoubleType())),
        T.StructField("last_t", T.DoubleType()),
    ]
)


def funnel_stream(
    events_stream: DataFrame,
    steps: list[str],
    within_sec: float | None = None,
    state_ttl_ms: int = 0,
    key_col: str = "user_id",
    time_col: str = "t",
    type_col: str = "event_type",
) -> DataFrame:
    """Keyed stateful funnel progression on a stream of
    (user_id, t:epoch-seconds double, event_type) rows. Emits one row per
    newly-reached step. Same advance rule as the batch fold: the next
    open step index is the count of reached steps; ``within_sec`` bounds
    the whole funnel relative to step 1; ``state_ttl_ms > 0`` evicts
    idle users."""
    k = len(steps)
    if k == 0:
        raise ValueError("steps must be non-empty")

    def _step(key, pdf, st):
        step_ts, last_t = ([None] * k, None) if st is None else (list(st[0]), st[1])
        pdf = pdf.sort_values(time_col)
        out = []
        for t, tp in zip(pdf[time_col].to_numpy(dtype="float64"), pdf[type_col]):
            if last_t is not None and t <= last_t:
                continue
            last_t = float(t)
            j = sum(s is not None for s in step_ts)
            if j >= k:
                continue  # funnel complete — state frozen
            if within_sec is not None and j > 0 and (t - step_ts[0]) > within_sec:
                continue
            if tp == steps[j]:
                step_ts[j] = float(t)
                out.append((key, j + 1, steps[j], float(t)))
        return (step_ts, last_t), out

    return stateful_stream(
        events_stream, key_col, _step, FUNNEL_EVENT, _STATE_SCHEMA, state_ttl_ms
    )
