"""Year-boundary level-shift oracle.

Reference: /root/reference/scripts/apply_refined_corrections.py —
for each flagged (series, sensor, year-pair) boundary, shift the NEXT year by

    shift = nonzero_avg(last 5 rows of prev year) − nonzero_avg(first 5 rows of next year)

where nonzero_avg coerces to numeric, drops NaN, excludes exact zeros, and
returns 0.0 on empty (:21-28). Files are mutated IN PLACE and reused, so
shifts chain across consecutive years (pinned by
scripts/tests/test_apply_refined_corrections.py:79-130): when year y−1 was
already shifted by C[y−1], the tail average seen by boundary (y−1, y) is the
shifted one, giving the closed form

    C[y] = (tail_raw[y−1] − head_raw[y]) + C[y−1]

i.e. a cumulative sum over boundary deltas — which is exactly how the Spark
operator (operators/level_shift.py) expresses it with a running-sum window.
"""

from __future__ import annotations

import pandas as pd


def non_zero_average(values) -> float:
    """Mean excluding zeros and non-numeric/NaN; 0.0 when nothing remains.

    Reference: scripts/apply_refined_corrections.py:21-28.
    """
    s = pd.to_numeric(pd.Series(list(values)), errors="coerce").dropna()
    s = s[s != 0]
    return float(s.mean()) if not s.empty else 0.0


def chain_level_shifts(
    years: list[int],
    head_avgs: dict[int, float],
    tail_avgs: dict[int, float],
) -> dict[int, float]:
    """Cumulative shift per year assuming every boundary is corrected in
    ascending year order (the reference corrects each boundary once; the
    in-place mutation makes shifts accumulate).

    Returns {year: total shift applied to that year} with the first year at 0.
    """
    shifts: dict[int, float] = {}
    prev_shift = 0.0
    ordered = sorted(years)
    for i, y in enumerate(ordered):
        if i == 0:
            shifts[y] = 0.0
            prev_shift = 0.0
            continue
        prev = ordered[i - 1]
        delta = (tail_avgs.get(prev, 0.0) + prev_shift) - head_avgs.get(y, 0.0)
        shifts[y] = delta
        prev_shift = delta
    return shifts
