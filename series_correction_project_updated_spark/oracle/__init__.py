"""Single-node reference implementation (the "oracle").

Pure pandas/NumPy, no Spark. This module is the one source of truth for the
discontinuity-correction semantics: the Spark kernel in
``operators/correct.py`` executes these exact functions per series inside
``mapInPandas`` (via ``process_tv``, the array-native form of the frame
pipeline), and the parity tests assert Spark output == oracle output
bit-for-bit.

Semantics match the reference repo's observed behavior (citations are
``file:line`` into ``/root/reference``); the code is written from scratch.
"""

from .correction import (
    DEFAULT_CONFIG,
    correct_gaps,
    correct_jumps,
    correct_outliers,
    detect_gaps,
    detect_jumps,
    detect_outliers,
    process_series,
)
from .global_mad import global_mad_correct
from .levelshift import chain_level_shifts, non_zero_average

__all__ = [
    "DEFAULT_CONFIG",
    "detect_gaps",
    "detect_outliers",
    "detect_jumps",
    "correct_gaps",
    "correct_outliers",
    "correct_jumps",
    "process_series",
    "global_mad_correct",
    "non_zero_average",
    "chain_level_shifts",
]
