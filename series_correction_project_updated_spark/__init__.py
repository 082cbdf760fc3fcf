"""PySpark-native time-series correction + rollup/retention engine.

A from-scratch, Spark-first reimplementation of the query/data-processing
capabilities of the reference repo ``abhimehro/series_correction_project_updated``
(a single-process pandas pipeline that detects and corrects discontinuities —
gaps, outliers, jumps/level-shifts — in sensor time series), re-expressed as:

- declarative DataFrame plans for everything Catalyst can optimize
  (scans, filters, joins, time-bucket aggregations, lag/lead/cumsum windows),
- one segmenting Arrow kernel (``mapInPandas``) for the inherently
  sequential per-series logic (CUSUM jump scan, rolling exact median/MAD,
  linspace gap fill + pandas interpolation) — vectorized NumPy inside,
- a new rollup + downsample + retention layer (1m/1h/1d continuous
  aggregates with Gorilla XOR / delta-of-delta compression) the reference
  never had.

Subpackages
-----------
oracle      single-node pandas/NumPy reference implementation (shared by the
            Spark kernel and the parity tests — one source of truth)
operators   Spark DataFrame operators (correct, rollup, level_shift, dedup,
            similarity, textops, gaps)
functions   scalar/codec helpers (Gorilla compression, spreadsheet safety)
sources     readers (whitespace sensor files, testdata tables, synthetic pages)
plans       end-to-end jobs with checkpoint/lineage/metrics
streaming   structured-streaming variants of the rollup
"""

__version__ = "0.1.0"
