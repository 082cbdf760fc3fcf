"""Fixed StructTypes for every engine table.

The reference infers schemas per file (scripts/batch_correction.py:369-397);
at 10^12 rows schema-on-read is a liability, so every table here is explicit.
Shapes follow FIXTURES.md §6 (series/rollup/compressed), plus lineage
mirroring the reference's correction-log record
(scripts/apply_refined_corrections.py:185-194).
"""

from __future__ import annotations

from pyspark.sql import types as T


#: Long-format series points: one numeric signal per (url) over crawl time.
SERIES_POINTS = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("t", T.DoubleType(), False),  # epoch seconds (fractional after gap fill)
        T.StructField("value", T.DoubleType(), True),
    ]
)

#: Output of the correction kernel (same shape; corrected values, gap rows added).
CORRECTED_POINTS = SERIES_POINTS

#: Continuous-aggregate tier row (1m / 1h / 1d share the shape).
ROLLUP = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("bucket_start", T.LongType(), False),  # epoch seconds, tier-aligned
        T.StructField("cnt", T.LongType(), False),
        T.StructField("vsum", T.DoubleType(), True),
        T.StructField("vmin", T.DoubleType(), True),
        T.StructField("vmax", T.DoubleType(), True),
        T.StructField("vfirst", T.DoubleType(), True),
        T.StructField("vlast", T.DoubleType(), True),
    ]
)

#: Gorilla/delta-of-delta compressed chunk of rolled-up points.
COMPRESSED = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("tier", T.StringType(), False),
        T.StructField("chunk_start", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("n_points", T.LongType(), False),
        # exact per-chunk time bounds (first/last encoded bucket_start):
        # the pruning stats for range reads — on a parquet store these are
        # the columns row-group min/max skipping works against, so a time
        # predicate eliminates chunks without touching payload bytes
        T.StructField("t_min", T.LongType(), False),
        T.StructField("t_max", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

#: Lineage: what was corrected where (reference correction-log schema analog).
LINEAGE = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("step", T.StringType(), False),  # gaps | outliers | jumps
        T.StructField("n_detected", T.LongType(), False),
        T.StructField("n_rows_in", T.LongType(), False),
        T.StructField("n_rows_out", T.LongType(), False),
        T.StructField("detail", T.StringType(), True),
    ]
)

#: Union-typed single-pass output of ``correct_rollup_lineage``: ``row_kind``
#: discriminates ROLLUP rows ('rollup'), LINEAGE rows ('lineage') and
#: COMPRESSED rows ('chunk'); a row's columns of the other two sides are
#: null. Everything except the key and discriminator is nullable by design.
ROLLUP_WITH_LINEAGE = T.StructType(
    [
        T.StructField("series_key", T.StringType(), False),
        T.StructField("bucket_start", T.LongType(), True),
        T.StructField("cnt", T.LongType(), True),
        T.StructField("vsum", T.DoubleType(), True),
        T.StructField("vmin", T.DoubleType(), True),
        T.StructField("vmax", T.DoubleType(), True),
        T.StructField("vfirst", T.DoubleType(), True),
        T.StructField("vlast", T.DoubleType(), True),
        T.StructField("step", T.StringType(), True),
        T.StructField("n_detected", T.LongType(), True),
        T.StructField("n_rows_in", T.LongType(), True),
        T.StructField("n_rows_out", T.LongType(), True),
        T.StructField("detail", T.StringType(), True),
        T.StructField("tier", T.StringType(), True),
        T.StructField("chunk_start", T.LongType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("n_points", T.LongType(), True),
        T.StructField("t_min", T.LongType(), True),
        T.StructField("t_max", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("row_kind", T.StringType(), False),
    ]
)


TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}
