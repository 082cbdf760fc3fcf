"""CSV table sources/sinks matching the reference's auxiliary pipelines.

- S4: year-to-year differences CSV (wide, ``Year_Pair`` + ``Sensor N``
  columns) → melted long outliers frame
  (apply_refined_corrections.py:39-77: melt + |diff| ≥ 0.1 filter).
- K2/K4: sanitized CSV sink (correction-log analog) routed through the
  formula-escape sanitizer, mirroring the reference's CI-enforced rule that
  every human-facing export is escaped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.safety import sanitize_for_export


def load_yty_diff_csv(spark: SparkSession, path: str, min_abs_diff: float = 0.1) -> DataFrame:
    """Wide YTY-diff CSV → long (Year_Pair, Sensor, Difference) outliers.

    Spark 3.4+ ``melt`` replaces pandas melt; the |diff| filter drops NaN
    rows for free (NaN >= x is false — same note as the reference's code).
    """
    wide = spark.read.csv(path, header=True, inferSchema=True)
    sensor_cols = [c for c in wide.columns if c.startswith("Sensor ") and c[len("Sensor ") :].isdigit()]
    if "Year_Pair" not in wide.columns or not sensor_cols:
        raise ValueError(f"unexpected YTY-diff schema: {wide.columns}")
    long = wide.melt(
        ids=["Year_Pair"], values=sensor_cols, variableColumnName="Sensor", valueColumnName="Difference"
    )
    return long.where(F.abs(F.col("Difference").cast("double")) >= min_abs_diff)


def write_csv_safely(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Sanitized CSV sink (K2) — formula-escapes every string column first."""
    sanitize_for_export(df).write.mode(mode).option("header", True).csv(path)
