"""Bucketed point-store layout: shuffle once at write, never at read.

The correction kernel's only exchange is its explicit
``repartition(series_key)`` (operators/correct.py). For a STORED corpus
that shuffle can be paid once, at ingest, by persisting the point store
as a Spark bucketed table: ``bucketBy(N, series_key)`` writes each
murmur3-hash bucket to its own file set, and a bucketed scan hands every
bucket back as one task — rows of a series never straddle partitions, so
``correct_series(..., assume_clustered=True)`` can skip its repartition
entirely. At the 100 TB design point this turns every re-correction,
refresh, and rollup pass over the standing store from
"scan + full shuffle + kernel" into "clustered scan + kernel": the
shuffle cost is amortized over the store's lifetime instead of paid per
job. (Rollups grouping on ``(series_key, bucket_start)`` are also
exchange-free off this layout: hash clustering on ``series_key`` alone
already co-locates every ``(series_key, bucket)`` group.)

Two sharp edges, both handled here:

- ``write_points_bucketed`` pre-repartitions to exactly
  ``(buckets, key)`` — Spark's ``repartition`` and its bucketing spec use
  the SAME partition-id function (``pmod(murmur3(key), n)``), so each
  write task holds exactly one bucket and emits exactly one file, instead
  of the tasks×buckets small-file blow-up of a naive bucketed write.
- ``read_points_bucketed`` pins
  ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false`` for the
  session. ``mapInPandas`` declares NO required distribution, so the
  auto-bucketed-scan optimizer would silently replace the bucketed scan
  with a regular file-split scan (it sees no operator "needing" the
  clustering) — and a series would straddle partitions, corrupting the
  kernel. The flag forces the physical bucket layout through to the RDD.

Memory bound: one bucket = one task = one in-memory pandas frame in the
kernel, so pick ``buckets`` such that rows_total/buckets fits a Python
worker — same arithmetic as ``correct_series``'s ``num_partitions``,
decided at write time instead of read time.

No reference counterpart (the reference is a single-process engine with
no storage layout at all); this is the storage edge of the same design
note as operators/ingest.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.timeutil import utc_day

_AUTO_BUCKETED_SCAN = "spark.sql.sources.bucketing.autoBucketedScan.enabled"


def write_points_bucketed(
    points: DataFrame,
    table: str,
    buckets: int = 64,
    key_col: str = "series_key",
    time_col: str = "t",
    path: str | None = None,
    partition_by_day: bool = False,
) -> None:
    """Persist a point store hash-bucketed by ``key_col``.

    Sorted by ``(key, t)`` within each file — free at write (the
    pre-repartition already moved the rows) and it keeps each series
    contiguous on disk for chunk-local scans. ``path`` makes the table
    external (tests point it at a tmpdir); otherwise it lands in the
    session warehouse.

    ``partition_by_day=True`` layers a ``bucket_date=`` UTC-day partition
    UNDER the bucketing — one layout serving every access pattern in the
    engine: day pruning for refresh (`refresh_tier`'s
    ``prune_partition_col``) and metadata-only expiry
    (`retention.expire_partition_dirs`), key clustering for the
    exchange-free kernel. Same pure-UTC-day arithmetic as
    ``refresh.write_points_partitioned`` (session-timezone independent).
    File count becomes days × non-empty buckets — each still written by
    exactly one task thanks to the pre-repartition.
    """
    spark = points.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    clustered = points.repartition(buckets, key_col)
    if partition_by_day:
        clustered = clustered.withColumn("bucket_date", utc_day(time_col))
    writer = (
        clustered.write.format("parquet")
        .bucketBy(buckets, key_col)
        .sortBy(key_col, time_col)
        .mode("overwrite")
    )
    if partition_by_day:
        writer = writer.partitionBy("bucket_date")
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_points_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed point store with its clustering guaranteed.

    Disables auto-bucketed-scan for the session (see module docstring —
    without this the clustering contract silently evaporates under plans
    with no distribution-requiring operator) and verifies the catalog
    actually records bucketing, so a plain parquet table can't be passed
    where the kernel will assume clustering.
    """
    spark.conf.set(_AUTO_BUCKETED_SCAN, "false")
    desc = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    }
    if "Num Buckets" not in desc:
        raise ValueError(f"table {table!r} is not bucketed — kernel clustering would be unsound")
    return spark.table(table)
