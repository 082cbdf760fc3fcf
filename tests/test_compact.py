"""Small-file compaction: row preservation, selectivity, crash recovery."""

import glob
import os

from pyspark.sql import functions as F

from series_correction_project_updated_spark.functions.timeutil import utc_day
from series_correction_project_updated_spark.operators.compact import (
    STAGING_DIR,
    compact_partitions,
    partition_file_stats,
    recover_orphan_staging,
)
from series_correction_project_updated_spark.operators.refresh import write_points_partitioned
from series_correction_project_updated_spark.sources.synth import generate_pages, pages_to_series


def _fragmented_store(spark, tmp_path, name="store"):
    """Day-partitioned store where ONE day got many extra small files
    (simulating repeated incremental ingests into a hot day)."""
    pts = pages_to_series(generate_pages(spark, n_urls=10, samples_per_url=80)).cache()
    path = str(tmp_path / name)
    write_points_partitioned(pts.repartition(2), path)
    hot = sorted(
        e for e in os.listdir(path) if e.startswith("bucket_date=")
    )[0]
    hot_day = hot.split("=")[1]
    frag = pts.filter(utc_day("t") == hot_day)
    for i in range(6):  # six tiny appends -> the hot day fragments
        frag.sample(0.05, seed=i).withColumn("bucket_date", utc_day("t")).repartition(
            3
        ).write.mode("append").partitionBy("bucket_date").parquet(path)
    return pts, path, hot


def _checksum(spark, path):
    """Row count and the sum of values in integer micro-units: an exact
    integer sum, so it does not depend on the order Spark adds partials."""
    df = spark.read.parquet(path)
    r = df.agg(
        F.count("*").alias("n"), F.sum(F.round(F.col("value") * 1e6).cast("long")).alias("s")
    ).collect()[0]
    return r["n"], r["s"]


def test_compact_preserves_rows_and_shrinks_files(spark, tmp_path):
    _, path, hot = _fragmented_store(spark, tmp_path)
    before = _checksum(spark, path)
    stats = {s.name: s for s in partition_file_stats(spark, path)}
    assert stats[hot].files > 4

    done = compact_partitions(spark, path, min_files=4)
    assert hot in done
    after_stats = {s.name: s for s in partition_file_stats(spark, path)}
    assert after_stats[hot].files < stats[hot].files
    assert after_stats[hot].files <= 4
    assert _checksum(spark, path) == before


def test_compact_leaves_healthy_partitions_alone(spark, tmp_path):
    _, path, hot = _fragmented_store(spark, tmp_path)
    healthy = [
        e
        for e in os.listdir(path)
        if e.startswith("bucket_date=") and e != hot
    ]
    # record the healthy partitions' physical files — they must survive
    before_files = {
        p: sorted(glob.glob(os.path.join(path, p, "*.parquet"))) for p in healthy
    }
    done = compact_partitions(spark, path, min_files=4)
    assert set(done).isdisjoint(healthy)
    for p in healthy:
        assert sorted(glob.glob(os.path.join(path, p, "*.parquet"))) == before_files[p]


def test_recover_completes_interrupted_swap(spark, tmp_path):
    """Crash between delete-old and rename: partition dir gone, staging
    complete. Recovery must rename it into place, restoring every row."""
    pts, path, hot = _fragmented_store(spark, tmp_path)
    before = _checksum(spark, path)
    # simulate the crash state by hand
    part_dir = os.path.join(path, hot)
    staging = os.path.join(path, STAGING_DIR, hot)
    os.makedirs(os.path.dirname(staging), exist_ok=True)
    spark.read.parquet(part_dir).coalesce(1).write.parquet(staging)
    import shutil

    shutil.rmtree(part_dir)
    completed = recover_orphan_staging(spark, path)
    assert completed == [hot]
    assert _checksum(spark, path) == before
    assert not os.path.exists(os.path.join(path, STAGING_DIR, hot))


def test_recover_discards_stale_staging(spark, tmp_path):
    """Crash mid-write: partition intact, staging possibly partial.
    Recovery must discard staging and leave the partition as-is."""
    pts, path, hot = _fragmented_store(spark, tmp_path)
    before = _checksum(spark, path)
    staging = os.path.join(path, STAGING_DIR, hot)
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "part-00000.parquet"), "wb") as f:
        f.write(b"partial garbage")
    assert recover_orphan_staging(spark, path) == []
    assert not os.path.exists(staging)
    assert _checksum(spark, path) == before
    # and a full compact run afterwards still works
    done = compact_partitions(spark, path, min_files=4)
    assert hot in done
    assert _checksum(spark, path) == before


def test_staging_dir_invisible_to_readers(spark, tmp_path):
    """A half-written staging rewrite must never surface as a partition."""
    pts, path, hot = _fragmented_store(spark, tmp_path)
    before = _checksum(spark, path)
    staging = os.path.join(path, STAGING_DIR, hot)
    os.makedirs(os.path.dirname(staging), exist_ok=True)
    spark.read.parquet(os.path.join(path, hot)).coalesce(1).write.parquet(staging)
    # duplicate data sits in staging — reads must not see it
    assert _checksum(spark, path) == before
