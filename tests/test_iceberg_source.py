"""Iceberg source/sink: capability gate, DDL partition spec, and the parquet
fallback's layout + pruning (the sandbox has no Iceberg runtime JAR, so the
fallback path is what executes here; the gate itself is asserted False)."""

import pandas as pd
from pyspark.sql import functions as F

from series_correction_project_updated_spark.sources.iceberg import (
    ICEBERG_CONFS,
    iceberg_available,
    pages_table_ddl,
    read_pages,
    write_pages,
)


def test_capability_gate_false_in_sandbox(spark):
    assert iceberg_available(spark) is False


def test_ddl_has_scale_partition_spec():
    ddl = pages_table_ddl("engine.db.pages", url_buckets=64)
    assert "PARTITIONED BY (days(warc_ts), bucket(64, url))" in ddl
    assert "USING iceberg" in ddl
    assert "write.distribution-mode" in ddl
    assert "spark.sql.extensions" in ICEBERG_CONFS


def test_fallback_roundtrip_layout_and_pruning(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "url": [f"https://d{i % 3}.example/p{i}" for i in range(30)],
            "warc_ts": pd.to_datetime(
                ["2024-01-01T06:00:00"] * 15 + ["2024-01-02T06:00:00"] * 15
            ),
            "html": [b""] * 30,
            "text": [f"text {i}" for i in range(30)],
            "lang": ["en"] * 30,
        }
    )
    loc = str(tmp_path / "pages")
    write_pages(spark.createDataFrame(pdf), loc, url_buckets=4)

    # layout: day + url-bucket directory partitions
    back = read_pages(spark, loc)
    assert back.count() == 30
    assert {"_day", "_url_bucket"} <= set(back.columns)
    assert back.select("_url_bucket").distinct().count() <= 4

    # pruning: day filter reads only that day's rows (and the physical scan
    # carries the partition filter)
    day1 = back.where(F.col("_day") == "2024-01-01")
    assert day1.count() == 15
    plan = day1._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "_day" in plan
