"""Iceberg source/sink for the pages and tier tables (north rule: the engine
runs over Iceberg tables of Common-Crawl-style pages at 10^12 rows).

The sandbox image carries no ``iceberg-spark-runtime`` JAR, so everything
here is CAPABILITY-GATED at runtime rather than stubbed: when the JAR and a
catalog are present (any real cluster: ``spark-submit --packages
org.apache.iceberg:iceberg-spark-runtime-...``), reads/writes go through the
Iceberg catalog with the partition spec below; otherwise they fall back to
plain parquet with the same LOGICAL layout (identical columns, identical
partition values as directories). Every engine operator consumes the
returned DataFrame identically either way — the fallback is a layout
degradation, not a stub.

Partition spec for the pages table (the scale design, per BASELINE.json):

* ``days(warc_ts)`` — hidden time partitioning: tier rollups and correction
  jobs prune to the crawl window they touch without a user-visible
  partition column.
* ``bucket(N, url)`` — salted-hash partitioning by url: hot domains spread
  over N buckets instead of one file group, and the correction shuffle's
  hash clustering aligns with storage so scans feed the kernel with
  co-located series. N defaults to 32 locally; at the 10^12-row design
  point you'd size it to ~2-4× executor count.

Snapshot-based resume: on Iceberg, ``plans/checkpoint.py``'s bucket manifest
maps to overwrite-by-partition + snapshot metadata; the parquet fallback
keeps its own _done markers (see that module).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: spark-submit --conf entries that enable the Iceberg catalog on a real
#: cluster (hadoop catalog shown; swap type/warehouse for hive/rest/glue).
ICEBERG_CONFS = {
    "spark.sql.extensions": (
        "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
    ),
    "spark.sql.catalog.engine": "org.apache.iceberg.spark.SparkCatalog",
    "spark.sql.catalog.engine.type": "hadoop",
    # "spark.sql.catalog.engine.warehouse": "<warehouse-uri>",
}


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the session's classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def pages_table_ddl(table: str = "engine.db.pages", url_buckets: int = 32) -> str:
    """CREATE TABLE DDL for the pages table with the scale partition spec."""
    return f"""
CREATE TABLE IF NOT EXISTS {table} (
  url     STRING NOT NULL,
  warc_ts TIMESTAMP NOT NULL,
  html    BINARY,
  text    STRING,
  lang    STRING
)
USING iceberg
PARTITIONED BY (days(warc_ts), bucket({url_buckets}, url))
TBLPROPERTIES (
  'write.distribution-mode' = 'hash',
  'write.target-file-size-bytes' = '536870912'
)
""".strip()


def read_pages(spark: SparkSession, location: str) -> DataFrame:
    """Read the pages table: Iceberg catalog table name when available and
    ``location`` looks like a table identifier, else parquet path."""
    if iceberg_available(spark) and "/" not in location:
        return spark.read.table(location)
    return spark.read.parquet(location)


def write_pages(df: DataFrame, location: str, url_buckets: int = 32) -> None:
    """Write pages with the partition spec above (Iceberg) or the same
    logical layout as parquet directories (fallback: date + url-hash-bucket
    columns become directory partitions — identical pruning behavior for
    the engine's day-ranged scans)."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    if iceberg_available(spark) and "/" not in location:
        spark.sql(pages_table_ddl(location, url_buckets))
        (
            df.writeTo(location)
            .overwritePartitions()
        )
        return
    (
        df.withColumn("_day", F.to_date("warc_ts"))
        .withColumn("_url_bucket", F.pmod(F.xxhash64("url"), F.lit(url_buckets)))
        .write.mode("overwrite")
        .partitionBy("_day", "_url_bucket")
        .parquet(location)
    )
