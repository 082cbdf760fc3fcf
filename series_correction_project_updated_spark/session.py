"""SparkSession factory with engine defaults.

Tuned for correctness-at-scale first: AQE on (runtime coalesce + skew-join
splitting), Arrow enabled for every pandas-UDF boundary, and shuffle
partitions sized from the active parallelism rather than the 200 default.
On a real cluster these same settings hold; only ``master`` changes
(spark-submit provides it).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_OBJ_AGG_KEY = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
# forks the Python workers with a stat-guarded zip re-read (see the module);
# the package's root goes on the workers' path so the daemon can start
_DAEMON_MODULE = "series_correction_project_updated_spark._pyworker"
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def get_spark(
    app_name: str = "series-correction-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default the
    CPUs this process may run on) so bench/tests control parallelism via
    one knob. ``shuffle_partitions`` defaults to the core count — at 100 TB
    you'd raise it to ~2-4× total cores; AQE coalesces small post-shuffle
    partitions either way. Python workers start from the package's own
    daemon (``_pyworker``), which skips an unchanged zip re-read per task.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _usable_cpus())
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # exact median/percentile (TypedImperativeAggregate) sort-falls-back
        # after 128 keys per partition by default, which slows every
        # median-based detector (measured ~30% on gap detect). 65536 keys is
        # a deliberate middle ground: far above any per-partition series
        # count we shuffle to, but bounded — percentile buffers are O(KB)
        # per key, so the worst-case agg map stays tens of MB per partition
        # even with wide buffers (a 1M global default risks executor OOM at
        # the 100 TB design point). Jobs that want more use object_agg_boost.
        .config(_OBJ_AGG_KEY, "65536")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # driver==executor memory in local mode; generous for 32 threads
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", _DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def object_agg_boost(spark: SparkSession, threshold: int = 1_048_576):
    """Temporarily raise the ObjectHashAggregate sort-fallback threshold for
    a median/collect_list-heavy job, restoring the previous value after.

    Scoped (not session-global) on purpose: every TypedImperativeAggregate
    in the session shares the threshold, and ~1M keys of percentile buffers
    per partition is an OOM risk at the 100 TB design point."""
    old = spark.conf.get(_OBJ_AGG_KEY, None)
    spark.conf.set(_OBJ_AGG_KEY, str(threshold))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(_OBJ_AGG_KEY)
        else:
            spark.conf.set(_OBJ_AGG_KEY, old)
