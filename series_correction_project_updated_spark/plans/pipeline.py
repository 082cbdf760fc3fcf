"""The flagship end-to-end job: pages → series → correct (with the finest
rollup tier, lineage and its Gorilla chunks in one kernel pass) → coarser
rollup tiers, with a metrics side table.

Distributed replacement for the reference's ``batch_process`` driver loop
(scripts/batch_correction.py:461-516): config on the driver, data never on
the driver. The correction kernel runs once (one hash shuffle by series)
and is the job's only Python stage: its output holds the finest tier, the
lineage rows and the finest tier's compressed chunks, and each output
directory is written once. Coarser tiers cascade in the JVM from the tier
below them, and the metrics row is a JVM-side one-row plan. Every count in
the returned summary is an ``Observation`` on the write that produces it,
so no job runs only to count.

The write phase is a small dependency graph, not a sequence::

    kernel (persisted) ──► rollup_<finest> ──┬─► lineage
                                             ├─► compressed_<finest>
                                             └─► rollup_<2nd> ─► rollup_<3rd> ...
                                         then metrics (after every branch)

The finest-tier write runs first and alone: it materializes the persisted
kernel output, so the three branches after it only read the cache or a
written tier. The branches run at once on driver threads; each write is a
few small tasks plus a fixed driver cost (planning, commit), so on a
few-core box they overlap instead of queueing. Each cached side is
coalesced to ``defaultParallelism`` tasks: one wave of write tasks, at
most one part file per core. The coarser tiers still cascade from the
*written* tier below, not from the cache: a 1d tier summed from the
written 1h tier adds ``vsum`` in the association of a tier-by-tier
build, so no output byte depends on how the branches interleave, and
each read is ~60x smaller than the level below.
"""

from __future__ import annotations

import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from ..operators.correct import correct_rollup_lineage
from ..operators.rollup import cascade
from ..schema import COMPRESSED, LINEAGE, ROLLUP, TIER_SECONDS
from ..sources.synth import pages_to_series


@dataclass
class PipelineConfig:
    """Mirrors the reference's merged config (processor.py:468-481) plus
    engine knobs. The finest tier's ``vsum`` is the one compressed."""

    correction: dict[str, Any] = field(default_factory=dict)
    tiers: tuple[str, ...] = ("1m", "1h", "1d")
    n_buckets: int = 32
    # NOTE deliberately NO retention knob here: retention must not filter a
    # tier before a COARSER tier cascades from it (coarser tiers keep longer
    # horizons), so expiry is a separate maintenance job over the written
    # tier stores — jobs/run_retention.py + operators/retention.py — exactly
    # how production continuous-aggregate policies run (background job, not
    # build-time filter).


def _write(df: DataFrame, path: str, **metrics: Column) -> dict[str, Any]:
    """Overwrite ``path`` with ``df`` as parquet; return ``metrics``
    (aggregates over the written rows) as observed by that same write."""
    obs = Observation()
    df.observe(obs, *(m.alias(k) for k, m in metrics.items())).write.mode("overwrite").parquet(path)
    return obs.get


def _run_branches(spark: SparkSession, *branches: Callable[[], Any]) -> list[Any]:
    """Run each branch on its own driver thread and return their results
    in order. Every branch ends before this returns; the earliest failure
    is then raised. ``inheritable_thread_target`` gives each branch the
    caller's local properties (job group, description, scheduler pool)
    and session tags."""
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(len(branches), thread_name_prefix="run_pipeline") as pool:
        futures = [pool.submit(inherit(b)) for b in branches]
        errors = [f.exception() for f in as_completed(futures)]
    for err in errors:
        if err is not None:
            raise err
    return [f.result() for f in futures]


def _step_sum(step: str, col: Column) -> Column:
    """Sum of ``col`` over the lineage rows of one kernel step."""
    return F.coalesce(F.sum(F.when(F.col("step") == step, col)), F.lit(0))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    config: PipelineConfig | None = None,
    job_id: str | None = None,
) -> dict[str, Any]:
    """Execute the full pipeline, writing per-tier parquet + lineage +
    metrics under ``out_dir``. Returns a summary dict."""
    cfg = config or PipelineConfig()
    job_id = job_id or uuid.uuid4().hex[:12]
    t_start = time.time()

    # The coarser-tier cascade below derives each tier from the previous
    # one, which is only sound for nested tiers ordered finest→coarsest.
    secs = [TIER_SECONDS[t] for t in cfg.tiers]
    for prev, nxt in zip(secs, secs[1:]):
        if nxt <= prev or nxt % prev != 0:
            raise ValueError(
                f"cfg.tiers must be finest-to-coarsest with each tier an exact "
                f"multiple of the previous; got {cfg.tiers} ({secs}s)"
            )

    # the kernel drops rows with a null series key; count them on its input
    dropped = Observation()
    points = pages_to_series(pages).observe(
        dropped, F.count(F.when(F.col("series_key").isNull(), 1)).alias("rows")
    )

    # The finest tier, the lineage rows and the finest tier's Gorilla chunks
    # come out of ONE kernel execution (correct_rollup_lineage), held in
    # memory (spilling to disk) while its three row_kind sides are written.
    # The finest tier is written first: that write materializes the kernel
    # output. The lineage write, the chunk write and the coarser-tier chain
    # then run at once, each reading only the cache or a written tier.
    finest = cfg.tiers[0]
    fine_path = os.path.join(out_dir, f"rollup_{finest}")
    fused = correct_rollup_lineage(points, finest, cfg.correction, num_partitions=cfg.n_buckets)
    fused.persist(StorageLevel.MEMORY_AND_DISK)
    width = spark.sparkContext.defaultParallelism

    def side(kind: str, schema: StructType) -> DataFrame:
        # one wave of write tasks, and at most one part file per core
        return fused.where(F.col("row_kind") == kind).select(*schema.fieldNames()).coalesce(width)

    def write_lineage() -> dict[str, Any]:
        return _write(
            side("lineage", LINEAGE),
            os.path.join(out_dir, "lineage"),
            # rows INCLUDING null-valued ones (e.g. an all-NaN series that
            # interpolation cannot fill): the kernel's post-gap row count
            corrected_rows=_step_sum("gaps", F.col("n_rows_out")),
            gaps_filled=_step_sum("gaps", F.col("n_rows_out") - F.col("n_rows_in")),
            outliers_replaced=_step_sum("outliers", F.col("n_detected")),
            jumps_corrected=_step_sum("jumps", F.col("n_detected")),
        )

    def write_chunks() -> dict[str, Any]:
        return _write(
            side("chunk", COMPRESSED),
            os.path.join(out_dir, f"compressed_{finest}"),
            bytes_per_point=F.sum(F.length("payload")) / F.sum("n_points"),
        )

    def write_coarser() -> dict[str, int]:
        # each tier cascades from the WRITTEN tier below it, ~60x smaller
        # than the raw points, in the same association as a serial build
        counts, lower = {}, spark.read.schema(ROLLUP).parquet(fine_path)
        for name in cfg.tiers[1:]:
            path = os.path.join(out_dir, f"rollup_{name}")
            counts[name] = _write(cascade(lower, name), path, rows=F.count("*"))["rows"]
            lower = spark.read.schema(ROLLUP).parquet(path)
        return counts

    try:
        # corrected_points counts non-null VALUES (the sum of the tier's cnt),
        # not rows: an all-NaN series' rows are excluded
        fine = _write(side("rollup", ROLLUP), fine_path, rows=F.count("*"), cnt=F.sum("cnt"))
        lin, comp, coarser = _run_branches(spark, write_lineage, write_chunks, write_coarser)
    finally:
        fused.unpersist()

    tier_counts = {finest: fine["rows"], **coarser}
    n_corrected = int(fine["cnt"] or 0)

    # Every series yields rollup rows, so an empty finest tier means an
    # empty kernel output. AQE then folds the cached scan out of every
    # write plan, and the kernel-input observation with it: count the
    # null-key rows directly, a job only on such an input.
    if tier_counts[finest]:
        n_dropped = dropped.get["rows"]
    else:
        n_dropped = pages_to_series(pages).where(F.col("series_key").isNull()).count()

    wall = time.time() - t_start
    spark.range(1, numPartitions=1).select(
        F.lit(job_id).alias("job_id"),
        F.lit("all").alias("partition_key"),
        F.lit("Processed").alias("status"),
        F.lit(n_corrected).cast("long").alias("records"),
        F.lit(float(wall)).alias("wall_sec"),
    ).write.mode("append").parquet(os.path.join(out_dir, "metrics"))

    total_rolled = sum(tier_counts.values())
    return {
        "job_id": job_id,
        "corrected_points": n_corrected,
        "tier_counts": tier_counts,
        "rolled_points_total": total_rolled,
        "rolled_points_per_sec": total_rolled / wall if wall > 0 else None,
        "compressed_bytes_per_point": comp["bytes_per_point"],
        "wall_sec": wall,
        **lin,  # corrected_rows and the kernel's domain counters
        "null_key_rows_dropped": n_dropped,
    }


def verify_text_identity(pages_in: DataFrame, pages_out: DataFrame) -> bool:
    """north_rule invariant check: byte-identical extracted text per url."""
    a = pages_in.select("url", F.md5("text").alias("h")).distinct()
    b = pages_out.select("url", F.md5("text").alias("h")).distinct()
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
