"""``tiers``: the six tier families (numeric, quantile, counter,
timeweight, stats, histogram) over a stored point table, built the way
``jobs/run_tiers.py`` builds them: a 1m rollup, then 1h and 1d cascades,
each tier written with ``operators.retention.write_tier_partitioned`` and
read back before the next cascade. No correction kernel runs here."""

from __future__ import annotations

import shutil
import time

from pyspark.sql import functions as F

from series_correction_project_updated_spark.schema import TIER_SECONDS

from harness import JobCounter, OpLog, dir_bytes, median
from workloads.base import CheckFailed, Workload

TIERS = ("1m", "1h", "1d")
FAMILIES = ("numeric", "quantile", "counter", "timeweight", "stats", "histogram")
# jobs/run_tiers.py defaults: digest size 64, histogram 0..100 in 32 bins
DIGEST_K = 64
HIST = (0.0, 100.0, 32)


def families() -> dict:
    """family -> (1m build from points, cascade(fine, tier))."""
    from series_correction_project_updated_spark.operators import (
        counters,
        histogram,
        quantile,
        stats,
        timeweight,
    )
    from series_correction_project_updated_spark.operators.rollup import cascade, rollup

    lo, hi, nbins = HIST
    return {
        "numeric": (lambda pts: rollup(pts, "1m"), cascade),
        "quantile": (
            lambda pts: quantile.quantile_rollup(pts, "1m", k=DIGEST_K),
            lambda fine, tier: quantile.quantile_cascade(fine, tier, k=DIGEST_K),
        ),
        "counter": (lambda pts: counters.counter_rollup(pts, "1m"), counters.counter_cascade),
        "timeweight": (
            lambda pts: timeweight.time_weighted_rollup(pts, "1m"),
            timeweight.time_weighted_cascade,
        ),
        "stats": (lambda pts: stats.stats_rollup(pts, "1m"), stats.stats_cascade),
        "histogram": (
            lambda pts: histogram.histogram_rollup(pts, "1m", lo, hi, nbins),
            histogram.histogram_cascade,
        ),
    }


class Tiers(Workload):
    name = "tiers"
    primary = "families"
    sizes = {
        "full": {"n_urls": 600, "samples": 400, "interval": 20},
        "smoke": {"n_urls": 12, "samples": 60, "interval": 20},
    }

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.fams = families()
        self.bytes_pp: list[float] = []

    def setup(self) -> None:
        self.pages_path = self.write_pages()
        self.points_path = self.env.fresh_dir("points")
        self.points().write.parquet(self.points_path)

    def prepare(self) -> None:
        """Expected rows per family and tier, from plain aggregates: the
        (series, bucket) pairs holding a non-null value, except for
        ``timeweight``, whose rows are the buckets its interpolated segments
        cover: every bucket between each series' first and last sample."""
        pts = self.spark.read.parquet(self.points_path)
        self.n_input = pts.count()
        vals = pts.where(F.col("value").isNotNull())
        span = vals.groupBy("series_key").agg(F.min("t").alias("t0"), F.max("t").alias("t1"))
        aggs = []
        for t in TIERS:
            s = TIER_SECONDS[t]
            aggs.append(F.count_distinct("series_key", F.floor(F.col("t") / s)).alias(t))
        row = vals.agg(*aggs).collect()[0]
        covered = span.where(F.col("t1") > F.col("t0")).agg(
            *[
                F.sum(
                    F.ceil(F.col("t1") / TIER_SECONDS[t]) - F.floor(F.col("t0") / TIER_SECONDS[t])
                ).alias(t)
                for t in TIERS
            ]
        ).collect()[0]
        self.expected = {
            f"{fam}_{t}": int(covered[t] if fam == "timeweight" else row[t])
            for fam in FAMILIES
            for t in TIERS
        }

    def _build(self, out: str) -> dict:
        """Every family, every tier; returns {family_tier: rows}."""
        from series_correction_project_updated_spark.operators.retention import (
            write_tier_partitioned,
        )

        tr = self.tracer
        rows = {}
        pts = self.spark.read.parquet(self.points_path)
        for fam in FAMILIES:
            build_1m, cascade_fn = self.fams[fam]
            fine = None
            with tr.span(f"operators.{fam}.build"):
                for tier in TIERS:
                    df = build_1m(pts) if tier == "1m" else cascade_fn(fine, tier)
                    path = f"{out}/{fam}_{tier}"
                    with tr.span("operators.retention.write_tier_partitioned"):
                        write_tier_partitioned(df, path)
                    stored = self.spark.read.parquet(path)
                    rows[f"{fam}_{tier}"] = stored.count()
                    fine = stored.drop("bucket_date")
        return rows

    def _check(self, rows: dict) -> None:
        bad = {k: (n, self.expected[k]) for k, n in rows.items() if n != self.expected[k]}
        if bad:
            raise CheckFailed(f"tier rows (got, expected): {bad}")

    def op(self, kind: str, log: OpLog) -> None:
        out = self.env.fresh_dir("tiers")
        t0 = time.perf_counter()
        rows = self._build(out)
        dt = time.perf_counter() - t0
        try:
            self._check(rows)
            log.sample(kind, dt)
            self.bytes_pp.append(dir_bytes(out) / self.n_input)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def e2e(self, log: OpLog) -> tuple[dict, dict]:
        times = log.samples[self.primary]
        pts_per_s = median([self.n_input / t for t in times])
        detail = {
            "tiers_pts_per_s": pts_per_s,
            "tiers_bytes_per_point": median(self.bytes_pp),
            "families_p50_s": median(times),
            "samples": len(times),
            "input_points": self.n_input,
            "expected_rows": self.expected,
        }
        metrics = {
            "op_p50_ms": median(times) * 1e3,
            "points_per_s": pts_per_s,
            "bytes_per_point": median(self.bytes_pp),
        }
        return metrics, detail

    def traced_op(self, log: OpLog) -> dict:
        tr = self.tracer
        out = self.env.fresh_dir("traced")
        with tr.span("bench.op.tiers"), JobCounter(self.spark) as jobs:
            rows = self._build(out)
        self._check(rows)
        layer = {}
        for fam in FAMILIES:
            layer[f"operators.{fam}.build_s"] = tr.total(f"operators.{fam}.build", op=tr.op_id)
            layer[f"operators.{fam}.bytes"] = sum(
                dir_bytes(f"{out}/{fam}_{t}") for t in TIERS
            )
            for t in TIERS:
                layer[f"operators.{fam}.rows_{t}"] = rows[f"{fam}_{t}"]
        shutil.rmtree(out, ignore_errors=True)
        layer.update(
            {
                "operators.retention.write_tier_partitioned_s": tr.total(
                    "operators.retention.write_tier_partitioned", op=tr.op_id
                ),
                "trace.op_s": tr.total("bench.op.tiers", op=tr.op_id),
                "spark.jobs_per_op": jobs.jobs,
                "spark.tasks_per_op": jobs.tasks,
            }
        )
        return layer
