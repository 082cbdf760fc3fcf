"""``build``: the nightly write path, one ``plans.pipeline.run_pipeline``
per op into a fresh directory (fused correct+lineage kernel, 1m/1h/1d
tiers, Gorilla compression of the 1m tier)."""

from __future__ import annotations

import shutil
import time

from pyspark.sql import functions as F

from harness import JobCounter, OpLog, WorkerRSS, dir_bytes, median
from workloads.base import CORRECTION, CheckFailed, Workload, tier_checksum

TIERS = ("1m", "1h", "1d")


class Build(Workload):
    name = "build"
    primary = "pipeline"
    # 20 s cadence, so each 1m bucket holds about 3 points
    sizes = {
        "full": {"n_urls": 600, "samples": 400, "interval": 20},
        "smoke": {"n_urls": 12, "samples": 60, "interval": 20},
    }

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_buckets = 2 * self.env.cpus
        self.corrected: list[int] = []
        self.compressed_bpp: list[float] = []
        self.store_bpp: list[float] = []

    def config(self):
        from series_correction_project_updated_spark.plans.pipeline import PipelineConfig

        return PipelineConfig(correction=dict(CORRECTION), n_buckets=self.n_buckets)

    def setup(self) -> None:
        self.pages_path = self.write_pages()

    def prepare(self) -> None:
        """Reference tiers from an independent path: the unfused
        ``correct_and_rollup`` kernel entry plus ``cascade`` (the scaling
        worker's shape). Every pipeline pass must reproduce them."""
        from series_correction_project_updated_spark.operators.correct import correct_and_rollup
        from series_correction_project_updated_spark.operators.rollup import cascade

        self.n_input = self.points().count()
        d = self.env.fresh_dir("reference")
        lower = None
        self.reference = {}
        for tier in TIERS:
            df = (
                correct_and_rollup(self.points(), "1m", CORRECTION, num_partitions=self.n_buckets)
                if tier == "1m"
                else cascade(lower, tier)
            )
            df.write.parquet(f"{d}/{tier}")
            lower = self.spark.read.parquet(f"{d}/{tier}")
            self.reference[tier] = tier_checksum(lower)
        self.reference_corrected = int(
            self.spark.read.parquet(f"{d}/1m").agg(F.sum("cnt")).collect()[0][0]
        )
        shutil.rmtree(d, ignore_errors=True)

    def _check(self, out: str, corrected: int) -> None:
        got = {t: tier_checksum(self.spark.read.parquet(f"{out}/rollup_{t}")) for t in TIERS}
        if got != self.reference:
            raise CheckFailed(f"tier (count, checksum) {got} != reference {self.reference}")
        if corrected != self.reference_corrected:
            raise CheckFailed(f"corrected points {corrected} != {self.reference_corrected}")

    def op(self, kind: str, log: OpLog) -> None:
        from series_correction_project_updated_spark.plans.pipeline import run_pipeline

        out = self.env.fresh_dir("pipeline")
        pages = self.spark.read.parquet(self.pages_path)
        t0 = time.perf_counter()
        summary = run_pipeline(self.spark, pages, out, self.config())
        dt = time.perf_counter() - t0
        try:
            self._check(out, summary["corrected_points"])
            log.sample(kind, dt)
            self.corrected.append(summary["corrected_points"])
            self.compressed_bpp.append(summary["compressed_bytes_per_point"])
            self.store_bpp.append(dir_bytes(out) / self.n_input)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def e2e(self, log: OpLog) -> tuple[dict, dict]:
        times = log.samples[self.primary]
        pts_per_s = median([c / t for c, t in zip(self.corrected, times)])
        detail = {
            "build_pts_per_s": pts_per_s,
            "compressed_bytes_per_point": median(self.compressed_bpp),
            "store_bytes_per_point": median(self.store_bpp),
            "pipeline_p50_s": median(times),
            "samples": len(times),
            "input_points": self.n_input,
            "corrected_points": self.corrected[0],
        }
        metrics = {
            "op_p50_ms": median(times) * 1e3,
            "points_per_s": pts_per_s,
            "bytes_per_point": median(self.store_bpp),
        }
        return metrics, detail

    def traced_op(self, log: OpLog) -> dict:
        """``run_pipeline`` replayed step by step through the same public
        functions, writing parquet after each step as the pipeline does."""
        from series_correction_project_updated_spark.operators.compress import (
            bytes_per_point,
            compress_rollup,
        )
        from series_correction_project_updated_spark.operators.correct import correct_rollup_lineage
        from series_correction_project_updated_spark.operators.rollup import cascade
        from series_correction_project_updated_spark.schema import LINEAGE, ROLLUP
        from series_correction_project_updated_spark.sources.synth import pages_to_series

        tr, spark = self.tracer, self.spark
        out = self.env.fresh_dir("traced")
        counts = {}
        with tr.span("bench.op.build"), JobCounter(spark) as jobs:
            with tr.span("sources.pages_to_series"):
                points = pages_to_series(spark.read.parquet(self.pages_path))
            with WorkerRSS(spark) as rss, tr.span("operators.correct.correct_rollup_lineage"):
                correct_rollup_lineage(
                    points, "1m", CORRECTION, num_partitions=self.n_buckets
                ).write.partitionBy("row_kind").parquet(f"{out}/fused_1m")
            with tr.span("plans.pipeline.split"):
                fused = spark.read.parquet(f"{out}/fused_1m")
                fused.where(F.col("row_kind") == "lineage").select(
                    *[f.name for f in LINEAGE.fields]
                ).write.parquet(f"{out}/lineage")
                fused.where(F.col("row_kind") == "rollup").select(
                    *[f.name for f in ROLLUP.fields]
                ).write.parquet(f"{out}/rollup_1m")
                spark.read.parquet(f"{out}/lineage").where(F.col("step") == "gaps").agg(
                    F.sum("n_rows_out")
                ).collect()
            with tr.span("plans.pipeline.sink"):
                lower = spark.read.parquet(f"{out}/rollup_1m")
                counts["1m"] = lower.count()
                corrected = int(lower.agg(F.sum("cnt")).collect()[0][0])
            for tier in TIERS[1:]:
                with tr.span(f"operators.rollup.cascade_{tier}"):
                    cascade(lower, tier).write.parquet(f"{out}/rollup_{tier}")
                    lower = spark.read.parquet(f"{out}/rollup_{tier}")
                    counts[tier] = lower.count()
            with tr.span("operators.compress.compress_rollup"):
                compress_rollup(spark.read.parquet(f"{out}/rollup_1m"), "1m", "vsum").write.parquet(
                    f"{out}/compressed_1m"
                )
            with tr.span("plans.pipeline.bytes_per_point"):
                bytes_per_point(spark.read.parquet(f"{out}/compressed_1m")).collect()
        self._check(out, corrected)
        lin = {
            r["step"]: r
            for r in spark.read.parquet(f"{out}/lineage")
            .groupBy("step")
            .agg(
                F.sum("n_detected").alias("detected"),
                F.sum(F.col("n_rows_out") - F.col("n_rows_in")).alias("inserted"),
            )
            .collect()
        }
        shutil.rmtree(out, ignore_errors=True)
        st = tr.self_times(op=tr.op_id)
        total = lambda n: tr.total(n, op=tr.op_id)  # noqa: E731
        return {
            "operators.correct.fused_lineage_s": total("operators.correct.correct_rollup_lineage"),
            "operators.correct.worker_peak_rss_mb": rss.peak_mb,
            "operators.correct.gaps_filled": int(lin["gaps"]["inserted"]),
            "operators.correct.outliers_replaced": int(lin["outliers"]["detected"]),
            "operators.correct.jumps_corrected": int(lin["jumps"]["detected"]),
            "operators.compress.compress_rollup_s": total("operators.compress.compress_rollup"),
            "operators.rollup.cascade_1h_s": total("operators.rollup.cascade_1h"),
            "operators.rollup.cascade_1d_s": total("operators.rollup.cascade_1d"),
            "operators.rollup.rows_1m": counts["1m"],
            "operators.rollup.rows_1h": counts["1h"],
            "operators.rollup.rows_1d": counts["1d"],
            "plans.pipeline.glue_self_s": st.get("plans.pipeline.split", 0.0)
            + st.get("plans.pipeline.sink", 0.0)
            + st.get("plans.pipeline.bytes_per_point", 0.0),
            "trace.op_s": total("bench.op.build"),
            "spark.jobs_per_op": jobs.jobs,
            "spark.tasks_per_op": jobs.tasks,
            "corrected_points": corrected,
        }

    def derived(self, layer: dict) -> dict:
        """Layer figures that combine the probes and the untraced ops with
        the traced op: the kernel's share of its step, and the pipeline's
        own sink work (``run_pipeline`` time minus the replayed steps)."""
        kernel_s = layer["oracle.process_tv_ns_per_pt"] * 1e-9 * self.n_input / self.env.cpus
        steps = sum(
            layer[k]
            for k in (
                "operators.correct.fused_lineage_s",
                "operators.rollup.cascade_1h_s",
                "operators.rollup.cascade_1d_s",
                "operators.compress.compress_rollup_s",
            )
        )
        return {
            "operators.correct.boundary_frac": 1.0
            - kernel_s / layer["operators.correct.fused_lineage_s"],
            "plans.pipeline.sink_s": layer["trace.untraced_op_s"] - steps,
        }
