"""``serve``: the read path beside the writes of the same store.

Set-up builds a standing store (raw points, corrected points, 1m/1h/1d
tiers, compressed 1m chunks). One client then runs a fixed seeded
sequence of ops in a closed loop:

* ``range``: ``operators.compress.read_range`` over a 1-day window and a
  fixed number of series;
* ``plot``: a 1h-tier range scan plus ``operators.rollup.downsample_m4``;
* ``refresh``: a late batch (64 series x 3 points) through
  ``operators.refresh.recorrect_series``, ``refresh_tier``,
  ``refresh_cascade`` and ``operators.compress.refresh_compressed``; the
  result is written as the store's next version, which later ops read.
"""

from __future__ import annotations

import random
import time

import pandas as pd
from pyspark.sql import functions as F

from harness import JobCounter, OpLog, median, pct
from workloads.base import CORRECTION, CheckFailed, Workload, tier_checksum

DAY = 86400
RANGE_KEYS = 8  # series per range read
PLOT_KEYS = 4  # series per plot
PLOT_PIXELS = 120  # M4 buckets across the plotted span
LATE_POINTS = 3
# One cycle of the closed loop; reads are 9 of every 10 ops. The refresh
# comes first so that every run measures at least one.
CYCLE = ["refresh"] + ["range"] * 4 + ["plot"] + ["range"] * 4
CHECK_EVERY = 4  # every 4th range read is kept and checked after the run


class Serve(Workload):
    name = "serve"
    primary = "range"
    min_ops = len(CYCLE)  # every op kind gets a sample
    # 600 s cadence: 28 days per series, 3 compressed 1m chunks per series
    sizes = {
        "full": {"n_urls": 160, "samples": 4032, "interval": 600, "late_series": 64},
        "smoke": {"n_urls": 12, "samples": 600, "interval": 600, "late_series": 4},
    }

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.parts = 2 * self.env.cpus
        self.rng = random.Random(self.seed)
        self.version = 0
        self.kept_reads: list[tuple] = []
        self.returned = {"range": [], "plot": []}
        self.late_rows: list[pd.DataFrame] = []

    # -- store ----------------------------------------------------------
    def _store(self, v: int) -> dict:
        return {
            k: f"{self.store_dir}/{k}_v{v}"
            for k in ("corrected", "1m", "1h", "1d", "compressed")
        }

    def setup(self) -> None:
        from series_correction_project_updated_spark.operators.compress import compress_rollup
        from series_correction_project_updated_spark.operators.correct import correct_series
        from series_correction_project_updated_spark.operators.rollup import cascade, rollup

        spark = self.spark
        self.pages_path = self.write_pages()
        self.store_dir = self.env.fresh_dir("store")
        self.raw_path = f"{self.store_dir}/raw"
        self.late_path = f"{self.store_dir}/late"
        self.points().write.parquet(self.raw_path)
        s = self._store(0)
        correct_series(
            spark.read.parquet(self.raw_path), CORRECTION, num_partitions=self.parts
        ).write.parquet(s["corrected"])
        rollup(spark.read.parquet(s["corrected"]), "1m").write.parquet(s["1m"])
        cascade(spark.read.parquet(s["1m"]), "1h").write.parquet(s["1h"])
        cascade(spark.read.parquet(s["1h"]), "1d").write.parquet(s["1d"])
        compress_rollup(
            spark.read.parquet(s["1m"]), "1m", num_partitions=self.parts
        ).write.parquet(s["compressed"])

    def prepare(self) -> None:
        raw = self.spark.read.parquet(self.raw_path)
        self.n_input = raw.count()
        r = raw.agg(F.min("t"), F.max("t")).collect()[0]
        self.t_min, self.t_max = float(r[0]), float(r[1])
        self.keys = sorted(
            x[0] for x in raw.select("series_key").distinct().collect()
        )

    def kind(self, i: int) -> str:
        return CYCLE[i % len(CYCLE)]

    def warmup_kinds(self) -> list[str]:
        return ["range", "plot", "refresh"]

    def _read(self, what: str):
        return self.spark.read.parquet(self._store(self.version)[what])

    # -- ops ----------------------------------------------------------------
    def op(self, kind: str, log: OpLog) -> None:
        getattr(self, f"_{kind}")(kind, log)

    def _range(self, kind: str, log: OpLog, traced: bool = False) -> None:
        from series_correction_project_updated_spark.operators.compress import read_range

        keys = self.rng.sample(self.keys, RANGE_KEYS)
        day0 = int(self.t_min // DAY) * DAY
        n_days = max(1, int((self.t_max - day0) // DAY))
        lo = day0 + self.rng.randrange(n_days) * DAY
        hi = lo + DAY - 1
        t0 = time.perf_counter()
        with self.tracer.span("operators.compress.read_range"):
            pdf = read_range(self._read("compressed"), lo, hi, keys).toPandas()
        dt = time.perf_counter() - t0
        log.sample(kind, dt)
        self.returned["range"].append(len(pdf))
        if traced or len(log.samples[kind]) % CHECK_EVERY == 0:
            self.kept_reads.append((self.version, lo, hi, keys, pdf))

    def _plot(self, kind: str, log: OpLog) -> None:
        from series_correction_project_updated_spark.operators.rollup import downsample_m4

        keys = self.rng.sample(self.keys, PLOT_KEYS)
        lo, hi = self.t_min, self.t_max
        bucket_sec = (hi - lo) / PLOT_PIXELS
        t0 = time.perf_counter()
        with self.tracer.span("operators.rollup.plot_scan"):
            tier = self._read("1h").where(
                F.col("series_key").isin(keys)
                & F.col("bucket_start").between(int(lo), int(hi))
            )
            pts = tier.select(
                "series_key",
                F.col("bucket_start").cast("double").alias("t"),
                (F.col("vsum") / F.col("cnt")).alias("value"),
            )
        with self.tracer.span("operators.rollup.downsample_m4"):
            out = downsample_m4(pts, bucket_sec).toPandas()
        dt = time.perf_counter() - t0
        n_buckets = len(out.groupby(["series_key", "bucket_start"]))
        if not 0 < len(out) <= 4 * n_buckets:
            raise CheckFailed(f"M4 returned {len(out)} rows for {n_buckets} buckets")
        log.sample(kind, dt)
        self.returned["plot"].append(len(out))

    def _late_batch(self) -> pd.DataFrame:
        """``late_series`` series x ``LATE_POINTS`` points, each placed
        halfway between two existing samples (so no (key, t) repeats)."""
        rng = self.rng
        iv = self.size["interval"]
        rows = []
        for key in rng.sample(self.keys, self.size["late_series"]):
            for _ in range(LATE_POINTS):
                slot = rng.randrange(self.size["samples"] - 1)
                t = self.t_min + slot * iv + iv / 2 + rng.random()
                rows.append((key, float(t), 5.0 + 3.0 * rng.random()))
        return pd.DataFrame(rows, columns=["series_key", "t", "value"])

    def _refresh(self, kind: str, log: OpLog) -> None:
        from series_correction_project_updated_spark.operators.compress import refresh_compressed
        from series_correction_project_updated_spark.operators.refresh import (
            invalidated_buckets,
            recorrect_series,
            refresh_cascade,
            refresh_tier,
        )

        spark, tr = self.spark, self.tracer
        late_pdf = self._late_batch()
        old, new = self._store(self.version), self._store(self.version + 1)
        t0 = time.perf_counter()
        late = spark.createDataFrame(late_pdf, "series_key string, t double, value double")
        late.write.mode("append").parquet(self.late_path)
        raw = spark.read.parquet(self.raw_path).unionByName(spark.read.parquet(self.late_path))
        with tr.span("operators.refresh.recorrect_series"):
            recorrect_series(
                raw, late, spark.read.parquet(old["corrected"]), config=CORRECTION
            ).write.parquet(new["corrected"])
        corrected = spark.read.parquet(new["corrected"])
        # recorrection may move any point of a touched series, so every
        # bucket of those series is invalidated
        touched = corrected.join(late.select("series_key").distinct(), "series_key", "left_semi")
        inv = invalidated_buckets(touched, "1m")
        with tr.span("operators.refresh.refresh_tier"):
            refresh_tier(spark.read.parquet(old["1m"]), corrected, touched, "1m").write.parquet(
                new["1m"]
            )
        r1m = spark.read.parquet(new["1m"])
        with tr.span("operators.refresh.refresh_cascade"):
            refresh_cascade(r1m, spark.read.parquet(old["1h"]), inv, "1h").write.parquet(new["1h"])
            refresh_cascade(
                spark.read.parquet(new["1h"]), spark.read.parquet(old["1d"]), inv, "1d"
            ).write.parquet(new["1d"])
        with tr.span("operators.compress.refresh_compressed"):
            refresh_compressed(
                spark.read.parquet(old["compressed"]), r1m, inv, "1m", num_partitions=self.parts
            ).write.parquet(new["compressed"])
        dt = time.perf_counter() - t0
        self.version += 1
        self.late_rows.append(late_pdf)
        log.sample(kind, dt)

    # -- checks -------------------------------------------------------------
    def finish(self, log: OpLog) -> None:
        """Deferred checks: kept range reads against a full decode of the
        store version they read, and the refresh laws on the final store."""
        from series_correction_project_updated_spark.operators.compress import (
            compress_rollup,
            decompress_to_points,
        )
        from series_correction_project_updated_spark.operators.rollup import cascade, rollup

        spark = self.spark
        cols = ["series_key", "bucket_start", "value"]
        for version, lo, hi, keys, got in self.kept_reads:
            full = decompress_to_points(
                spark.read.parquet(self._store(version)["compressed"])
            ).toPandas()
            want = full[
                full["series_key"].isin(keys) & full["bucket_start"].between(lo, hi)
            ]
            a = got[cols].sort_values(cols[:2]).reset_index(drop=True)
            b = want[cols].sort_values(cols[:2]).reset_index(drop=True)
            if not a.equals(b):
                log.fail("range", f"read_range v{version} [{lo},{hi}] != full decode, filtered")
        if self.version == 0:
            return
        s = self._store(self.version)
        corrected = spark.read.parquet(s["corrected"])
        want_1m = rollup(corrected, "1m")
        want_1h = cascade(want_1m, "1h")
        laws = {
            "1m": want_1m,
            "1h": want_1h,
            "1d": cascade(want_1h, "1d"),
        }
        for tier, want in laws.items():
            # compared as (rows, checksum of values rounded to 6 decimals):
            # coarse buckets sum floats in plan-dependent order
            if tier_checksum(spark.read.parquet(s[tier])) != tier_checksum(want):
                log.fail("refresh", f"refreshed {tier} tier != full rollup/cascade")
        store = spark.read.parquet(s["compressed"]).select("series_key", "chunk_start", "payload")
        fresh = compress_rollup(spark.read.parquet(s["1m"]), "1m", num_partitions=self.parts)
        fresh = fresh.select("series_key", "chunk_start", "payload")
        if store.exceptAll(fresh).count() or fresh.exceptAll(store).count():
            log.fail("refresh", "refreshed store payloads != compress_rollup(refreshed 1m)")

    # -- metrics ------------------------------------------------------------
    def e2e(self, log: OpLog) -> tuple[dict, dict]:
        s = log.samples
        p50 = {k: median(v) for k, v in s.items()}
        # served points per busy second for the fixed cycle mix, from the
        # per-op-type medians (never a percentile over mixed op types)
        mix = {k: CYCLE.count(k) for k in set(CYCLE)}
        busy = sum(mix[k] * p50[k] for k in mix)
        served = sum(mix[k] * median(self.returned[k]) for k in ("range", "plot"))
        detail = {
            "range_p50_ms": p50["range"] * 1e3,
            "plot_p50_ms": p50["plot"] * 1e3,
            "refresh_p50_s": p50["refresh"],
            "samples": {k: len(v) for k, v in s.items()},
            "store_versions": self.version,
            "input_points": self.n_input,
        }
        metrics = {
            "op_p50_ms": p50["range"] * 1e3,
            "points_per_s": served / busy,
            "bytes_per_point": self._store_bytes_per_point(),
        }
        detail["compressed_bytes_per_point"] = metrics["bytes_per_point"]
        if len(s["range"]) >= 100:  # a p90 needs ten samples beyond it
            detail["range_p90_ms"] = pct(s["range"], 90) * 1e3
        return metrics, detail

    def _store_bytes_per_point(self) -> float:
        from series_correction_project_updated_spark.operators.compress import bytes_per_point

        r = bytes_per_point(self._read("compressed")).collect()[0]
        return float(r["bytes_per_point"])

    def traced_op(self, log: OpLog) -> dict:
        tr, spark = self.tracer, self.spark
        with tr.span("bench.op.range"), JobCounter(spark) as jobs:
            self._range("range", log, traced=True)
        range_s = tr.total("bench.op.range", op=tr.op_id)
        version, lo, hi, keys, got = self.kept_reads[-1]
        comp = self._read("compressed")
        pruned = comp.where(
            F.col("series_key").isin(keys) & (F.col("t_max") >= lo) & (F.col("t_min") <= hi)
        )
        decoded = int(pruned.agg(F.sum("n_points")).collect()[0][0] or 0)
        with tr.span("bench.op.plot"):
            self._plot("plot", log)
        with tr.span("bench.op.refresh"):
            self._refresh("refresh", log)
        inv_frac = self._refresh_fractions()
        return {
            "operators.compress.read_range_ms": range_s * 1e3,
            "operators.compress.points_decoded": decoded,
            "operators.compress.points_returned": len(got),
            "operators.compress.useful_frac": len(got) / decoded if decoded else 0.0,
            "spark.jobs_per_range": jobs.jobs,
            "spark.tasks_per_range": jobs.tasks,
            "operators.rollup.downsample_m4_ms": tr.total(
                "operators.rollup.downsample_m4", op=tr.op_id
            )
            * 1e3,
            "operators.refresh.recorrect_series_s": tr.total(
                "operators.refresh.recorrect_series", op=tr.op_id
            ),
            "operators.refresh.refresh_tier_s": tr.total(
                "operators.refresh.refresh_tier", op=tr.op_id
            ),
            "operators.refresh.refresh_cascade_s": tr.total(
                "operators.refresh.refresh_cascade", op=tr.op_id
            ),
            "operators.compress.refresh_compressed_s": tr.total(
                "operators.compress.refresh_compressed", op=tr.op_id
            ),
            **inv_frac,
            "trace.op_s": range_s,
            "spark.jobs_per_op": jobs.jobs,
            "spark.tasks_per_op": jobs.tasks,
        }

    def _refresh_fractions(self) -> dict:
        """Share of 1m buckets recomputed and of chunks re-encoded by the
        last refresh (counted from the late batch against the store)."""
        late = self.spark.createDataFrame(self.late_rows[-1])
        s = self._store(self.version)
        tier = self.spark.read.parquet(s["1m"])
        touched = tier.join(late.select("series_key").distinct(), "series_key", "left_semi")
        comp = self.spark.read.parquet(s["compressed"])
        touched_chunks = comp.join(late.select("series_key").distinct(), "series_key", "left_semi")
        return {
            "operators.refresh.buckets_recomputed_frac": touched.count() / tier.count(),
            "operators.compress.chunks_reencoded_frac": touched_chunks.count() / comp.count(),
        }

