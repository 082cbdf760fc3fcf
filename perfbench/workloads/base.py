"""What every workload shares: seeded input pages, the op loop interface,
tier checksums and the direct single-thread layer probes."""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import functions as F

from harness import Env, OpLog, Tracer, median

# Correction settings every workload passes to the kernel: the engine's
# defaults today, fixed here so that a change of default does not silently
# change the work the benchmark measures.
CORRECTION = {"window_size": 5, "threshold": 3.0}

# Points the direct kernel and codec probes run over (whole series, the
# hot one first, until the budget is reached).
PROBE_POINTS = 60_000


class CheckFailed(Exception):
    """An op's output broke one of the laws the benchmark checks."""


def tier_checksum(df) -> tuple[int, int]:
    """(row count, xxhash64 XOR) of a rollup tier; the hash is the one the
    scaling worker pins tiers with, values rounded to 6 decimals."""
    row_hash = F.xxhash64(
        "series_key",
        "bucket_start",
        "cnt",
        F.round("vsum", 6),
        F.round("vmin", 6),
        F.round("vmax", 6),
        F.round("vfirst", 6),
        F.round("vlast", 6),
    )
    r = df.agg(F.count("*").alias("n"), F.bit_xor(row_hash).alias("c")).collect()[0]
    return int(r["n"]), int(r["c"] or 0)


class Workload:
    """One seeded workload. ``setup`` is timed and repeated; ``prepare``
    computes the reference values checks compare against; ``op`` runs one
    timed op and checks it outside its timed span; ``finish`` runs the
    checks deferred to the end of the run."""

    name = ""
    primary = ""  # op kind whose median is op_p50_ms
    min_ops = 1  # ops a timed loop runs even past its deadline
    sizes: dict[str, dict] = {}

    def __init__(self, env: Env, seed: int, scale: str, tracer: Tracer):
        self.env = env
        self.spark = env.spark
        self.seed = seed
        self.size = self.sizes[scale]
        self.tracer = tracer
        self.n_input = 0
        self.pages_path = ""

    # -- inputs ---------------------------------------------------------
    def write_pages(self) -> str:
        from series_correction_project_updated_spark.sources.synth import generate_pages

        path = self.env.fresh_dir("pages")
        generate_pages(
            self.spark,
            n_urls=self.size["n_urls"],
            samples_per_url=self.size["samples"],
            interval_sec=self.size["interval"],
            seed=self.seed,
        ).write.parquet(path)
        return path

    def points(self):
        """The engine's view of the stored pages: (series_key, t, value)."""
        from series_correction_project_updated_spark.sources.synth import pages_to_series

        return pages_to_series(self.spark.read.parquet(self.pages_path))

    # -- interface --------------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def kind(self, i: int) -> str:
        return self.primary

    def warmup_kinds(self) -> list[str]:
        return [self.primary]

    def op(self, kind: str, log: OpLog) -> None:
        raise NotImplementedError

    def finish(self, log: OpLog) -> None:
        pass

    def e2e(self, log: OpLog) -> tuple[dict, dict]:
        """(end-to-end metrics, detail) from the untraced ops."""
        raise NotImplementedError

    def traced_op(self, log: OpLog) -> dict:
        """One op under spans; returns the workload's per-layer detail."""
        raise NotImplementedError

    def derived(self, layer: dict) -> dict:
        """Layer figures that combine the probes with the traced op."""
        return {}

    # -- direct layer probes (traced runs only) ---------------------------
    def probes(self) -> dict:
        """Direct, single-thread calls into ``oracle`` and ``functions``
        on this workload's own series, plus a timed scan of its pages."""
        from series_correction_project_updated_spark.functions import compress as codec
        from series_correction_project_updated_spark.operators.rollup import rollup
        from series_correction_project_updated_spark.oracle.correction import process_tv

        scans = []
        for _ in range(3):
            t0 = time.perf_counter()
            with self.tracer.span("sources.pages_scan"):
                self.points().agg(F.count("*"), F.sum("value")).collect()
            scans.append(time.perf_counter() - t0)

        lens = self.points().groupBy("series_key").count().orderBy("series_key").collect()
        keys, total = [], 0
        for r in lens:
            if total >= PROBE_POINTS:
                break
            keys.append(r["series_key"])
            total += r["count"]
        sample = self.points().where(F.col("series_key").isin(keys))
        pdf = sample.toPandas().sort_values(["series_key", "t"], kind="stable")
        series = [
            (g["t"].to_numpy(np.float64), g["value"].to_numpy(np.float64))
            for _, g in pdf.groupby("series_key", sort=True)
        ]
        n_pts = sum(len(t) for t, _ in series)
        kernel = []
        for _ in range(3):
            t0 = time.perf_counter()
            with self.tracer.span("oracle.process_tv"):
                for t, v in series:
                    process_tv(t, v, CORRECTION)
            kernel.append(time.perf_counter() - t0)

        tier = rollup(sample, "1m").orderBy("series_key", "bucket_start").toPandas()
        ts = tier["bucket_start"].to_numpy(np.int64)
        vals = tier["vsum"].to_numpy(np.float64)
        keys_arr = tier["series_key"].to_numpy()
        change = np.flatnonzero(keys_arr[1:] != keys_arr[:-1]) + 1
        offsets = np.concatenate([[0], change, [len(tier)]]).astype(np.int64)
        enc, dec = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            with self.tracer.span("functions.compress.encode_chunks"):
                payloads = codec.encode_chunks(ts, vals, offsets)
            enc.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            with self.tracer.span("functions.compress.decode_chunks"):
                d_ts, d_vals, d_off = codec.decode_chunks(payloads)
            dec.append(time.perf_counter() - t0)
        if not (
            np.array_equal(d_ts, ts)
            and np.array_equal(d_vals.view(np.int64), vals.view(np.int64))
            and np.array_equal(d_off, offsets)
        ):
            raise CheckFailed("codec probe: decode(encode(x)) != x")
        return {
            "sources.pages_scan_s": median(scans),
            "oracle.process_tv_ns_per_pt": median(kernel) / n_pts * 1e9,
            "functions.compress.encode_ns_per_pt": median(enc) / len(ts) * 1e9,
            "functions.compress.decode_ns_per_pt": median(dec) / len(ts) * 1e9,
            "probe.points": n_pts,
            "probe.tier_points": int(len(ts)),
        }
