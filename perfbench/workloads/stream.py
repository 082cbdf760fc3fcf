"""``stream``: one op drains a fixed backlog of page files with
``trigger(availableNow=True)`` through three streaming queries, one after
the other: ``streaming.rollup_stream.streaming_rollup`` (watermarked 1m
window aggregate) and the two ``applyInPandasWithState`` families
``streaming.gap_stream.detect_gaps_stream`` and
``streaming.stats_stream.stats_stream``. Each query reads the backlog in
``FILES_PER_BATCH``-file micro-batches into a parquet sink with a fresh
checkpoint."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from harness import JobCounter, OpLog, dir_bytes, median
from workloads.base import CheckFailed, Workload

FILES_PER_BATCH = 2
QUERIES = ("rollup", "gaps", "stats")
STAT_SUMS = ("sx", "sy", "sxx", "syy", "sxy")
ROLL_VALUES = ("vsum", "vmin", "vmax", "vfirst", "vlast")


class Stream(Workload):
    name = "stream"
    primary = "drain"
    sizes = {
        "full": {"n_urls": 200, "samples": 400, "interval": 60, "files": 6},
        "smoke": {"n_urls": 12, "samples": 60, "interval": 60, "files": 4},
    }

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.batch_ms: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.bytes_pp: list[float] = []
        self.gap_events: int | None = None

    def setup(self) -> None:
        """Pages, then the backlog: the pages split by time into
        ``files`` parquet files whose modification times follow that order,
        so the file source reads them oldest first."""
        self.pages_path = self.write_pages()
        staged = self.env.fresh_dir("staged")
        self.spark.read.parquet(self.pages_path).repartitionByRange(
            self.size["files"], "warc_ts"
        ).sortWithinPartitions("warc_ts").write.parquet(staged)
        self.src = self.env.fresh_dir("backlog")
        os.makedirs(self.src)
        parts = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
        base = time.time() - len(parts)
        for i, f in enumerate(parts):
            dst = os.path.join(self.src, f"b{i:04d}.parquet")
            shutil.move(os.path.join(staged, f), dst)
            os.utime(dst, (base + i, base + i))
        shutil.rmtree(staged, ignore_errors=True)

    def prepare(self) -> None:
        """Batch references: the 1m rollup and the 1m moment sums over the
        same rows, each built with the batch operator."""
        from series_correction_project_updated_spark.operators.rollup import rollup
        from series_correction_project_updated_spark.operators.stats import stats_rollup

        pts = self.points()
        self.n_input = pts.count()
        self.batch_rollup = rollup(pts, "1m").toPandas()
        self.batch_stats = stats_rollup(pts, "1m").toPandas()

    def _queries(self) -> dict:
        from series_correction_project_updated_spark.sources.synth import pages_to_series
        from series_correction_project_updated_spark.streaming.gap_stream import detect_gaps_stream
        from series_correction_project_updated_spark.streaming.rollup_stream import streaming_rollup
        from series_correction_project_updated_spark.streaming.stats_stream import stats_stream

        schema = self.spark.read.parquet(self.pages_path).schema

        def pages():
            return (
                self.spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", FILES_PER_BATCH)
                .parquet(self.src)
            )

        return {
            "rollup": (
                "streaming.rollup_stream.streaming_rollup",
                lambda: streaming_rollup(pages(), "1m"),
            ),
            "gaps": (
                "streaming.gap_stream.detect_gaps_stream",
                lambda: detect_gaps_stream(pages_to_series(pages())),
            ),
            "stats": (
                "streaming.stats_stream.stats_stream",
                lambda: stats_stream(pages_to_series(pages()), "1m"),
            ),
        }

    def _drain(self, out: str, jobs: JobCounter | None = None) -> dict:
        """Run the three queries to the end of the backlog; returns each
        query's progress reports."""
        progress = {}
        for name, (span, make) in self._queries().items():
            with self.tracer.span(span):
                q = (
                    make()
                    .writeStream.format("parquet")
                    .outputMode("append")
                    .option("path", f"{out}/{name}")
                    .option("checkpointLocation", f"{out}/_ckpt_{name}")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            if jobs is not None:
                jobs.add_group(str(q.runId))
            if q.exception() is not None:
                raise RuntimeError(f"stream {name} failed: {q.exception()}")
            progress[name] = q.recentProgress
        return progress

    def _check(self, out: str, progress: dict) -> None:
        """Closed buckets equal the batch operators over the same rows."""
        read = lambda n: self.spark.read.parquet(f"{out}/{n}").toPandas()  # noqa: E731
        # rollup: append mode emits exactly the windows the final
        # watermark closed
        wm = progress["rollup"][-1]["eventTime"].get("watermark")
        wm_s = self.spark.sql(f"select unix_timestamp(timestamp'{wm}')").collect()[0][0]
        want = self.batch_rollup[self.batch_rollup["bucket_start"] + 60 <= wm_s]
        _same(read("rollup"), want, ["series_key", "bucket_start"], ["cnt"], ROLL_VALUES, "rollup")
        # stats: every bucket but each key's last, which stays open in state
        st = self.batch_stats
        last = st.groupby("series_key")["bucket_start"].transform("max")
        closed = st[st["bucket_start"] < last]
        _same(read("stats"), closed, ["series_key", "bucket_start"], ["n"], STAT_SUMS, "stats")
        gaps = len(read("gaps"))
        if self.gap_events is None:
            self.gap_events = gaps
        elif gaps != self.gap_events:
            raise CheckFailed(f"gap events {gaps} != {self.gap_events} on an earlier drain")

    def op(self, kind: str, log: OpLog) -> None:
        out = self.env.fresh_dir("drain")
        t0 = time.perf_counter()
        progress = self._drain(out)
        dt = time.perf_counter() - t0
        try:
            self._check(out, progress)
            log.sample(kind, dt)
            for q in QUERIES:
                self.batch_ms[q].extend(_batch_ms(progress[q]))
            self.bytes_pp.append(
                sum(dir_bytes(f"{out}/{q}") for q in QUERIES) / self.n_input
            )
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def e2e(self, log: OpLog) -> tuple[dict, dict]:
        times = log.samples[self.primary]
        rows_per_s = median([self.n_input / t for t in times])
        # each query's batches are one op type with its own median; the
        # metric is the mean of the three medians
        batch_p50 = {q: median(v) for q, v in self.batch_ms.items()}
        batch_ms = sum(batch_p50.values()) / len(batch_p50)
        detail = {
            "stream_rows_per_s": rows_per_s,
            "stream_batch_p50_ms": batch_ms,
            "batch_p50_ms": batch_p50,
            "drain_p50_s": median(times),
            "samples": len(times),
            "batch_samples": {q: len(v) for q, v in self.batch_ms.items()},
            "input_rows": self.n_input,
            "gap_events": self.gap_events,
        }
        metrics = {
            "op_p50_ms": batch_ms,
            "points_per_s": rows_per_s,
            "bytes_per_point": median(self.bytes_pp),
        }
        return metrics, detail

    def traced_op(self, log: OpLog) -> dict:
        tr = self.tracer
        out = self.env.fresh_dir("traced")
        with tr.span("bench.op.stream"), JobCounter(self.spark) as jobs:
            progress = self._drain(out, jobs)
        self._check(out, progress)
        shutil.rmtree(out, ignore_errors=True)
        layer = {}
        for name, reports in progress.items():
            data = [p for p in reports if p["numInputRows"] > 0]
            pre = f"streaming.{name}"
            for step in ("addBatch", "walCommit", "triggerExecution"):
                layer[f"{pre}.{step}_ms"] = median([p["durationMs"].get(step, 0) for p in data])
            ops = [p["stateOperators"][0] for p in reports if p["stateOperators"]]
            layer[f"{pre}.state_commit_ms"] = median([o["commitTimeMs"] for o in ops])
            layer[f"{pre}.state_rows"] = ops[-1]["numRowsTotal"]
            layer[f"{pre}.state_bytes"] = ops[-1]["memoryUsedBytes"]
            layer[f"{pre}.rows_dropped_by_watermark"] = sum(
                o.get("numRowsDroppedByWatermark", 0) for o in ops
            )
            layer[f"{pre}.batches"] = len(reports)
        layer.update(
            {
                "trace.op_s": tr.total("bench.op.stream", op=tr.op_id),
                "spark.jobs_per_op": jobs.jobs,
                "spark.tasks_per_op": jobs.tasks,
            }
        )
        return layer


def _batch_ms(reports: list) -> list[float]:
    """``triggerExecution`` of each data micro-batch after the first (the
    first also plans the query and creates its state)."""
    data = [p for p in reports if p["numInputRows"] > 0]
    return [float(p["durationMs"]["triggerExecution"]) for p in data[1:]]


def _same(got, want, keys, exact, approx, what: str) -> None:
    """Row sets equal on ``keys``; ``exact`` columns equal, ``approx``
    columns equal to 1e-9 relative (streaming sums add in another order)."""
    if len(got) != len(want):
        raise CheckFailed(f"{what}: {len(got)} closed buckets, batch has {len(want)}")
    m = got.merge(want, on=keys, suffixes=("", "_b"), how="inner")
    if len(m) != len(want):
        raise CheckFailed(f"{what}: bucket keys differ from batch")
    for c in exact:
        if not (m[c].to_numpy() == m[f"{c}_b"].to_numpy()).all():
            raise CheckFailed(f"{what}: column {c} differs from batch")
    for c in approx:
        a, b = m[c].to_numpy(float), m[f"{c}_b"].to_numpy(float)
        if not np.allclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True):
            raise CheckFailed(f"{what}: column {c} differs from batch beyond 1e-9")
