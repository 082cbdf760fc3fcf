#!/usr/bin/env python3
"""Tiny-size smoke run of every workload. Run from the root of a checkout:

    python3 perfbench/smoke.py

For each workload (build, tiers, serve, stream) and each of ``--trace 0``
and ``--trace 1``, runs ``perfbench/run.py --scale smoke`` and asserts that
the result line has exactly the keys ``correct``, ``attempted``, ``failed``
and ``metrics``, that every check passed
with no failed op, that every metric ``BENCHMARK.json`` lists for the mode
prints with its unit, and that the detail line carries the workload's
named metrics. Last, runs the benchmark in a directory holding only
``BENCHMARK.json`` and ``perfbench/`` and asserts it fails without a
result. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

# Named metrics each workload's detail line must carry.
DETAIL = {
    "build": {
        0: ["build_pts_per_s", "compressed_bytes_per_point", "store_bytes_per_point"],
        1: [
            "operators.correct.fused_lineage_s",
            "operators.correct.boundary_frac",
            "operators.correct.worker_peak_rss_mb",
            "operators.correct.gaps_filled",
            "operators.correct.outliers_replaced",
            "operators.correct.jumps_corrected",
            "operators.compress.compress_rollup_s",
            "operators.rollup.cascade_1h_s",
            "operators.rollup.cascade_1d_s",
            "plans.pipeline.sink_s",
        ],
    },
    "tiers": {
        0: ["tiers_pts_per_s", "tiers_bytes_per_point"],
        1: [
            f"operators.{f}.build_s"
            for f in ("numeric", "quantile", "counter", "timeweight", "stats", "histogram")
        ],
    },
    "serve": {
        0: ["range_p50_ms", "plot_p50_ms", "refresh_p50_s", "compressed_bytes_per_point"],
        1: [
            "operators.compress.read_range_ms",
            "operators.compress.points_decoded",
            "operators.compress.points_returned",
            "operators.compress.useful_frac",
            "spark.jobs_per_range",
            "spark.tasks_per_range",
            "operators.rollup.downsample_m4_ms",
            "operators.refresh.recorrect_series_s",
            "operators.refresh.refresh_tier_s",
            "operators.refresh.refresh_cascade_s",
            "operators.refresh.buckets_recomputed_frac",
            "operators.compress.refresh_compressed_s",
            "operators.compress.chunks_reencoded_frac",
        ],
    },
    "stream": {
        0: ["stream_rows_per_s", "stream_batch_p50_ms"],
        1: [
            f"streaming.{q}.{m}"
            for q in ("rollup", "gaps", "stats")
            for m in (
                "addBatch_ms",
                "walCommit_ms",
                "state_commit_ms",
                "state_rows",
                "state_bytes",
                "rows_dropped_by_watermark",
            )
        ],
    },
}
# Present in every traced run.
TRACED = ["trace.untraced_op_s", "trace.span_cost_s", "probe.points"]


def run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def check_run(bench: dict, workload: str, trace: int) -> None:
    args = ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    p = run([*args, "--scale", "smoke"], ROOT)
    where = f"{workload} --trace {trace}"
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"FAIL {where}: exit code {p.returncode}")
    lines = p.stdout.strip().splitlines()
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"FAIL {where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise SystemExit(f"FAIL {where}: correct={result['correct']} failed={result['failed']}")
    want = bench["end_to_end"] if trace == 0 else bench["per_layer"]
    got = result["metrics"]
    if set(got) != {m["name"] for m in want}:
        raise SystemExit(f"FAIL {where}: metrics {sorted(got)}")
    for m in want:
        if got[m["name"]]["unit"] != m["unit"] or not isinstance(
            got[m["name"]]["value"], (int, float)
        ):
            raise SystemExit(f"FAIL {where}: metric {m['name']} = {got[m['name']]}")
    named = detail if trace == 0 else detail["layer"]
    missing = [k for k in DETAIL[workload][trace] + (TRACED if trace else []) if k not in named]
    if missing:
        raise SystemExit(f"FAIL {where}: detail lacks {missing}")
    print(f"ok {where}: {result['attempted']} ops, metrics {sorted(got)}", flush=True)


def check_without_package() -> None:
    """A directory with only BENCHMARK.json and the benchmark must fail."""
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(
            HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__")
        )
        p = run(["--workload", "build", "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
        if p.returncode == 0 or p.stdout.strip():
            raise SystemExit(f"FAIL bare dir: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
        print(f"ok bare dir: exit code {p.returncode}, no result", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_without_package()
    for workload in DETAIL:
        for trace in (0, 1):
            check_run(bench, workload, trace)
    print("smoke ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
