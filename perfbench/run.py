#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

One run: pin the environment, start Spark on ``local[<cpus>]``, set the
workload up ``SETUP_REPS`` times (timed; the median is ``setup_s``), compute
its reference values, run one untimed warm-up op per op kind, then either
run untimed-tracing ops in a closed loop for ``--seconds`` (``--trace 0``:
end-to-end metrics) or replay ops under spans (``--trace 1``: per-layer
metrics). Every op's output is checked outside its timed span; a failed
check counts as a failed op. The last stdout line is the JSON result; the
line before it is a detail record (named per-workload metrics, per-op-type counts
and percentiles, environment).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import WORK_DIR, Env, OpLog, Tracer, cpu_probe_ms, median, pct  # noqa: E402

SETUP_REPS = 5

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "points_per_s": "pts/s",
    "bytes_per_point": "B/pt",
}

LAYER_UNITS = {
    "sources.pages_scan_s": "s",
    "oracle.process_tv_ns_per_pt": "ns/pt",
    "functions.compress.encode_ns_per_pt": "ns/pt",
    "functions.compress.decode_ns_per_pt": "ns/pt",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "trace.op_s": "s",
    "trace.overhead_s": "s",
}


WORKLOADS = {
    "build": "workloads.build:Build",
    "tiers": "workloads.tiers:Tiers",
    "serve": "workloads.serve:Serve",
    "stream": "workloads.stream:Stream",
}


def workload_class(name: str):
    import importlib

    if name not in WORKLOADS:
        raise ValueError(f"unknown workload {name!r}; have {sorted(WORKLOADS)}")
    module, cls = WORKLOADS[name].split(":")
    return getattr(importlib.import_module(module), cls)


def run_op(wl, kind: str, log: OpLog) -> None:
    from workloads.base import CheckFailed

    log.attempt(kind)
    try:
        wl.op(kind, log)
    except CheckFailed as e:
        log.fail(kind, str(e))
    except Exception as e:  # noqa: BLE001 - an op that raises is a failed op
        traceback.print_exc(file=sys.stderr)
        log.fail(kind, repr(e))


def op_table(log: OpLog) -> dict:
    table = {}
    for kind in sorted(log.attempted):
        s = log.samples.get(kind, [])
        row = {"attempted": log.attempted[kind], "failed": log.failed[kind], "samples": len(s)}
        if s:
            row["p50_s"] = median(s)
            if len(s) >= 100:  # a p90 needs ten samples beyond it
                row["p90_s"] = pct(s, 90)
        table[kind] = row
    return table


def run(workload: str, seed: int, seconds: float, trace: bool, scale: str, root: str):
    """Returns (result, detail); raises when the run cannot produce a result."""
    env = Env(root, workload)
    try:
        cls = workload_class(workload)
        env.start_spark()
        tracer = Tracer(trace)
        wl = cls(env, seed, scale, tracer)
        setup_times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            setup_times.append(time.perf_counter() - t0)
        wl.prepare()
        log = OpLog()
        warm = OpLog()
        for kind in wl.warmup_kinds():
            run_op(wl, kind, warm)
        cpu_ms = cpu_probe_ms()
        detail = {
            "workload": workload,
            "seed": seed,
            "scale": scale,
            "cpus": env.cpus,
            "master": env.spark.sparkContext.master,
            "driver_memory": env.spark.conf.get("spark.driver.memory"),
            "spark": env.spark.version,
            "python": sys.version.split()[0],
            "cpu_probe_ms": cpu_ms,
            "setup_s_samples": setup_times,
        }
        if not trace:
            end = time.perf_counter() + seconds
            i = 0
            while time.perf_counter() < end or i < wl.min_ops:
                run_op(wl, wl.kind(i), log)
                i += 1
            wl.finish(log)
            e2e, wl_detail = wl.e2e(log)
            e2e["setup_s"] = median(setup_times)
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        else:
            # untraced ops of the traced kind before and after the traced
            # op: the overhead baseline, balanced for JIT warming
            run_op(wl, wl.primary, log)
            tracer.op_id = 1
            log.attempt("traced")  # a traced op that fails ends the run without a result
            layer = wl.traced_op(log)
            tracer.op_id = 2
            run_op(wl, wl.primary, log)
            layer.update(wl.probes())
            layer["trace.untraced_op_s"] = median(log.samples[wl.primary])
            layer.update(wl.derived(layer))
            layer["trace.overhead_s"] = layer["trace.op_s"] - layer["trace.untraced_op_s"]
            layer["trace.span_cost_s"] = Tracer.span_cost() * sum(
                1 for s in tracer.spans if s["op"] == 1
            )
            wl.finish(log)
            wl_detail = {
                "layer": layer,
                "layer_self_s": tracer.layer_self_times(op=1),
                "span_self_s": tracer.self_times(op=1),
                "spans": len(tracer.spans),
            }
            spans_path = os.path.join(env.root, WORK_DIR, f"spans_{workload}_{seed}.json")
            tracer.dump(spans_path)
            wl_detail["spans_file"] = os.path.relpath(spans_path, env.root)
            metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER_UNITS.items()}
        for name, src in (("ops", log), ("warmup_ops", warm)):
            detail[name] = op_table(src)
        detail.update(wl_detail)
        detail["failures"] = warm.failures + log.failures
        failed = log.total_failed + warm.total_failed
        result = {
            "correct": failed == 0,
            "attempted": log.total_attempted + warm.total_attempted,
            "failed": failed,
            "metrics": metrics,
        }
        return result, detail
    finally:
        env.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)
    try:
        result, detail = run(
            args.workload, args.seed, args.seconds, bool(args.trace), args.scale, os.getcwd()
        )
    except FileNotFoundError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    except Exception:  # noqa: BLE001 - no result line when a run cannot finish
        traceback.print_exc(file=sys.stderr)
        return 1
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
