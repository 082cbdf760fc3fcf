"""Shared machinery for the benchmark: the pinned run environment, the span
tracer, the Spark job counter, the Python-worker memory sampler and the op
log.

Everything a run writes goes under ``<checkout>/.perfbench_work``; the
directory is emptied when the run starts and removed when it ends.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "series_correction_project_updated_spark"
WORK_DIR = ".perfbench_work"
# Spark's driver is also its executor in local mode; the engine's default
# (24g) is sized for 32 threads, more than a 15 GB, 4-CPU box should give.
DRIVER_MEMORY = "3g"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Env:
    """The pinned run environment: paths inside the checkout, environment
    variables for the engine and its Python workers, and the Spark session.

    Import the package only after ``Env`` is built: it puts the checkout on
    ``sys.path`` and sets the variables the engine reads
    (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``)."""

    def __init__(self, root: str, workload: str):
        self.root = os.path.abspath(root)
        if not os.path.isfile(os.path.join(self.root, PACKAGE, "__init__.py")):
            raise FileNotFoundError(
                f"package {PACKAGE!r} not found under {self.root}; "
                "run the benchmark from the root of a checkout"
            )
        self.cpus = cpu_count()
        self.work = os.path.join(self.root, WORK_DIR, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["TMPDIR"] = tmp
        # Python workers start in their own processes; they find the package
        # through PYTHONPATH, whatever the working directory is.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        if self.root not in sys.path:
            sys.path.insert(0, self.root)
        self.spark = None
        self._n_dirs = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh_dir(self, prefix: str) -> str:
        """A new, not yet existing directory path under the work dir."""
        self._n_dirs += 1
        return self.path(f"{prefix}_{self._n_dirs:04d}")

    def start_spark(self):
        from series_correction_project_updated_spark.session import get_spark

        java_tmp = f"-Djava.io.tmpdir={self.path('tmp')} -Dderby.system.home={self.path('tmp')}"
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": self.path("local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": java_tmp,
                "spark.sql.streaming.checkpointLocation": self.path("checkpoints"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop Spark, wait for the JVM to exit, remove the work dir."""
        if self.spark is not None:
            sc = self.spark.sparkContext
            gateway = sc._gateway
            proc = getattr(gateway, "proc", None)
            self.spark.stop()
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def dir_bytes(path: str) -> int:
    """On-disk bytes of the data files under ``path`` (Spark's ``.crc`` and
    ``_SUCCESS`` marker files excluded, so the figure is the data layout's)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".crc") or f.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def cpu_probe_ms() -> float:
    """Single-thread CPU probe: a fixed pure-Python loop, timed. A
    diagnostic printed beside the metrics, never used to gate a run."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t0) * 1e3


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return float(statistics.median(values))


class Tracer:
    """In-memory spans: name, start, end, parent and op id. Off, ``span``
    costs one attribute test. A span's layer is the first dotted component
    of its name (``sources``, ``oracle``, ``functions``, ``operators``,
    ``plans``, ``streaming``, or ``bench`` for the benchmark's own glue)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @staticmethod
    def span_cost() -> float:
        """Seconds one span costs the traced code, timed over empty spans."""
        t = Tracer(True)
        n = 20_000
        t0 = time.perf_counter()
        for _ in range(n):
            with t.span("bench.empty"):
                pass
        return (time.perf_counter() - t0) / n

    def self_times(self, op: int | None = None) -> dict[str, float]:
        """Self seconds per span name: duration minus the time the span's
        direct children cover (children never overlap: one thread)."""
        spans = [s for s in self.spans if op is None or s["op"] == op]
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def layer_self_times(self, op: int | None = None) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, sec in self.self_times(op).items():
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + sec
        return out

    def total(self, name: str, op: int | None = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (op is None or s["op"] == op)
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class JobCounter:
    """Spark jobs and tasks run inside the block, from the public
    ``statusTracker`` API: jobs outside any job group (job ids are
    sequential within a context) plus every job of the groups passed to
    ``add_group`` (a streaming query runs its micro-batches in a group named
    by its run id)."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.groups: list[str] = []

    def _ungrouped(self) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(None))

    def add_group(self, group: str) -> None:
        self.groups.append(group)

    def __enter__(self):
        before = self._ungrouped()
        self.first = max(before) + 1 if before else 0
        return self

    def __exit__(self, *exc):
        ids = [j for j in self._ungrouped() if j >= self.first]
        for g in self.groups:
            ids.extend(self.tracker.getJobIdsForGroup(g))
        self.jobs = len(ids)
        self.tasks = 0
        for j in ids:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info is not None else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    self.tasks += st.numTasks
        return False


class OpLog:
    """Attempted / failed counts and timed samples per op type."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.failures: list[str] = []

    def attempt(self, kind: str) -> None:
        self.attempted[kind] = self.attempted.get(kind, 0) + 1
        self.failed.setdefault(kind, 0)

    def fail(self, kind: str, why: str) -> None:
        self.failed[kind] = self.failed.get(kind, 0) + 1
        self.failures.append(f"{kind}: {why}")
        print(f"perfbench: {kind} failed: {why}", file=sys.stderr, flush=True)

    def sample(self, kind: str, value: float) -> None:
        self.samples.setdefault(kind, []).append(value)

    @property
    def total_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def total_failed(self) -> int:
        return sum(self.failed.values())


def _descendants(root: int) -> list[int]:
    """Pids of every descendant of ``root``, from one pass over ``/proc``."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the ppid is the second field after the parenthesised name
                parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    out, frontier = [], {root}
    while frontier:
        frontier = {pid for pid, ppid in parent.items() if ppid in frontier}
        out.extend(frontier)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class WorkerRSS:
    """Peak resident memory of any one Python worker process (a descendant
    of the Spark JVM) while the block runs, sampled every 20 ms from
    ``/proc`` in a background thread."""

    def __init__(self, spark):
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        while not self._stop.wait(0.02):
            for pid in _descendants(self.jvm_pid):
                self.peak_mb = max(self.peak_mb, _rss_mb(pid))

    def __enter__(self):
        if self.jvm_pid is not None and os.path.isdir("/proc"):
            self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        return False
