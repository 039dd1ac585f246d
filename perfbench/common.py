"""Shared machinery of the benchmark: metric tables, statistics, spans,
process-tree memory sampling, Spark job counters, run metadata and the
result line.

Nothing here starts a thread, process or JVM at import time.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, field

# Metric name -> unit; BENCHMARK.json lists the same names. The end-to-end
# table is what a user sees; every workload reports every metric, with
# "round" and "operation" defined per workload (see run.py).
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "job_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
}

ETL_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_volume",
    "window_rank_orders",
    "sessionize_events",
    "json_results_explode_demo",
    "dedup_exact",
]

HTTP_PATHS = ["op_get", "op_post", "udtf_get", "udf_get"]

PER_LAYER: dict[str, str] = {
    "session.build_s": "s",
    "session.register_s": "s",
    "session.load_tables_s": "s",
    "catalog.construct_s": "s",
    "exec.noop_write_s": "s",
    **{f"query.{q}_s": "s" for q in ETL_QUERIES},
    "spark.jobs_per_round": "count",
    "spark.tasks_per_round": "count",
    "spark.shuffle_write_mb_per_round": "MB",
    **{f"http.{p}_s": "s" for p in HTTP_PATHS},
    "http.error_rows": "count",
    "stub.connections_per_request": "ratio",
    "stub.requests_per_row": "ratio",
    "stub.busy_frac": "ratio",
    "stub.service_p50_ms": "ms",
    "runner.overhead_s": "s",
    "runner.init_s": "s",
    "runner.record_files": "count",
    "runner.reloads": "count",
    "plans.sql_task_s": "s",
    "upsert.process_batch_s": "s",
    "upsert.process_batch_last_s": "s",
    "upsert.bytes_written_per_input_byte": "ratio",
    "upsert.snapshot_rows": "count",
    "sources.parquet_files_written_per_tick": "count",
    "trace.overhead_s": "s",
}


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


@dataclass
class Pct:
    """A percentile with the sample count it came from and how many
    samples lie strictly beyond it."""

    value: float
    n: int
    beyond: int


def percentile(samples: list[float], q: float) -> Pct:
    """Nearest-rank percentile ``q`` in (0, 100] of ``samples``.

    Raises ValueError on an empty sample: a metric with no samples must
    fail loudly, never read as 0."""
    if not samples:
        raise ValueError("percentile of an empty sample")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    xs = sorted(samples)
    rank = max(1, math.ceil(q / 100 * len(xs) - 1e-9))
    value = xs[rank - 1]
    return Pct(value, len(xs), sum(1 for x in xs if x > value))


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of an empty sample")
    return statistics.median(samples)


def highest_supported_percentile(n: int, tail: int = 10) -> float | None:
    """The highest nearest-rank percentile of ``n`` samples that leaves at
    least ``tail`` samples beyond it, or None when even the median does
    not."""
    if n <= tail:
        return None
    return 100.0 * (n - tail) / n


@dataclass
class Outcomes:
    """Attempted and failed operation counts; a check mismatch is a
    failure of the operation it checked."""

    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, why: str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n
        if len(self.notes) < 20:
            self.notes.append(why)

    def mismatch(self, why: str, n: int = 1) -> None:
        """Mark ``n`` already-attempted operations as failed."""
        self.failed += n
        if len(self.notes) < 20:
            self.notes.append(why)

    @property
    def fail_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans recorded around calls from the benchmark's own
    files. Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace_id = 0

    def new_trace(self) -> None:
        self._trace_id += 1

    def span(self, name: str):
        return _Span(self, name)

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        """Record a finished span; returns its id."""
        if not self.enabled:
            return -1
        if parent is None and self._stack:
            parent = self._stack[-1]
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "trace": self._trace_id, "name": name, "start": start,
             "end": end, "parent": parent}
        )
        return sid

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def with_self_time(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the union of the parts of
        its interval that child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append({**s, "self_s": (s["end"] - s["start"]) - covered})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.with_self_time():
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name
        self.start = self.end = 0.0
        self.id = -1

    def __enter__(self) -> _Span:
        self.start = time.perf_counter()
        if self.tracer.enabled:
            self.id = self.tracer.add(self.name, self.start, self.start)
            self.tracer._stack.append(self.id)
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        if self.tracer.enabled:
            self.tracer._stack.pop()
            self.tracer.spans[self.id]["end"] = self.end

    @property
    def seconds(self) -> float:
        return self.end - self.start


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each page shared by k
    processes counted 1/k in each. Summed over a tree of forked workers it
    counts shared pages once, where plain RSS would count them per
    process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_resident_bytes(root: int, exclude: set[int]) -> dict[str, int]:
    """Resident bytes of the Python processes and the JVM among ``root``
    and its descendants, keyed ``"<pid>:<command>"``, skipping the subtrees
    rooted at ``exclude``.

    Python processes count their PSS, so pages the forked workers share
    count once. The JVM counts its RSS: reading its PSS walks its page
    tables, 10-30 ms a read against well under 0.1 ms. Other processes
    are left out: they are helper commands the JVM forks, which until
    they exec show the whole JVM's pages as their own."""
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        comm = _comm(pid)
        if comm == "java":
            out[f"{pid}:{comm}"] = _rss_bytes(pid)
        elif comm.startswith("python"):
            out[f"{pid}:{comm}"] = _pss_bytes(pid)
        todo.extend(_children(pid))
    return out


def descendants(root: int) -> list[int]:
    """Every process below ``root``, zombies included."""
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def adopt_orphans() -> None:
    """Make this process the subreaper of its tree: a descendant whose
    parent dies (the Python workers, when the JVM that forked them exits)
    is re-parented here rather than to init, so stop_descendants sees it
    and reaps it."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_jvm(grace_s: float = 60.0) -> None:
    """End the Spark JVM this process launched and wait for it. The JVM
    exits on EOF on its stdin, running Spark's shutdown hooks; left alone
    it does so only after this process has exited, and outlives it by
    seconds. Killed if it has not ended after ``grace_s``."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=grace_s)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()


def stop_descendants(grace_s: float = 20.0) -> None:
    """Stop the JVM, then wait until no descendant of this process is
    left: ``grace_s`` for them to end on their own, then SIGTERM, then
    SIGKILL, reaping each one."""
    import signal

    stop_jvm()
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        pids = descendants(os.getpid())
        for pid in pids if sig is not None else []:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s
        while pids and time.monotonic() < end:
            _reap()
            pids = descendants(os.getpid())
            if pids:
                time.sleep(0.05)
        if not pids:
            return


class MemorySampler:
    """Samples the summed resident memory of this process tree (see
    tree_resident_bytes) on a daemon thread and keeps the peak and its
    parts. Use as a context manager."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._lock = threading.Lock()  # sample() runs on two threads
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        parts = tree_resident_bytes(os.getpid(), self.exclude)
        now = sum(parts.values())
        with self._lock:
            if now > self.peak:
                self.peak, self.peak_parts = now, parts

    def reset(self) -> None:
        """Start a new peak from the current footprint."""
        with self._lock:
            self.peak = 0
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> MemorySampler:
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------


class JobCounter:
    """Jobs, tasks and shuffle bytes of one job group, read from Spark's
    status tracker and the UI REST API after the group's work is done."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._n = 0

    def begin(self) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str) -> dict[str, float]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks, shuffle = 0, 0
        for st in self._stages():
            if st.get("stageId") in stage_ids:
                tasks += int(st.get("numCompleteTasks", 0))
                shuffle += int(st.get("shuffleWriteBytes", 0))
        return {"jobs": len(jobs), "tasks": tasks, "shuffle_mb": shuffle / (1024 * 1024)}

    def _stages(self) -> list[dict]:
        url = self.sc.uiWebUrl
        if not url:
            return []
        app = self.sc.applicationId
        with urllib.request.urlopen(f"{url}/api/v1/applications/{app}/stages", timeout=10) as r:
            return json.loads(r.read())


# ---------------------------------------------------------------------------
# workload interface
# ---------------------------------------------------------------------------


class Workload:
    """One workload. run.py calls, in order: ``prepare`` (make inputs),
    then in the set-up ``load``, ``after_load`` and ``warmup``, then
    ``check_before``, ``run_round`` until the time is spent and at least
    ``min_rounds`` rounds ran, ``check_after`` and, when tracing,
    ``per_layer``. ``with`` releases whatever ``prepare`` started."""

    # Rounds measured per run even past --seconds; workloads with short
    # rounds take more so their medians rest on more samples.
    min_rounds = 2

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.tracer: Tracer = ctx.tracer
        self.outcomes: Outcomes = ctx.outcomes

    def __enter__(self) -> Workload:
        return self

    def __exit__(self, *exc) -> None:
        pass

    def prepare(self) -> None:
        raise NotImplementedError

    def load(self, spark) -> None:
        pass

    def after_load(self, spark) -> None:
        pass

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def check_before(self, spark) -> None:
        pass

    def run_round(self, spark, index: int, traced: bool) -> tuple[list[float], int]:
        """Run one round; returns (operation seconds, input rows handled)."""
        raise NotImplementedError

    def check_after(self, spark) -> None:
        pass

    def per_layer(self, spark) -> dict[str, float]:
        return {}


def repo_table_hash():
    """The repository's order-insensitive result hash, ``table_hash`` of
    tools/check.py (imported with sys.path restored afterwards)."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    try:
        import check
    finally:
        sys.path[:] = saved
    return check.table_hash


# ---------------------------------------------------------------------------
# run metadata
# ---------------------------------------------------------------------------


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def host_probe(spark, rows: int = 10_000_000) -> dict[str, float]:
    """The repository's host-load readings (bench.py): the fixed
    pure-Python CPU probe and one shot of the fixed JVM canary workload,
    taken on a warm JVM."""
    import bench

    return {"cpu_probe_s": bench._cpu_probe(), "jvm_canary_s": bench._jvm_canary_shot(spark, rows)}


def run_metadata(root: str, spark) -> dict:
    import platform

    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": git_commit(root),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }


# ---------------------------------------------------------------------------
# result line
# ---------------------------------------------------------------------------


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(result: dict, counts: dict[str, int], meta: dict, out_path: str) -> None:
    """Print a readable table, write the full record, and print the result
    object as the last line of stdout."""
    for name, m in result["metrics"].items():
        n = counts.get(name)
        print(f"# {name:45s} {m['value']:>16.6g} {m['unit']:6s}" + (f" n={n}" if n else ""))
    print("# meta " + json.dumps(meta, sort_keys=True))
    with open(out_path, "w") as f:
        json.dump({"result": result, "sample_counts": counts, "meta": meta}, f, indent=1)
    sys.stdout.flush()
    print(json.dumps(result))
    sys.stdout.flush()
