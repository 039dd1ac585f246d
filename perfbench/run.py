"""Repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (closed loop, one client: the next
operation starts only after the previous one finished):

- ``etl_batch``          rounds of 7 catalog queries, each written to the
                         ``noop`` sink, in a seed-shuffled order per round
- ``http_enrich``        enrichment calls through the four HTTP paths
                         against a loopback stub process
- ``runner_microbatch``  ``Runner.run_once`` ticks over an upsert script
                         task and a ``.sql`` aggregate task

A run generates its inputs from the seed under ``.perfbench_work/``, sets
up the engine once (JVM launch, session build, function registration,
table loading, one warm-up pass), checks outputs, measures rounds for at
least ``--seconds`` seconds of operation time and at least the workload's
``min_rounds`` rounds, checks outputs again, and prints one JSON result
object as the last line of stdout. ``--trace 0`` reports the end-to-end
metrics of common.END_TO_END; ``--trace 1`` reports the per-layer metrics
of common.PER_LAYER, taken from spans around calls made by these files, and
writes the spans out. A traced run alternates traced and untraced rounds;
``trace.overhead_s`` is the difference of their median round times.

The engine runs with the program's own ``build_session`` settings on
``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc``, except for the driver
heap, fixed at ``DRIVER_MEM`` (see there).

End-to-end metrics, per workload ("round" / "operation"):

- etl_batch: round = operation = one batch of the 7 queries
- http_enrich: round = one call on each path; operation = one call
- runner_microbatch: round = operation = one tick, a ``run_once`` of
  each of the two tasks

``setup_s`` is the set-up time, ``job_s`` the median round time,
``op_p50_s`` the median operation time, ``rows_per_s`` input rows handled
per second of operation time, ``success_rate`` one minus failed/attempted
operations (a failed output check fails the operation it checked) and
``peak_rss_mb`` the peak summed resident memory of this process, the JVM
and the Python workers from set-up to the last round, sampled every 0.2 s,
with pages the forked workers share counted once. The exit code is 1
when any check failed, 2 when the program cannot be imported.

This is not bench.py's ``headline_total``, which times one pass over the
catalog's headline queries on the sf0.1 test set.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Scripts put their own directory first on sys.path; the benchmark's
# modules are imported as the ``perfbench`` package from the root instead.
if sys.path and os.path.abspath(sys.path[0] or ".") == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT
elif ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ["etl_batch", "http_enrich", "runner_microbatch"]
MAX_ROUNDS = 1000
# The driver heap is fixed at this size and made resident at JVM start
# (-Xms = -Xmx, -XX:+AlwaysPreTouch), in place of the program's default
# maximum of 8g. A heap that the collector grows on its own schedule, from
# the default initial size or from 1g up to 8g, made peak_rss_mb spread by
# 0.19-0.42 of its median over seeds of one workload. A fixed heap that
# the JVM touches only as it allocates left the JVM's resident size
# between 0.9 and 1.3 GB on http_enrich, which allocates little. The
# inputs are small enough for 1g.
DRIVER_MEM = "1g"


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work``, and size Spark to
    this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = nproc
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_MASTER", None)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tempfile.tempdir = tmp


def _build_session(work: str):
    from data_misc_tools_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    spark = build_session(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _make_workload(name: str, ctx):
    if name == "etl_batch":
        from perfbench.etl_batch import EtlBatch as cls
    elif name == "http_enrich":
        from perfbench.http_enrich import HttpEnrich as cls
    else:
        from perfbench.runner_microbatch import RunnerMicrobatch as cls
    return cls(ctx)


class Context:
    """What every workload gets: where to write, the seed, the tracer and
    the outcome counters."""

    def __init__(self, work: str, seed: int, tracer, outcomes, memory) -> None:
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.outcomes = outcomes
        self.memory = memory
        self.nproc = int(os.environ["SPARK_GRAFT_CPUS"])


def run(args: argparse.Namespace) -> int:
    from perfbench import common as C

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    try:
        import data_misc_tools_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under {ROOT}: {e}", file=sys.stderr)
        return 2
    os.chdir(work)  # Spark writes derby.log / metastore_db into the cwd

    tracer = C.Tracer(enabled=bool(args.trace))
    outcomes = C.Outcomes()
    memory = C.MemorySampler()
    ctx = Context(work, args.seed, tracer, outcomes, memory)
    wl = _make_workload(args.workload, ctx)
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    with memory, wl:
        wl.prepare()  # inputs are complete before any timing starts
        phase("prepare")

        memory.reset()  # peak memory from set-up on
        tracer.new_trace()
        with tracer.span("setup") as s:
            with tracer.span("session.build"):
                spark = _build_session(work)
            with tracer.span("session.load_tables"):
                wl.load(spark)
            wl.after_load(spark)
            with tracer.span("warmup"):
                wl.warmup(spark)
        setup_s = s.seconds
        phase("setup")

        register_s = _register_seconds(spark) if args.trace else 0.0
        meta = C.run_metadata(ROOT, spark)
        wl.check_before(spark)
        phase("check_before")

        counter = C.JobCounter(spark) if args.trace else None
        op_times: list[float] = []  # of the rounds the metrics come from
        round_times: dict[bool, list[float]] = {True: [], False: []}
        measured = round_times[bool(args.trace)]
        jobs: list[dict] = []
        rows = 0
        i = 0
        # A traced run follows each traced round with an untraced one, so
        # both kinds see the same mix of state sizes and script reloads.
        kinds = [True, False] if args.trace else [False]
        while i < MAX_ROUNDS and (sum(op_times) < args.seconds or len(measured) < wl.min_rounds):
            for traced in kinds:
                ops, n_rows = _round(wl, spark, i, traced, tracer, counter, jobs)
                round_times[traced].append(sum(ops))
                if traced == bool(args.trace):
                    op_times.extend(ops)
                    rows += n_rows
                i += 1
        memory.sample()
        peak_mb = memory.peak_mb
        meta_peak = {k: round(v / 2**20, 1) for k, v in memory.peak_parts.items()}
        phase("rounds")

        meta["host_probe"] = C.host_probe(spark)
        phase("host_probe")
        wl.check_after(spark)
        layer = wl.per_layer(spark) if args.trace else {}
        phase("check_after")
        spark.stop()
        C.stop_jvm()
    for entry in os.scandir(work):  # inputs and Spark scratch; files stay
        if entry.is_dir():
            shutil.rmtree(entry.path, ignore_errors=True)
    phase("stop")

    counts = {
        "setup_s": 1,
        "job_s": len(measured),
        "op_p50_s": len(op_times),
        "rows_per_s": len(op_times),
        "success_rate": outcomes.attempted,
    }
    meta.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        rounds=len(measured), ops=len(op_times), round_s=[round(t, 3) for t in measured],
        op_highest_supported_percentile=C.highest_supported_percentile(len(op_times)),
        failures=outcomes.notes, phases_s=phases, peak_rss_parts_mb=meta_peak,
    )
    if args.trace:
        layer.update(
            {
                "session.build_s": C.median(tracer.durations("session.build")),
                "session.register_s": register_s,
                "session.load_tables_s": C.median(tracer.durations("session.load_tables")),
                "spark.jobs_per_round": C.median([j["jobs"] for j in jobs]),
                "spark.tasks_per_round": C.median([j["tasks"] for j in jobs]),
                "spark.shuffle_write_mb_per_round": C.median([j["shuffle_mb"] for j in jobs]),
                "trace.overhead_s": C.median(round_times[True]) - C.median(round_times[False]),
            }
        )
        metrics = {k: C.metric(layer.get(k, 0.0), u) for k, u in C.PER_LAYER.items()}
        tracer.write(os.path.join(work, "spans.jsonl"))
    else:
        values = {
            "setup_s": setup_s,
            "job_s": C.median(measured),
            "op_p50_s": C.median(op_times),
            "rows_per_s": rows / sum(op_times),
            "success_rate": 1.0 - outcomes.fail_rate,
            "peak_rss_mb": peak_mb,
        }
        metrics = {k: C.metric(values[k], u) for k, u in C.END_TO_END.items()}
    result = {
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": metrics,
    }
    C.emit(result, counts, meta, os.path.join(work, "result.json"))
    return 0 if result["correct"] else 1


def _round(wl, spark, index: int, traced: bool, tracer, counter, jobs: list) -> tuple[list[float], int]:
    """One round, with spans and Spark job counts when ``traced``."""
    tracer.enabled = traced
    tracer.new_trace()
    group = counter.begin() if traced else None
    with tracer.span("round"):
        out = wl.run_round(spark, index, traced)
    if group is not None:
        jobs.append(counter.end(group))
    tracer.enabled = counter is not None
    return out


def _register_seconds(spark) -> float:
    """Time to register every SQL function and data source on a built
    session. build_session registers once inside its own call; this repeats
    the registration (it replaces functions with identical ones) after the
    set-up, so it adds nothing to setup_s."""
    from data_misc_tools_spark.functions.registry import register_functions
    from data_misc_tools_spark.sources.pydatasource import register_python_datasources

    t0 = time.perf_counter()
    register_functions(spark)
    register_python_datasources(spark)
    return time.perf_counter() - t0


def main(argv: list[str] | None = None) -> int:
    from perfbench import common as C

    # SIGTERM unwinds like an exception, so the stub and Spark are stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = _parse(argv)
    C.adopt_orphans()
    try:
        return run(args)
    finally:
        # On every way out: no process this run started outlives it. A
        # second SIGTERM must not cut this short.
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        C.stop_descendants()


if __name__ == "__main__":
    sys.exit(main())
