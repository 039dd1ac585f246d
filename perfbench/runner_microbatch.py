"""``runner_microbatch``: the write-heavy runner and streaming path.

Each tick calls ``Runner.run_once(task, force=True)`` on two tasks, back to
back, from empty state on every run:

- ``ingest.py``, written by this benchmark. Its ``param`` is the tick
  counter, fed back by the runner. Each tick it reads the next seeded
  change slice of ``ROWS_PER_SLICE`` rows (upserts and deletes, a share of
  Zipf-skewed hot keys, out-of-order sequence numbers), folds it into a
  keep-latest snapshot with ``ParquetUpsertSink.process_batch`` and
  exposes ``read_latest`` as the ``latest_state`` view. Most keys of a
  slice are new, so the snapshot, which every batch rewrites whole, grows
  by about three quarters of a slice per tick.
- ``agg.sql``, which aggregates ``latest_state`` through
  ``plans.sql_script``.

Tick 0 loads ``ingest.py`` for the first time; before every
``RELOAD_EVERY``-th tick after it the benchmark rewrites the script,
forcing a hot reload and a new source snapshot, so one tick in every
``RELOAD_EVERY`` loads a script version. Set-up builds the ``Runner`` over
an empty records table and warms it on a second task pair with its own
state, so the measured tasks start empty.

Checks: the final snapshot equals keep-latest computed independently in
DuckDB over every slice folded in; the last aggregate equals the same
aggregate in DuckDB; and the records table holds exactly one ``running``
and one ``succeeded`` row for every ``run_once`` call.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from perfbench import common as C
from perfbench import datagen

# process_batch was sized at 5,000-row batches (0.48-1.6 s each onto
# snapshots of up to 100k rows on a 4-core host).
ROWS_PER_SLICE = 5_000
SLICES = 24  # ticks past the last slice start over at slice 0
KEY_SPACE = 1_000_000
HOT_SHARE = 0.3
DELETE_SHARE = 0.15
RELOAD_EVERY = 3  # ticks 3, 6, 9, ... hot-reload a rewritten ingest.py
BUCKETS = 16
INIT_REPEATS = 3  # Runner() constructions timed for runner.init_s

INGEST = '''"""Benchmark ingest task, version {version}: fold the next change
slice into the keep-latest snapshot."""
import time

from data_misc_tools_spark.streaming.upsert import ParquetUpsertSink, read_latest

SLICES = {slices!r}
STATE = {state!r}
LOADED_AT = time.perf_counter()
_sink = ParquetUpsertSink(STATE, key_cols=["key"], order_cols=["seq", "change_id"])


def run(spark, param):
    t0 = time.perf_counter()
    tick = param or 0
    batch = spark.read.parquet(SLICES[tick % len(SLICES)])
    t1 = time.perf_counter()
    _sink.process_batch(batch, tick)
    t2 = time.perf_counter()
    read_latest(spark, STATE, op_col="op").createOrReplaceTempView({view!r})
    t3 = time.perf_counter()
    spark.conf.set("perfbench.ingest", f"{{LOADED_AT!r}},{{t0!r}},{{t1!r}},{{t2!r}},{{t3!r}}")
    return tick + 1
'''

AGG = """-- Benchmark aggregate task over the live keep-latest state.
SELECT key % {buckets} AS bucket, count(*) AS n, round(sum(amount), 2) AS total
FROM {view}
GROUP BY key % {buckets}
ORDER BY bucket
"""


class _TaskPair:
    """An ingest script and an aggregate script over one state directory."""

    def __init__(self, root: str, slices: list[str], view: str) -> None:
        from data_misc_tools_spark.runner import ScriptTask

        os.makedirs(root, exist_ok=True)
        self.state = os.path.join(root, "state")
        self.slices = slices
        self.view = view
        self.version = 0
        self.ingest = ScriptTask(os.path.join(root, "ingest.py"))
        self.agg = ScriptTask(os.path.join(root, "agg.sql"))
        self.write_ingest()
        with open(self.agg.path, "w") as f:
            f.write(AGG.format(buckets=BUCKETS, view=view))

    def write_ingest(self) -> None:
        """(Re)write ingest.py; the mtime moves forward by a whole second so
        the runner sees the change on any file system."""
        self.version += 1
        with open(self.ingest.path, "w") as f:
            f.write(INGEST.format(version=self.version, slices=self.slices,
                                  state=self.state, view=self.view))
        st = os.stat(self.ingest.path)
        bump = self.version * 1_000_000_000
        os.utime(self.ingest.path, ns=(st.st_atime_ns, st.st_mtime_ns + bump))


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


class RunnerMicrobatch(C.Workload):
    # Five ticks hold two script loads (ticks 0 and 3) and three plain
    # ticks over a growing snapshot, so the median tick is a plain one.
    min_rounds = 5

    def prepare(self) -> None:
        work = self.ctx.work
        self.slices = datagen.write_change_slices(
            os.path.join(work, "changes"), self.ctx.seed, SLICES, ROWS_PER_SLICE,
            KEY_SPACE, DELETE_SHARE, HOT_SHARE,
        )
        self.records = os.path.join(work, "records")
        self.main = _TaskPair(os.path.join(work, "main"), self.slices, "latest_state")
        self.warm = _TaskPair(os.path.join(work, "warm"), self.slices[:1], "latest_state_warm")
        self.calls = {self.main.ingest.path: 0, self.main.agg.path: 0,
                      self.warm.ingest.path: 0, self.warm.agg.path: 0}
        self.ticks = 0
        self.last_agg = None
        self.overhead: list[float] = []
        self.process_batch: list[float] = []
        self.sql_task: list[float] = []
        self.loads: set[float] = set()  # load times of the main ingest.py
        self.files_per_tick: list[int] = []
        self.write_ratio: list[float] = []

    def after_load(self, spark) -> None:
        from data_misc_tools_spark.runner import Runner

        with self.tracer.span("runner.init"):
            self.runner = Runner(spark, self.records)

    def _run_once(self, task):
        """``run_once`` on ``task``; returns (result, its span). The runner
        records task failures itself; an error in its own bookkeeping
        returns None, which the caller counts as a failed operation."""
        self.calls[task.path] += 1
        with self.tracer.span("runner.run_once") as s:
            try:
                result = self.runner.run_once(task, force=True)
            except Exception as e:
                self.outcomes.notes.append(f"run_once {task.path}: {type(e).__name__}: {e}")
                result = None
        return result, s

    def warmup(self, spark) -> None:
        for task in (self.warm.ingest, self.warm.agg):
            if self._run_once(task)[0] is None:
                raise RuntimeError(f"warm-up run of {task.path} failed")

    def run_round(self, spark, index: int, traced: bool) -> tuple[list[float], int]:
        if index and index % RELOAD_EVERY == 0:
            self.main.write_ingest()
        before = _files(self.ctx.work) if traced else None
        result, ingest = self._run_once(self.main.ingest)
        if result != self.ticks + 1:
            self.outcomes.fail(f"ingest tick {self.ticks}: result {str(result)[:200]}")
        else:
            self.outcomes.ok()
            # The script publishes its load time and clock readings in
            # the ``perfbench.ingest`` conf.
            clocks = tuple(map(float, spark.conf.get("perfbench.ingest").split(",")))
            self.loads.add(clocks[0])
            if traced:
                self._trace_ingest(ingest, clocks, before)
        self.ticks += 1
        agg, agg_span = self._run_once(self.main.agg)
        if agg is None:
            self.outcomes.fail(f"agg tick {self.ticks - 1} failed")
        else:
            self.outcomes.ok()
            self.last_agg = agg
        if traced:
            self.sql_task.append(agg_span.seconds)
            self.files_per_tick.append(len(set(_files(self.ctx.work)) - set(before)))
        # The operation is the whole tick: a median over single run_once
        # calls would sit between the levels of the two tasks.
        return [ingest.seconds + agg_span.seconds], ROWS_PER_SLICE

    def _trace_ingest(self, ingest, clocks: tuple[float, ...], before: dict[str, int]) -> None:
        """Spans and counters of one ingest tick."""
        _, t0, t1, t2, t3 = clocks
        body = self.tracer.add("task.body", t0, t3, parent=ingest.id)
        self.tracer.add("streaming.process_batch", t1, t2, parent=body)
        self.overhead.append(ingest.seconds - (t3 - t0))
        self.process_batch.append(t2 - t1)
        after = _files(self.main.state)
        new = {p: n for p, n in after.items() if p not in before}
        slice_bytes = os.path.getsize(self.slices[self.ticks % len(self.slices)])
        self.write_ratio.append(sum(new.values()) / slice_bytes)

    def check_after(self, spark) -> None:
        import duckdb

        from data_misc_tools_spark.streaming.upsert import read_latest

        table_hash = C.repo_table_hash()
        folded = [self.slices[t % len(self.slices)] for t in range(self.ticks)]
        snap = read_latest(spark, self.main.state)
        cols = snap.columns
        got = [tuple(r) for r in snap.collect()]
        self.snapshot_rows = len(got)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW latest AS SELECT * EXCLUDE (rn) FROM ("
            "SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC, change_id DESC)"
            f" AS rn FROM read_parquet({folded!r})) WHERE rn = 1"
        )
        want = con.sql(f"SELECT {', '.join(cols)} FROM latest")
        self.outcomes.ok()
        if table_hash(cols, got) != table_hash(list(want.columns), want.fetchall()):
            self.outcomes.mismatch("final snapshot differs from keep-latest in DuckDB")
        want_agg = con.sql(
            f"SELECT key % {BUCKETS}, count(*), round(sum(amount), 2) FROM latest "
            f"WHERE op <> 'd' GROUP BY 1 ORDER BY 1"
        ).fetchall()
        self.outcomes.ok()
        if self.last_agg is None or len(self.last_agg) != len(want_agg) or any(
            a[0] != b[0] or a[1] != b[1] or abs(a[2] - b[2]) > 0.011
            for a, b in zip(self.last_agg, want_agg)
        ):
            self.outcomes.mismatch("last aggregate differs from DuckDB")
        con.close()
        self._check_records()

    def _check_records(self) -> None:
        runs: dict[tuple[str, int], list[str]] = defaultdict(list)
        for r in self.runner.records().select("path", "started_at", "status").collect():
            runs[(r.path, r.started_at)].append(r.status)
        per_path: dict[str, int] = defaultdict(int)
        for (path, _), statuses in runs.items():
            per_path[path] += 1
            self.outcomes.ok()
            if sorted(statuses) != ["running", "succeeded"]:
                self.outcomes.mismatch(f"records of one run of {path}: {sorted(statuses)}")
        for path, n in self.calls.items():
            if per_path.get(path, 0) != n:
                self.outcomes.fail(f"{path}: {per_path.get(path, 0)} recorded runs, {n} calls")

    def _init_seconds(self, spark) -> list[float]:
        """``Runner()`` construction over the records table the run has
        filled, which is what a restarted runner reads."""
        from data_misc_tools_spark.runner import Runner

        out = []
        for _ in range(INIT_REPEATS):
            with self.tracer.span("runner.init") as s:
                Runner(spark, self.records)
            out.append(s.seconds)
        return out

    def per_layer(self, spark) -> dict[str, float]:
        return {
            "runner.overhead_s": C.median(self.overhead),
            "runner.init_s": C.median(self._init_seconds(spark)),
            "runner.record_files": float(len(_files(self.records))),
            "runner.reloads": float(len(self.loads) - 1),
            "plans.sql_task_s": C.median(self.sql_task),
            "upsert.process_batch_s": C.median(self.process_batch),
            # The last traced tick folds onto the largest snapshot.
            "upsert.process_batch_last_s": self.process_batch[-1],
            "upsert.bytes_written_per_input_byte": C.median(self.write_ratio),
            "upsert.snapshot_rows": float(self.snapshot_rows),
            "sources.parquet_files_written_per_tick": C.median(self.files_per_tick),
        }
