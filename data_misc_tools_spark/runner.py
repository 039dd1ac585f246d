"""Scheduled hot-reload script runner — the Spark Runner analog.

Reference behavior (reference: process/InterpreterLoader.scala:106-152,
process/ScriptHelper.scala:30-159): a long-lived driver loops every
≥60 s, hot-reloads a script when its mtime changes (compiled instance
cached otherwise), invokes it as ``(SparkSession, prev_result) -> Any``
feeding the previous result back in, enforces a per-task minimum
interval (ISO-8601, default PT1M; annotation/ProcDescription.java:12-21),
and persists an execution record per run (records/RecordDao.scala:19-22,
ExecutionRecord.scala:8-45).

Spark-native redesign: scripts are Python modules exposing
``run(spark, param) -> Any`` (SQL scripts run through the statement
splitter); "compilation" is importlib loading into a fresh module
namespace per reload (no stale-closure reuse). No classloader
machinery — PySpark ships closures to executors natively.

Execution records and script-source snapshots are driver-side JSON
lines under ``records_path`` and ``<records_path>_src``, not a Spark job
per row, and restart recovery parses them in plain Python; or they go
to a database table (``records_jdbc_url``) like the reference's JDO.
"""

from __future__ import annotations

import importlib.util
import json
import logging
import os
import re
import time
import traceback
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.errors import UnsupportedOperationException
from pyspark.sql import SparkSession

from data_misc_tools_spark.sources import fs

RECORD_SCHEMA = (
    "path string, script_type string, started_at bigint, finished_at bigint, "
    "status string, result string, src_sha string"
)

# Normalized script-source snapshots (reference: records/ScriptSrc.scala:8-24
# persists script CONTENT + metadata per version as a CLOB): one row per
# distinct (path, sha256-of-content); execution records reference the sha,
# so a post-mortem can recover EXACTLY which version of a hot-reloaded
# script each run executed without storing the text once per run.
SRC_SCHEMA = "src_sha string, path string, content string, first_seen_ms bigint"


def parse_iso_duration(s: str) -> float:
    """ISO-8601 duration (the PT1M-style subset the reference uses,
    ProcDescription.java:20) -> seconds."""
    m = re.fullmatch(
        r"P(?:(?P<d>\d+)D)?(?:T(?:(?P<h>\d+)H)?(?:(?P<m>\d+)M)?(?:(?P<s>\d+(?:\.\d+)?)S)?)?",
        s.strip().upper(),
    )
    if not m or not any(m.groupdict().values()):
        raise ValueError(f"invalid ISO-8601 duration: {s!r}")
    g = {k: float(v) if v else 0.0 for k, v in m.groupdict().items()}
    return g["d"] * 86400 + g["h"] * 3600 + g["m"] * 60 + g["s"]


@dataclass
class _Loaded:
    mtime: float
    instance: Any  # callable(spark, param) -> Any


@dataclass
class ScriptTask:
    """One scheduled unit: a Python script exposing ``run(spark, param)``
    or a ``.sql`` script executed statement-by-statement."""

    path: str
    interval: str = "PT1M"
    name: str | None = None
    _cache: _Loaded | None = field(default=None, repr=False)

    @property
    def script_type(self) -> str:
        return "sql" if self.path.endswith(".sql") else "py"

    def source_snapshot(self) -> tuple[str, str]:
        """(sha256-hex, content) of the script file as it is NOW —
        taken at run start so the record pins the exact hot-reload
        version that executed (reference: ScriptSrc.scala:8-24).

        Hashes the RAW bytes and decodes with errors='replace': a
        script with a stray non-UTF-8 byte must still snapshot (a
        UnicodeDecodeError here would escape run_once and kill the
        scheduler loop before any record is written)."""
        import hashlib

        with open(self.path, "rb") as f:
            raw = f.read()
        return hashlib.sha256(raw).hexdigest(), raw.decode("utf-8", errors="replace")

    def _load(self) -> Any:
        """mtime-cached load; reload only on modification (reference:
        ScriptHelper.getTaskInstance:62-88). Old instances with a
        ``close()`` are closed before replacement (:113-115)."""
        mtime = os.stat(self.path).st_mtime
        if self._cache is not None and self._cache.mtime == mtime:
            return self._cache.instance
        if self._cache is not None:
            close = getattr(self._cache.instance, "close", None)
            if close:
                try:
                    close()
                except Exception:
                    # the old instance is dropped either way; the new one
                    # must still load and run
                    logging.getLogger(__name__).warning(
                        "closing the replaced instance of %s failed", self.path, exc_info=True
                    )
        if self.script_type == "sql":
            with open(self.path, encoding="utf-8") as f:
                script = f.read()

            def run_sql(spark: SparkSession, _param: Any) -> Any:
                from data_misc_tools_spark.plans.sql_script import run_sql_script

                results = run_sql_script(spark, script)
                # materialize the final statement's result as the task value
                if not results:
                    return None
                last = results[-1][1]
                return [tuple(r) for r in last.collect()]

            instance = run_sql
        else:
            # fresh module name per reload: no stale attributes survive
            mod_name = f"_dmt_task_{uuid.uuid4().hex}"
            spec = importlib.util.spec_from_file_location(mod_name, self.path)
            assert spec and spec.loader
            module = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(module)
            if not hasattr(module, "run"):
                raise AttributeError(f"{self.path} must define run(spark, param)")
            instance = module.run
        self._cache = _Loaded(mtime, instance)
        return instance


def _columns(schema: str) -> list[str]:
    return [f.split()[0] for f in schema.split(",")]


class _JsonLines:
    """The rows of one table as JSON lines in files under ``root``,
    written and read on the driver through ``sources.fs``: no Spark job.

    Each instance appends to its own file, ``<start_ms>-<uuid>.jsonl``,
    created on its first write, so two runners never share a file. A
    file system that refuses append (S3A raises
    UnsupportedOperationException) gets one file per row from then on,
    ``<start_ms>-<uuid>-<n>.jsonl``; the reader does not change."""

    def __init__(self, spark: SparkSession, root: str, schema: str) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self.columns = _columns(schema)
        self._name = f"{int(time.time() * 1000)}-{uuid.uuid4().hex}"
        self._written = 0
        self._appends = True

    def append(self, row: tuple) -> None:
        line = json.dumps(dict(zip(self.columns, row))) + "\n"
        self._written += 1
        if self._appends:
            try:
                fs.append_text(self.spark, f"{self.root}/{self._name}.jsonl", line)
                return
            except UnsupportedOperationException:
                self._appends = False
        path = f"{self.root}/{self._name}-{self._written}.jsonl"
        fs.write_text(self.spark, path, line, overwrite=False)

    def rows(self) -> list[tuple]:
        """Every row under ``root``; [] when the directory is absent. A
        torn last line (no trailing newline: the writer died mid-append)
        is skipped; any other unparseable line raises."""
        if not fs.exists(self.spark, self.root):
            return []
        out = []
        for entry in fs.ls(self.spark, self.root):
            path = entry["path"]
            if path.endswith((".parquet", "/_SUCCESS")):
                raise ValueError(f"{path}: parquet execution records are no longer "
                                 "read (records are JSON lines); use a new records_path")
            if not path.endswith(".jsonl"):
                continue
            lines = fs.cat(self.spark, path).split("\n")
            for i, line in enumerate(lines[:-1], 1):  # lines[-1]: "" or torn
                try:
                    r = json.loads(line)
                except ValueError as e:
                    raise ValueError(f"{path}:{i}: corrupt record line {line[:200]!r}") from e
                out.append(tuple(r.get(c) for c in self.columns))
        return out


@dataclass
class _JdbcTable:
    """The same rows in a database table, like the reference's
    JDO-backed RecordDao (records/RecordDao.scala:19-22 writes MySQL)."""

    spark: SparkSession
    url: str
    table: str
    properties: dict[str, str]
    schema: str

    def append(self, row: tuple) -> None:
        from data_misc_tools_spark.sources.jdbc import df_to_jdbc

        df_to_jdbc(
            self.spark.createDataFrame([row], self.schema).coalesce(1),
            self.url, self.table, mode="append", properties=self.properties,
        )

    def rows(self) -> list[tuple]:
        """Every row; [] when the table is absent."""
        from data_misc_tools_spark.sources.jdbc import jdbc_to_df, table_exists

        if not table_exists(self.spark, self.url, self.table, self.properties):
            return []
        df = jdbc_to_df(
            self.spark, self.url, f"SELECT * FROM {self.table}",
            properties=self.properties,
        )
        return [tuple(r) for r in df.select(*_columns(self.schema)).collect()]


class Runner:
    """Scheduler + execution-record keeper for a set of ScriptTasks."""

    def __init__(
        self,
        spark: SparkSession,
        records_path: str,
        records_jdbc_url: str | None = None,
        records_table: str = "execution_records",
        jdbc_properties: dict[str, str] | None = None,
    ) -> None:
        """``records_path`` is the directory of JSON-line execution
        records; passing ``records_jdbc_url`` instead persists records
        to a database table like the reference's JDO-backed RecordDao
        (records/RecordDao.scala:19-22 writes MySQL)."""
        self.spark = spark
        self.records_path = records_path
        self.records_jdbc_url = records_jdbc_url
        self.records_table = records_table
        self.jdbc_properties = dict(jdbc_properties or {})
        self.src_path = records_path.rstrip("/") + "_src"
        self.src_table = records_table + "_src"
        self.last_result: dict[str, Any] = {}
        self.last_started: dict[str, float] = {}
        self._stop = False
        # Only an absent directory or table means "no records yet";
        # records that cannot be read raise.
        if records_jdbc_url is None:
            self._records = _JsonLines(spark, records_path, RECORD_SCHEMA)
            self._sources = _JsonLines(spark, self.src_path, SRC_SCHEMA)
        else:
            url, props = records_jdbc_url, self.jdbc_properties
            self._records = _JdbcTable(spark, url, records_table, props, RECORD_SCHEMA)
            self._sources = _JdbcTable(spark, url, self.src_table, props, SRC_SCHEMA)
        self._known_src = {r[0] for r in self._sources.rows()}
        self._recover(self._records.rows())

    # -- records ---------------------------------------------------------
    def _recover(self, rows: list[tuple]) -> None:
        """Recover last-start times so interval throttling survives
        runner restarts (reference looks up the last execution record:
        records/RecordDao.scala:85-90, hive/HiveBeeLine.scala:218-224).
        'running' rows count: a run that crashed mid-task still
        consumed its interval slot.

        Then mark crash-orphaned runs failed: a 'running' start row
        with no completion row for the same (path, started_at) means
        the previous runner died mid-task (reference: the execution
        record written at start and finalized at finish,
        process/ScriptHelper.scala:143-156)."""
        done = {(p, s) for p, _, s, _, status, _, _ in rows if status != "running"}
        now_ms = int(time.time() * 1000)
        for path, script_type, started_ms, _, status, _, src_sha in rows:
            last = self.last_started.get(path, 0.0)
            self.last_started[path] = max(last, started_ms / 1000.0)
            if status == "running" and (path, started_ms) not in done:
                done.add((path, started_ms))
                self._records.append((
                    path, script_type, started_ms, now_ms, "failed",
                    "crashed: no completion record (runner restart)", src_sha,
                ))

    def _record(
        self, task: ScriptTask, started: float, finished: float, status: str,
        result: Any, src_sha: str | None = None,
    ) -> None:
        self._records.append((
            task.path, task.script_type, int(started * 1000),
            int(finished * 1000), status, str(result)[:4000], src_sha,
        ))

    def records(self):
        """The execution records as a DataFrame of ``RECORD_SCHEMA``."""
        return self.spark.createDataFrame(self._records.rows(), RECORD_SCHEMA)

    def script_sources(self):
        """The (src_sha, path, content, first_seen_ms) snapshot table:
        join records.src_sha against it to recover the exact script
        text any run executed."""
        return self.spark.createDataFrame(self._sources.rows(), SRC_SCHEMA)

    def _snapshot_source(self, task: ScriptTask) -> str:
        """Persist the current script content once per distinct sha;
        returns the sha for the execution record."""
        sha, content = task.source_snapshot()
        if sha not in self._known_src:
            self._sources.append((sha, task.path, content, int(time.time() * 1000)))
            self._known_src.add(sha)
        return sha

    # -- scheduling ------------------------------------------------------
    def is_ready(self, task: ScriptTask, now: float | None = None) -> bool:
        """Interval throttle: has ≥ interval elapsed since the last
        start? (reference: ScriptHelper.isReady via execution-record
        lookup, HiveBeeLine.scala:218-224)."""
        now = now if now is not None else time.time()
        last = self.last_started.get(task.path)
        return last is None or (now - last) >= parse_iso_duration(task.interval)

    def run_once(self, task: ScriptTask, force: bool = False) -> Any:
        """Execute the task if due; feeds the previous result back as
        ``param`` (reference: InterpreterLoader.scala:141-152)."""
        if not force and not self.is_ready(task):
            return self.last_result.get(task.path)
        started = time.time()
        self.last_started[task.path] = started
        # Snapshot the script source BEFORE running (reference persists
        # ScriptSrc per version): the sha on both records pins exactly
        # which hot-reload version this run executed, even if the file
        # changes again mid-run.
        try:
            src_sha = self._snapshot_source(task)
        except (OSError, ValueError):
            src_sha = None  # unreadable file: _load will record the failure
        # Start record FIRST (reference writes the execution record at
        # task start and finalizes it at finish): a crash mid-task
        # leaves this 'running' row behind, so the restarted runner
        # both throttles the slot and marks the run failed
        # (_fail_orphans).
        self._record(task, started, 0, "running", "", src_sha)
        try:
            fn = task._load()
            result = fn(self.spark, self.last_result.get(task.path))
            status = "succeeded"
        except Exception:
            result = traceback.format_exc()
            status = "failed"
        finished = time.time()
        self._record(task, started, finished, status, result, src_sha)
        if status == "succeeded":
            self.last_result[task.path] = result
            return result
        return None

    def loop(self, tasks: list[ScriptTask], tick_sec: float = 60.0, max_ticks: int | None = None) -> None:
        """The reference's ≥60 s timer loop (InterpreterLoader:127-131).
        ``max_ticks`` bounds the loop for tests; None = run until
        :meth:`stop` (the graceful-shutdown analog of the reference's
        POSIX signal handlers, process/MiscHelper.scala:31-45)."""
        ticks = 0
        while not self._stop and (max_ticks is None or ticks < max_ticks):
            for task in tasks:
                if self._stop:
                    break
                self.run_once(task)
            ticks += 1
            if not self._stop and (max_ticks is None or ticks < max_ticks):
                time.sleep(tick_sec)

    def start_background(self, tasks: list[ScriptTask], tick_sec: float = 60.0):
        """Run the loop on a daemon thread; returns the thread. Call
        :meth:`stop` to end it after the in-flight task finishes."""
        import threading

        self._stop = False
        t = threading.Thread(
            target=self.loop, args=(tasks, tick_sec), daemon=True, name="dmt-runner"
        )
        t.start()
        return t

    def stop(self) -> None:
        self._stop = True
