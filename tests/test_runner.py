"""Scheduled runner: hot reload, interval throttle, records, result feedback."""

import json
import os
import time

import pytest

from data_misc_tools_spark.runner import (
    RECORD_SCHEMA,
    Runner,
    ScriptTask,
    parse_iso_duration,
)
from data_misc_tools_spark.testing.jobs import jobs_started


def test_parse_iso_duration():
    assert parse_iso_duration("PT1M") == 60
    assert parse_iso_duration("PT60M") == 3600
    assert parse_iso_duration("PT1H") == 3600
    assert parse_iso_duration("P1D") == 86400
    assert parse_iso_duration("PT0.5S") == 0.5
    with pytest.raises(ValueError):
        parse_iso_duration("1 minute")


def _write_script(path, body):
    with open(path, "w") as f:
        f.write(body)
    # ensure a distinct mtime for reload detection on fast filesystems
    os.utime(path, (time.time(), time.time() + 0.01))


def test_run_and_result_feedback(spark, tmp_path):
    script = tmp_path / "task.py"
    _write_script(script, "def run(spark, param):\n    return (param or 0) + 1\n")
    runner = Runner(spark, str(tmp_path / "records"))
    t = ScriptTask(str(script), interval="PT0.1S")
    assert runner.run_once(t) == 1
    time.sleep(0.15)
    assert runner.run_once(t) == 2  # previous result fed back as param


def test_interval_throttle(spark, tmp_path):
    script = tmp_path / "task.py"
    _write_script(script, "def run(spark, param):\n    return (param or 0) + 1\n")
    runner = Runner(spark, str(tmp_path / "records"))
    t = ScriptTask(str(script), interval="PT1H")
    assert runner.run_once(t) == 1
    assert runner.run_once(t) == 1  # throttled: returns last result, no new run
    assert runner.run_once(t, force=True) == 2


def test_hot_reload_on_mtime_change(spark, tmp_path):
    script = tmp_path / "task.py"
    _write_script(script, "def run(spark, param):\n    return 'v1'\n")
    runner = Runner(spark, str(tmp_path / "records"))
    t = ScriptTask(str(script), interval="PT0S")
    assert runner.run_once(t) == "v1"
    time.sleep(0.02)
    _write_script(script, "def run(spark, param):\n    return 'v2'\n")
    assert runner.run_once(t) == "v2"  # mtime change -> fresh module


def test_failure_recorded_not_raised(spark, tmp_path):
    script = tmp_path / "bad.py"
    _write_script(script, "def run(spark, param):\n    raise RuntimeError('boom')\n")
    runner = Runner(spark, str(tmp_path / "records"))
    t = ScriptTask(str(script), interval="PT0S")
    assert runner.run_once(t) is None
    recs = runner.records().collect()
    done = [r for r in recs if r.status != "running"]
    assert len(done) == 1 and len(recs) == 2  # start row + failed completion
    assert done[0].status == "failed" and "boom" in done[0].result


def test_sql_script_task(spark, tmp_path):
    script = tmp_path / "q.sql"
    _write_script(script, "select 1 as a;\nselect 2 as b;\n")
    runner = Runner(spark, str(tmp_path / "records"))
    result = runner.run_once(ScriptTask(str(script), interval="PT0S"))
    assert result == [(2,)]  # last statement's rows
    rec = runner.records().filter("status != 'running'").first()
    assert rec.script_type == "sql" and rec.status == "succeeded"


def test_records_accumulate(spark, tmp_path):
    script = tmp_path / "task.py"
    _write_script(script, "def run(spark, param):\n    return 1\n")
    runner = Runner(spark, str(tmp_path / "records"))
    t = ScriptTask(str(script), interval="PT0S")
    runner.run_once(t)
    runner.run_once(t, force=True)
    recs = (
        runner.records().filter("status != 'running'").orderBy("started_at").collect()
    )
    assert len(recs) == 2
    assert all(r.status == "succeeded" for r in recs)
    assert all(r.finished_at >= r.started_at for r in recs)


def test_throttle_survives_runner_restart(spark, tmp_path):
    script = tmp_path / "task.py"
    _write_script(script, "def run(spark, param):\n    return (param or 0) + 1\n")
    records = str(tmp_path / "records")
    r1 = Runner(spark, records)
    t = ScriptTask(str(script), interval="PT1H")
    assert r1.run_once(t) == 1
    # a NEW runner instance must see the prior start via the records table
    r2 = Runner(spark, records)
    t2 = ScriptTask(str(script), interval="PT1H")
    assert not r2.is_ready(t2)
    assert r2.run_once(t2) is None  # throttled; no prior in-memory result


def test_crash_mid_task_records_failure_and_restart_throttles(spark, tmp_path):
    """Kill the runner mid-task (KeyboardInterrupt escapes run_once
    after the start record lands, before any completion row — the
    crash shape): the restarted runner must (a) mark the orphaned run
    failed in the records table and (b) still throttle the slot, since
    the crashed run consumed its interval (reference:
    process/ScriptHelper.scala:143-156 start/finalize record
    semantics)."""
    script = tmp_path / "task.py"
    _write_script(
        script, "def run(spark, param):\n    raise KeyboardInterrupt\n"
    )
    records = str(tmp_path / "records")
    r1 = Runner(spark, records)
    t = ScriptTask(str(script), interval="PT1H")
    with pytest.raises(KeyboardInterrupt):
        r1.run_once(t)
    recs = r1.records().collect()
    assert [r.status for r in recs] == ["running"]  # no completion row

    r2 = Runner(spark, records)  # restart
    recs2 = r2.records().orderBy("finished_at").collect()
    assert [r.status for r in recs2] == ["running", "failed"]
    assert "crashed" in recs2[-1].result
    assert recs2[-1].started_at == recs2[0].started_at  # same run slot
    assert not r2.is_ready(t)  # the crashed run consumed the interval
    # a second restart must not double-mark the orphan
    r3 = Runner(spark, records)
    assert [r.status for r in r3.records().orderBy("finished_at").collect()] == [
        "running", "failed",
    ]


def test_background_loop_and_graceful_stop(spark, tmp_path):
    script = tmp_path / "task.py"
    _write_script(script, "def run(spark, param):\n    return (param or 0) + 1\n")
    runner = Runner(spark, str(tmp_path / "records"))
    t = ScriptTask(str(script), interval="PT0S")
    th = runner.start_background([t], tick_sec=0.05)
    deadline = time.time() + 30
    while time.time() < deadline and runner.last_result.get(str(script), 0) < 2:
        time.sleep(0.1)
    runner.stop()
    th.join(timeout=10)
    assert not th.is_alive()
    assert runner.last_result[str(script)] >= 2  # ran multiple ticks


def test_script_source_versions_are_auditable(spark, tmp_path):
    """A modified-then-rerun script yields records whose src_sha values
    differ AND whose exact content is recoverable from the snapshot
    table (reference: records/ScriptSrc.scala:8-24)."""
    script = tmp_path / "task.py"
    _write_script(script, "def run(spark, param):\n    return 'v1'\n")
    runner = Runner(spark, str(tmp_path / "records"))
    t = ScriptTask(str(script), interval="PT0.1S")
    assert runner.run_once(t, force=True) == "v1"
    _write_script(script, "def run(spark, param):\n    return 'v2'\n")
    assert runner.run_once(t, force=True) == "v2"

    recs = (
        runner.records()
        .filter("status = 'succeeded'")
        .orderBy("started_at")
        .collect()
    )
    assert len(recs) == 2
    sha1, sha2 = recs[0].src_sha, recs[1].src_sha
    assert sha1 and sha2 and sha1 != sha2
    srcs = {r.src_sha: r.content for r in runner.script_sources().collect()}
    assert "'v1'" in srcs[sha1] and "'v2'" in srcs[sha2]
    # snapshots are deduplicated: rerunning the same content adds no row
    time.sleep(0.15)
    assert runner.run_once(t) == "v2"
    assert runner.script_sources().count() == 2
    # a restarted runner rediscovers known shas (no duplicate snapshot)
    runner2 = Runner(spark, str(tmp_path / "records"))
    assert runner2.run_once(t, force=True) == "v2"
    assert runner2.script_sources().count() == 2


def _record_line(path="a.py", started_at=1000, status="succeeded"):
    return json.dumps({
        "path": path, "script_type": "py", "started_at": started_at,
        "finished_at": started_at + 1, "status": status, "result": "1",
        "src_sha": None,
    })


def test_corrupt_record_line_fails_loudly(spark, tmp_path):
    """An unparseable line that is not the last line of its file is
    corrupt state: Runner() must raise, not start with throttling off."""
    records = tmp_path / "records"
    records.mkdir()
    (records / "0-a.jsonl").write_text(
        _record_line() + "\n{not json\n" + _record_line() + "\n"
    )
    with pytest.raises(ValueError, match="corrupt"):
        Runner(spark, str(records))


def test_torn_last_line_is_skipped(spark, tmp_path):
    """A last line with no trailing newline is a write the previous
    runner died in the middle of: it is skipped, the rest recovers."""
    records = tmp_path / "records"
    records.mkdir()
    line = _record_line(started_at=5000)
    (records / "0-a.jsonl").write_text(line + "\n" + line[:25])
    r = Runner(spark, str(records))
    assert r.last_started == {"a.py": 5.0}
    assert r.records().count() == 1


def test_old_parquet_records_are_refused(spark, tmp_path):
    records = str(tmp_path / "records")
    spark.createDataFrame(
        [("a.py", "py", 1, 2, "succeeded", "1", None)], RECORD_SCHEMA
    ).write.parquet(records)
    with pytest.raises(ValueError, match="parquet"):
        Runner(spark, records)


def test_records_on_a_file_system_that_cannot_append(spark, tmp_path, monkeypatch):
    """S3A creates files but refuses append with
    UnsupportedOperationException: each later record goes to its own
    file, and throttle recovery and orphan marking still work."""
    from pyspark.errors import UnsupportedOperationException

    from data_misc_tools_spark.sources import fs

    create_only = fs.append_text

    def refusing_append(spark, path, content):
        if fs.exists(spark, path):
            raise UnsupportedOperationException("Append is not supported")
        create_only(spark, path, content)

    monkeypatch.setattr(fs, "append_text", refusing_append)
    ok = tmp_path / "ok.py"
    _write_script(ok, "def run(spark, param):\n    return 'ok'\n")
    crash = tmp_path / "crash.py"
    _write_script(crash, "def run(spark, param):\n    raise KeyboardInterrupt\n")
    records = str(tmp_path / "records")
    r1 = Runner(spark, records)
    t_ok = ScriptTask(str(ok), interval="PT1H")
    t_crash = ScriptTask(str(crash), interval="PT1H")
    assert r1.run_once(t_ok) == "ok"
    with pytest.raises(KeyboardInterrupt):
        r1.run_once(t_crash)
    assert len([n for n in os.listdir(records) if n.endswith(".jsonl")]) == 3

    r2 = Runner(spark, records)  # restart
    assert not r2.is_ready(t_ok) and not r2.is_ready(t_crash)
    crashed = r2.records().filter(f"path = '{crash}'").orderBy("finished_at")
    assert [r.status for r in crashed.collect()] == ["running", "failed"]
    r3 = Runner(spark, records)  # no double marking
    assert r3.records().filter(f"path = '{crash}'").count() == 2


def test_bookkeeping_starts_no_spark_job(spark, tmp_path):
    """Records and source snapshots are driver-side rows: neither a
    run_once of a pure-Python task nor a Runner() over filled records
    (with a crash orphan to mark) starts a Spark job."""
    script = tmp_path / "task.py"
    _write_script(script, "def run(spark, param):\n    return (param or 0) + 1\n")
    crash = tmp_path / "crash.py"
    _write_script(crash, "def run(spark, param):\n    raise KeyboardInterrupt\n")
    records = str(tmp_path / "records")
    runner = Runner(spark, records)
    t = ScriptTask(str(script), interval="PT0S")
    assert jobs_started(spark, lambda: runner.run_once(t)) == 0
    for _ in range(3):
        assert jobs_started(spark, lambda: runner.run_once(t)) == 0
    with pytest.raises(KeyboardInterrupt):
        runner.run_once(ScriptTask(str(crash)))
    assert jobs_started(spark, lambda: Runner(spark, records)) == 0
    assert runner.last_result[str(script)] == 4
