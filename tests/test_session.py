"""Session set-up: what a built session starts, and how tables are read."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from pyspark.sql.types import TimestampType

# Run in a fresh process: the pytest JVM has long since run Python data
# sources and workers. The script prints the command line of every
# Python process below the JVM after a workload-shaped set of calls
# (BEFORE), and again after the data sources are registered and one is
# read (AFTER).
_COLD_SESSION = """
import json, os, sys
os.environ["SPARK_GRAFT_CPUS"] = "2"
os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
from data_misc_tools_spark.session import build_session
from data_misc_tools_spark.sources.pydatasource import register_python_datasources
from data_misc_tools_spark.sources.warc import warc_write_records


def python_below(root):
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids = [int(c) for c in f.read().split()]
            for k in kids:
                with open(f"/proc/{k}/cmdline", "rb") as f:
                    cmd = f.read().replace(b"\\0", b" ").decode().strip()
                if "python" in cmd.split(" ", 1)[0]:
                    out.append(cmd)
            todo.extend(kids)
    return out


d = sys.argv[1]
spark = build_session(app_name="cold-session")
spark.sparkContext.setLogLevel("ERROR")
jvm = spark.sparkContext._gateway.proc.pid
spark.range(100).write.parquet(f"{d}/t")
assert spark.read.parquet(f"{d}/t").count() == 100
assert spark.sql("SELECT token_count('a b c') AS n").first().n == 3
spark.range(10).write.format("noop").mode("overwrite").save()
print("BEFORE", json.dumps(python_below(jvm)), flush=True)
register_python_datasources(spark)
warc_write_records(f"{d}/s.warc", [("response", "https://x/1", b"page")])
rows = spark.read.format("warc").load(f"{d}/s.warc").collect()
print("WARC", json.dumps([r.target_uri for r in rows]), flush=True)
print("AFTER", json.dumps(python_below(jvm)), flush=True)
"""


def _line(out: str, tag: str):
    import json

    return json.loads(next(ln for ln in out.splitlines() if ln.startswith(tag + " "))[len(tag) + 1:])


def test_built_session_starts_no_python_process_until_a_data_source_is_registered(tmp_path):
    """build_session registers SQL functions only: after a parquet write
    and read, spark.sql and a noop write, no Python process runs below
    the JVM (Spark's data-source lookup daemon included). The Python data
    sources work once register_python_datasources is called."""
    proc = subprocess.run(
        [sys.executable, "-c", _COLD_SESSION, str(tmp_path)],
        cwd=Path(__file__).resolve().parent.parent,  # imports the package
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert _line(proc.stdout, "BEFORE") == []
    assert _line(proc.stdout, "WARC") == ["https://x/1"]
    # the probe sees the lookup daemon once a data source is registered
    assert any("lookup_data_sources" in c for c in _line(proc.stdout, "AFTER"))


def test_nanos_timestamps_in_a_directory_table(spark, tmp_path):
    """A multi-file table with a TIMESTAMP(NANOS) column reads as
    timestamps, with the values the same data gives as one file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_misc_tools_spark.session import read_parquet_table

    ns = [1_700_000_000_123_456_789 + i * 3_600_000_000_000 for i in range(4)]
    table = pa.table({"id": list(range(4)), "ts": pa.array(ns, pa.timestamp("ns"))})
    pq.write_table(table, tmp_path / "one.parquet")
    (tmp_path / "dir").mkdir()
    pq.write_table(table.slice(0, 2), tmp_path / "dir" / "part-0.parquet")
    pq.write_table(table.slice(2), tmp_path / "dir" / "part-1.parquet")
    (tmp_path / "dir" / "_SUCCESS").write_bytes(b"")

    one = read_parquet_table(spark, str(tmp_path / "one.parquet"))
    many = read_parquet_table(spark, str(tmp_path / "dir"))
    assert isinstance(many.schema["ts"].dataType, TimestampType)
    assert sorted(many.collect()) == sorted(one.collect())
