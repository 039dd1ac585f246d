"""Streaming keep-latest upsert sink: a CDC "latest state" table fed
by a changelog stream.

The batch side of this pipeline already exists (operators/cdc.py:
compact_changelog collapses an upsert/delete log to final state);
this module is its STREAMING twin: a foreachBatch sink that folds
each micro-batch of change rows into a persistent key→latest-row
snapshot, exactly the materialized-view upkeep the reference's runner
loop approximates by re-reading a window every minute (reference:
process/InterpreterLoader.scala:127-131).

Design — versioned snapshot directories, not in-place overwrite.
This module is the only code that knows the store format: every
store is listed by ``_committed``, read by ``_snapshot`` and written
by ``_commit`` (streaming/incremental_dedup.py keeps its labels in
such stores, one per bucket).

* ``path/v=N`` holds a full snapshot; the CURRENT snapshot is the
  highest N whose directory contains Spark's ``_SUCCESS`` marker.
  Readers never see a torn snapshot: a crash mid-write leaves a
  marker-less directory that every reader and the next merge skip.
* Each micro-batch: union the change rows with the current snapshot,
  keep-latest per key (operators/cdc.py ``keep_latest``: max_by over
  the order columns — a partial and a final sort aggregate around one
  shuffle, no window), write version N+1. The merge cost is
  O(snapshot + batch) per batch — the standard copy-on-write table
  format trade (Delta/Hudi/Iceberg do exactly this per commit, plus a
  manifest). At 100 TB the
  snapshot would be partitioned by key-hash bucket so a batch only
  rewrites touched buckets; here versions are whole-directory for
  auditability.
* Deletes are TOMBSTONES, not removals: the snapshot retains the
  winning delete row per key so a late out-of-order update (older
  sequence than the delete) can never resurrect the key on a later
  merge. ``read_latest(op_col=...)`` filters them out at read time;
  dropping aged tombstones is a compaction policy, not merge logic.
* One listing: the committed versions and their markers' mtimes come
  from one Hadoop ``globStatus`` of ``path/v=*/_SUCCESS``; a batch
  lists the store once, and its commit prunes from that listing.
* Committed versions are write-once, so the module remembers the
  schema of the version last written or read per store path, keyed
  by (version, ``_SUCCESS`` mtime), and reads that version as
  ``spark.read.schema(<schema>).parquet(...)`` while both still match.
  Without a schema ``spark.read.parquet`` asks Spark for it with a
  one-task job that reads a footer (~0.1 s); with one it starts no
  job. A batch remembers the schema it wrote. The mtime makes a store
  deleted and rewritten under the same version number read again.
  The memo is a module dict, not per ``SparkSession``: a schema holds
  no session, and ``foreachBatch`` hands each micro-batch a new Python
  session, so a streaming query's batches and the reader of its store
  share one entry per store path.

Replays are idempotent: re-processing batch B produces a snapshot
with the same CONTENT (keep-latest is associative/commutative over
the same inputs); the exactly-once batch-id ledger pattern from
streaming/exactly_once.py applies unchanged if side-effect-free
retries matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_misc_tools_spark.operators.cdc import keep_latest
from data_misc_tools_spark.sources import fs as _fsh

# Store path -> (version, marker mtime ms, schema) of the snapshot last
# written or read there (see the module docstring).
_SCHEMAS: dict[str, tuple[int, int, StructType]] = {}


def _committed(spark: SparkSession, path: str) -> dict[int, int]:
    """Committed snapshot versions -> their ``_SUCCESS`` marker's mtime
    (ms), from one Hadoop ``globStatus`` of ``path/v=*/_SUCCESS``, so
    the store works on any supported FS (local, HDFS, S3A), not just
    the driver's local disk. Glob metacharacters in ``path`` match
    only themselves."""
    out = {}
    for ent in _fsh.glob(spark, _fsh.escape_glob(path) + "/v=*/_SUCCESS"):
        v = ent["path"].rsplit("/", 2)[-2][2:]
        if v.isdigit():
            out[int(v)] = ent["mtime_ms"]
    return out


def _versions(spark: SparkSession, path: str) -> list[int]:
    """Committed snapshot versions, ascending."""
    return sorted(_committed(spark, path))


def _current_version(spark: SparkSession, path: str) -> int | None:
    return max(_committed(spark, path), default=None)


def _snapshot(spark: SparkSession, path: str, committed: dict[int, int]) -> DataFrame | None:
    """The raw current snapshot of ``committed`` (a ``_committed``
    listing of ``path``), read with its remembered schema when this
    process last wrote or read that version, else read and remembered."""
    if not committed:
        return None
    v = max(committed)
    src = f"{_fsh.escape_glob(path)}/v={v}"
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[:2] == (v, committed[v]):
        return spark.read.schema(hit[2]).parquet(src)
    snap = spark.read.parquet(src)
    _SCHEMAS[path] = (v, committed[v], snap.schema)
    return snap


def _commit(df: DataFrame, path: str, committed: dict[int, int], keep_versions: int) -> None:
    """Write ``df`` as the next version of the store at ``path``, whose
    ``_committed`` listing is ``committed``; remember its schema (the
    next read starts no job) and delete all but the newest
    ``keep_versions`` versions (all kept when <= 0)."""
    spark = df.sparkSession
    v = max(committed, default=0) + 1
    out = f"{path}/v={v}"
    df.write.mode("overwrite").parquet(out)
    _SCHEMAS[path] = (v, _fsh.stat(spark, f"{out}/_SUCCESS")["mtime_ms"], df.schema)
    if keep_versions > 0:
        for old in sorted([*committed, v])[:-keep_versions]:
            _fsh.delete(spark, f"{path}/v={old}")


def read_latest(
    spark: SparkSession,
    path: str,
    op_col: str | None = None,
    delete_ops: tuple[str, ...] = ("d", "delete"),
) -> DataFrame | None:
    """The current committed snapshot, or None before the first one.

    Pass ``op_col`` to hide tombstoned keys (rows whose winning change
    is a delete) — the live-state view; omit it for the raw snapshot
    including tombstones (what the merge path reads). Lists the store
    once; starts no Spark job when this process already wrote or read
    the current version (see the module docstring).
    """
    snap = _snapshot(spark, path, _committed(spark, path))
    if snap is not None and op_col is not None:
        snap = snap.filter(~F.col(op_col).isin(list(delete_ops)))
    return snap


class ParquetUpsertSink:
    """foreachBatch handler maintaining a keep-latest snapshot.

    Change-type semantics live at READ time (see read_latest): the
    stored snapshot keeps each key's winning row even when it is a
    delete, so out-of-order changes merge correctly forever.
    """

    def __init__(
        self,
        path: str,
        key_cols: list[str],
        order_cols: list[str],
        keep_versions: int = 2,
    ) -> None:
        self.path = path
        self.key_cols = list(key_cols)
        self.order_cols = list(order_cols)
        self.keep_versions = keep_versions

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Fold ``batch`` into the snapshot as the next version. The
        batch's columns are matched to the snapshot's by name."""
        spark = batch.sparkSession
        committed = _committed(spark, self.path)
        current = _snapshot(spark, self.path, committed)
        merged = batch if current is None else batch.unionByName(current)
        latest = keep_latest(merged, self.key_cols, self.order_cols)
        _commit(latest, self.path, committed, self.keep_versions)


def upsert_stream(
    changes: DataFrame,
    path: str,
    key_cols: list[str],
    order_cols: list[str],
    checkpoint: str,
):
    """Wire a streaming changelog into a ParquetUpsertSink with an
    availableNow trigger; returns the started StreamingQuery."""
    sink = ParquetUpsertSink(path, key_cols, order_cols)
    return (
        changes.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
