"""Changelog compaction and snapshot merge (incremental pipelines).

The reference refreshes derived tables by full re-ETL on a schedule
(reference: README.md Runner examples; spark/Runner.scala entry point).
At 100 TB a nightly full rebuild is the bottleneck, so the engine
carries the primitives that make refreshes incremental:

* :func:`keep_latest` — the one "newest row per key" of the package:
  one ``max_by`` over structs, a partial and a final sort aggregate
  around one key Exchange, no window, never a global sort. The
  streaming upsert sink (streaming/upsert.py) folds its snapshots
  with it too. On a real cluster the changelog and base table should
  share bucketing on the key so the next merge is Exchange-free.
* :func:`compact_changelog` — collapse an upsert/delete changelog to
  latest-state-per-key: ``keep_latest`` plus the delete filter.
* :func:`merge_snapshot` — apply a changelog to a base snapshot
  (merge-on-read compaction): base rows whose key has no change pass
  through a broadcast anti-join and are never shuffled; the touched
  base rows compete with the changes in one ``keep_latest``.

Keyed snapshot-to-snapshot diffing lives in operators/etl.py
(:func:`~data_misc_tools_spark.operators.etl.snapshot_diff`, the
oracle-checked catalog entry); the streaming twin of compaction is
streaming/upsert.py's keep-latest sink.

All are pure Catalyst (no Python in the hot path) and orders of
magnitude cheaper than the rebuild they replace: compaction touches
only the changelog, and the merge shuffles only the changes and the
base rows they touch.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def keep_latest(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """One row per key: the row with the max (order_cols) tuple. The
    key columns come first, then the others in ``df``'s order.

    One ``max_by`` over structs, grouped by the keys: a partial and a
    final aggregate around one shuffle, no window. ``HashAggregate``
    takes only fixed-width buffer fields and this buffer holds the
    structs, so both aggregates plan as ``SortAggregate``, each after a
    sort on the keys. A NULL in ``order_cols`` sorts below any value,
    so it loses to a non-NULL one. ``order_cols`` must be a total order
    per key (include a unique sequence column as tiebreak: max_by ties
    are engine-unspecified).
    """
    keys = list(key_cols)
    others = [c for c in df.columns if c not in keys]
    packed = df.groupBy(*keys).agg(
        F.max_by(F.struct(*others), F.struct(*order_cols)).alias("__row")
    )
    return packed.select(*keys, "__row.*")


def compact_changelog(
    changelog: DataFrame,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str | None = None,
    delete_ops: Sequence[str] = ("delete",),
) -> DataFrame:
    """Latest state per key from an upsert/delete changelog, in the
    changelog's column order.

    ``seq_cols`` must be a total order within each key (e.g.
    ``["ts", "event_id"]``) — ties would make the winner
    engine/partition-dependent, same invariant as max_by.  Rows whose
    winning ``op_col`` is in ``delete_ops`` are dropped (the key no
    longer exists).

    Scale shape: :func:`keep_latest` — one hash Exchange on
    ``key_cols`` between a partial and a final sort aggregate; the
    delete filter runs on the winners.  No window, no global sort, no
    Python.
    """
    out = keep_latest(changelog, key_cols, seq_cols)
    if op_col is not None:
        out = out.filter(~F.col(op_col).isin(list(delete_ops)))
    return out.select(*changelog.columns)


def merge_snapshot(
    base: DataFrame,
    changelog: DataFrame,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str | None = None,
    delete_ops: Sequence[str] = ("delete",),
) -> DataFrame:
    """Next snapshot = base rows whose key has no change, plus the
    newest row of each changed key among its changes and its base row
    (deletes drop the key). Column set follows ``base``.

    A base row competes by its own ``seq_cols``, so an older,
    out-of-order change never overwrites it; a base without those
    columns loses to any change with a non-NULL sequence. The base rows
    of unchanged keys pass through a LEFT ANTI join against the changed
    keys (broadcast when the changelog is small): only the changes and
    the base rows they touch are shuffled, in one :func:`keep_latest`.
    """
    keys = list(key_cols)
    touched = changelog.select(*keys).distinct()
    kept = base.join(touched, on=keys, how="left_anti")
    rivals = base.join(touched, on=keys, how="left_semi").withColumn(
        "__base", F.lit(True)
    )
    latest = keep_latest(
        changelog.unionByName(rivals, allowMissingColumns=True), keys, seq_cols
    )
    if op_col is not None:
        # only a change deletes: a winning base row stays whatever its
        # op (NULL when the base has no op column)
        latest = latest.filter(
            F.col("__base") | ~F.col(op_col).isin(list(delete_ops))
        )
    return kept.unionByName(latest.select(*base.columns))


def scd2_intervals(
    changelog: DataFrame,
    key_cols: Sequence[str],
    state_cols: Sequence[str],
    seq_cols: Sequence[str],
) -> DataFrame:
    """Type-2 slowly-changing-dimension intervals from a changelog —
    the third leg of the CDC toolkit beside :func:`compact_changelog`
    (latest state) and :func:`merge_snapshot` (apply): full HISTORY as
    validity ranges, the classic warehouse dimension shape (Kimball
    SCD type 2).

    Consecutive rows per key whose ``state_cols`` are UNCHANGED
    collapse into one interval; each emitted row carries
    ``valid_from`` (the first seq value of the run), ``valid_to``
    (the next run's valid_from — NULL while current), ``version``
    (1-based change counter per key) and ``is_current``.

    ``seq_cols`` must totally order each key's changelog (the
    compact_changelog invariant — ties would make run boundaries
    engine-dependent). NULL-safe state comparison (``<=>``), so NULL
    states form runs too.

    Plan shape: one hash Exchange on the key, two within-partition
    window passes (lag to find run starts, lead over run starts for
    valid_to) — no global sort, no Python, no self-join. At 100 TB
    the changelog should be bucketed by key so the Exchange vanishes.
    """
    keys = [F.col(c) for c in key_cols]
    order = [F.col(c).asc() for c in seq_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    changed = F.lit(False)
    for c in state_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    first = F.lag(seq_cols[0]).over(w).isNull()
    starts = (
        changelog.withColumn("__chg", first | changed)
        .filter(F.col("__chg"))
        .drop("__chg")
    )
    w2 = Window.partitionBy(*keys).orderBy(*order)
    vf = F.col(seq_cols[0])
    vt = F.lead(seq_cols[0]).over(w2)
    return starts.select(
        *key_cols,
        *state_cols,
        vf.alias("valid_from"),
        vt.alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
        vt.isNull().alias("is_current"),
    )
