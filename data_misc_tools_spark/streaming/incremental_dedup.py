"""Streaming incremental near-dup pipeline: the production shape for
CONTINUOUS corpus ingestion (VERDICT r8 #4).

Composes three proven batch pieces inside one foreachBatch sink —
per micro-batch of documents (the batch is LSH-hashed exactly ONCE:
its band table is pinned and fanned out to all three steps — r10;
the r9 shape re-ran the md5 shingle pass per step, 3x):

1. candidate edges = batch-internal LSH pairs
   (dedup.candidate_pairs_from_bands) ∪ batch-vs-index collisions
   (dedup.minhash_index_query_bands — only the BATCH is hashed; the
   backlog was hashed once, when it streamed through);
2. cluster labels merge INCREMENTALLY
   (cluster.connected_components_incremental over the contracted
   graph) into ``labels``, a versioned snapshot store: torn writes
   are invisible, and only streaming/upsert.py knows the format — it
   lists (``_committed``), reads (``_snapshot``) and writes
   (``_commit``) every store here;
3. the batch's band table appends into the persisted MinHash index
   (dedup.minhash_index_append_bands — the already-pinned bands write
   directly), and the batch's normalized edges append to an ``edges``
   audit log.

Equality contract (pinned in tests/test_streaming.py): after an
availableNow replay over a file stream, labels == the BATCH
incremental pipeline over the same batches == a from-scratch
minhash_candidate_pairs + connected_components over the full corpus,
and the edge log == the full-corpus candidate pair set. The edge-set
equality holds for ANY batch order: a colliding pair lands either in
one batch (internal) or across two (the later batch queries the index
that already holds the earlier one).

Replay idempotency: re-processing a micro-batch after a crash appends
duplicate band rows to the index — harmless (minhash_index_query
distincts its output) — and re-merging the same edges into labels is
a no-op; a strict batch-id ledger can be layered with
streaming/exactly_once.py if side-effect-free retries matter.

At 100 TB: the index is band-partitioned parquet (batch joins read
band-aligned row groups), the per-batch CC runs on the CONTRACTED
graph (component-representatives touched by new edges, not the
corpus), and the labels snapshot is HASH-BUCKETED behind
``buckets=N`` (VERDICT r9 #7): each bucket keeps its own version
chain (the store ``labels/b=K``), a batch computes only the CHANGED rows
(cluster.connected_components_incremental_delta) and rewrites the
buckets holding them — every other bucket's files are untouched.
``buckets=1`` (default) keeps the flat whole-directory versions for
auditability (the upsert.py trade). A crash between bucket writes
can leave buckets at mixed versions for one batch; each bucket's
version is individually atomic (a commit marker) and replaying the
batch converges, so the window closes on restart — a strict batch-id
ledger (streaming/exactly_once.py) removes even that window.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_misc_tools_spark.sources import fs as _fsh
from data_misc_tools_spark.streaming.upsert import _commit, _committed, _snapshot


# Edge-log path -> schema of the (doc_a, doc_b) rows written there. A
# module dict, not per session: foreachBatch hands every micro-batch a
# new Python SparkSession (the streaming/upsert.py ``_SCHEMAS`` memo).
_EDGE_SCHEMAS: dict[str, StructType] = {}


def _bucket_dirs(spark: SparkSession, labels_path: str) -> list[str]:
    """``b=K`` stores of a bucketed labels store, as ``labels_path/b=K``
    (empty list for the flat layout or a missing store)."""
    return sorted(
        f"{labels_path}/{e['path'].rsplit('/', 1)[-1]}"
        for e in _fsh.glob(spark, _fsh.escape_glob(labels_path) + "/b=*")
    )


def read_labels(spark: SparkSession, state_path: str) -> DataFrame | None:
    """Current committed (node, component) snapshot, None before the
    first batch. Layout-aware: a bucketed store (``labels/b=K``) reads
    the union of each bucket's current version; the flat store reads
    ``labels``'s. Starts no Spark job for versions this process wrote
    or read (streaming/upsert.py ``_snapshot``)."""
    labels_path = f"{state_path}/labels"
    parts = [
        snap
        for p in _bucket_dirs(spark, labels_path) or [labels_path]
        if (snap := _snapshot(spark, p, _committed(spark, p))) is not None
    ]
    return reduce(DataFrame.unionByName, parts) if parts else None


def read_edges(spark: SparkSession, state_path: str) -> DataFrame | None:
    """The accumulated candidate-edge log (doc_a < doc_b, may hold
    cross-batch duplicates — distinct at read time). Read with the
    schema the sink wrote (``_EDGE_SCHEMAS``), so it starts no footer
    job in the process that ran the sink; elsewhere the first read
    infers it once."""
    p = f"{state_path}/edges"
    if not _fsh.exists(spark, p):
        return None
    schema = _EDGE_SCHEMAS.get(p)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(_fsh.escape_glob(p))
    _EDGE_SCHEMAS[p] = df.schema
    return df.select("doc_a", "doc_b").distinct()


class IncrementalDedupSink:
    """foreachBatch handler maintaining a persisted MinHash index,
    versioned CC labels, and a candidate-edge log."""

    def __init__(
        self,
        index_path: str,
        state_path: str,
        num_perm: int = 8,
        k: int = 5,
        bands: int = 4,
        text_col: str = "text",
        id_col: str = "doc_id",
        portable_hash: bool = False,
        keep_versions: int = 2,
        buckets: int = 1,
    ) -> None:
        if buckets < 1:
            raise ValueError(f"buckets must be >= 1, got {buckets}")
        self.buckets = buckets
        self.index_path = index_path
        self.state_path = state_path
        self.kw = dict(
            num_perm=num_perm,
            k=k,
            bands=bands,
            text_col=text_col,
            id_col=id_col,
            portable_hash=portable_hash,
        )
        self.id_col = id_col
        self.text_col = text_col
        self.keep_versions = keep_versions

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from data_misc_tools_spark.operators import dedup as D
        from data_misc_tools_spark.operators.cluster import (
            connected_components,
            connected_components_incremental,
        )

        spark = batch.sparkSession
        b = batch.select(self.id_col, self.text_col)
        # hash the batch ONCE (r10): the three consumers (internal
        # pairs, index query, index append) all need the same band
        # table, and the md5/xxhash shingle pass is the dominant
        # per-batch compute — the r9 shape re-ran it per consumer
        # (3x). Pinning the bands also pins the batch read, so the
        # separate batch checkpoint is gone too. The empty-batch guard
        # reads the PINNED frame (r11): the old ``batch.take(1)``
        # pre-check was a second job over the batch source per
        # micro-batch; hashing an empty batch is free. Every doc with
        # len(text) >= k yields >= 1 band row; shorter docs are invisible
        # to the pipeline in either form, so they may return here too.
        bands_b = D.minhash_band_table(b, **self.kw).localCheckpoint()
        if not bands_b.take(1):
            return

        internal = D.candidate_pairs_from_bands(bands_b, id_col=self.id_col)
        edges = internal
        if _fsh.exists(spark, self.index_path):
            vs = D.minhash_index_query_bands(
                bands_b, self.index_path, id_col=self.id_col
            ).select(
                F.least("batch_id", "index_id").alias("doc_a"),
                F.greatest("batch_id", "index_id").alias("doc_b"),
            )
            edges = internal.unionByName(vs)
        edges = edges.distinct().localCheckpoint()

        labels_path = f"{self.state_path}/labels"
        if self.buckets == 1:
            committed = _committed(spark, labels_path)
            cur = _snapshot(spark, labels_path, committed)
            if cur is None:
                labels = connected_components(edges, src="doc_a", dst="doc_b")
            else:
                labels = connected_components_incremental(
                    cur, edges, src="doc_a", dst="doc_b"
                )
            _commit(labels, labels_path, committed, self.keep_versions)
        else:
            self._write_bucketed(spark, read_labels(spark, self.state_path), edges)

        edges.write.mode("append").parquet(f"{self.state_path}/edges")
        _EDGE_SCHEMAS[f"{self.state_path}/edges"] = edges.schema
        D.minhash_index_append_bands(bands_b, self.index_path)

    def _write_bucketed(self, spark, cur: DataFrame | None, edges: DataFrame) -> None:
        """Rewrite ONLY the buckets holding changed rows (the 100 TB
        labels-store step): delta = relabeled + first-seen nodes from
        cluster.connected_components_incremental_delta; bucket =
        pmod(node, buckets) — deterministic and engine-portable, no
        hash function in the layout contract."""
        from data_misc_tools_spark.operators.cluster import (
            connected_components,
            connected_components_incremental_delta,
        )

        if cur is None:
            delta = connected_components(edges, src="doc_a", dst="doc_b")
        else:
            delta = connected_components_incremental_delta(
                cur, edges, src="doc_a", dst="doc_b"
            )
        delta = delta.withColumn(
            "__b", F.pmod(F.col("node"), F.lit(self.buckets))
        ).localCheckpoint()
        touched = sorted(
            r["__b"] for r in delta.select("__b").distinct().collect()
        )
        for k in touched:
            bdir = f"{self.state_path}/labels/b={k}"
            delta_k = delta.filter(F.col("__b") == k).select(
                "node", "component"
            )
            committed = _committed(spark, bdir)
            old_k = _snapshot(spark, bdir, committed)
            if old_k is None:
                new_k = delta_k
            else:
                new_k = old_k.join(
                    F.broadcast(delta_k.select("node")), "node", "left_anti"
                ).unionByName(delta_k)
            _commit(new_k, bdir, committed, self.keep_versions)


def incremental_dedup_stream(
    docs: DataFrame,
    index_path: str,
    state_path: str,
    checkpoint: str,
    **params,
):
    """Wire a streaming documents source into an IncrementalDedupSink
    with an availableNow trigger; returns the started StreamingQuery."""
    sink = IncrementalDedupSink(index_path, state_path, **params)
    return (
        docs.writeStream.foreachBatch(sink.process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
