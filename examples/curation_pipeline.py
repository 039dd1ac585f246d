"""Runnable web-crawl curation walkthrough.
`python examples/curation_pipeline.py [sf_dir]`.

The round-4 operator suite composed the way a pretraining-data build
uses it:

  WARC crawl shards  ->  URL canonical dedup  ->  Luhn card PII gate
    ->  quality + Gopher filters  ->  semantic dedup (embeddings)
    ->  semantic decontamination  ->  contrastive negatives
    ->  compacted parquet + fingerprint audit

Every stage prints its attrition so the whole funnel reads as one
report. Stages are the same oracle-checked operators the catalog
grades; this script only composes them.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import functions as F

    from data_misc_tools_spark.operators import similarity as S
    from data_misc_tools_spark.operators.contamination import (
        semantic_contamination,
    )
    from data_misc_tools_spark.operators.etl import dataset_fingerprint
    from data_misc_tools_spark.operators.layout import compact_parquet
    from data_misc_tools_spark.operators.sampling import negative_samples
    from data_misc_tools_spark.operators.text import (
        card_scan,
        gopher_filter,
        quality_features,
    )
    from data_misc_tools_spark.operators.web import canonical_url
    from data_misc_tools_spark.session import build_session, load_tables
    from data_misc_tools_spark.sources.pydatasource import register_python_datasources
    from data_misc_tools_spark.sources.warc import warc_write_records

    spark = build_session(app_name="curation-demo")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]

    # -- 0. stand-in crawl: write the docs as a real WARC shard and
    #       read them back through the planner source
    shard_dir = tempfile.mkdtemp(prefix="crawl_")
    rows = docs.select("doc_id", "text").orderBy("doc_id").collect()
    warc_write_records(
        f"{shard_dir}/shard-000.warc.gz",
        [("response", f"https://site{r.doc_id % 100}.example.com/p/{r.doc_id}"
          f"?utm_source=feed", r.text.encode("utf-8")) for r in rows],
    )
    register_python_datasources(spark)
    crawl = (
        spark.read.format("warc").load(shard_dir)
        .select(
            F.regexp_extract("target_uri", r"/p/(\d+)", 1).cast("long").alias("doc_id"),
            "target_uri",
            F.decode("content", "UTF-8").alias("text"),
        )
    )
    n0 = crawl.count()
    print(f"crawl records:              {n0}")

    # -- 1. exact URL dedup on the canonical form
    with_canon = crawl.withColumn("canon", canonical_url("target_uri"))
    first = with_canon.groupBy("canon").agg(F.min("doc_id").alias("doc_id"))
    url_deduped = with_canon.join(first, ["canon", "doc_id"]).select("doc_id", "text")
    print(f"after URL canonical dedup:  {url_deduped.count()}")

    # -- 2. Luhn-validated card-number gate
    carded = card_scan(url_deduped).where("luhn").select("doc_id").distinct()
    pii_clean = url_deduped.join(carded, "doc_id", "left_anti")
    print(f"after card PII gate:        {pii_clean.count()}")

    # -- 3. quality + Gopher rules
    q = quality_features(pii_clean).select("doc_id", "quality_score")
    keep_q = gopher_filter(pii_clean).where("keep").select("doc_id")
    quality_ok = pii_clean.join(keep_q, "doc_id").join(q, "doc_id")
    print(f"after Gopher rules:         {quality_ok.count()}")

    # -- 4. semantic dedup + decontamination over the embedding table
    ev = emb.where(F.col("vec_id") % 50 == 0)
    tr = emb.where(F.col("vec_id") % 50 != 0)
    sem_kept = S.semantic_dedup(tr, k_clusters=None, target_block=64,
                                threshold=0.3).where("keep")
    contaminated = semantic_contamination(tr, ev, threshold=0.3)
    survivors = (
        quality_ok
        .join(sem_kept.select(F.col("vec_id").alias("doc_id")), "doc_id")
        .join(contaminated.select(F.col("train_id").alias("doc_id")),
              "doc_id", "left_anti")
    )
    print(f"after semantic dedup+decon: {survivors.count()}")

    # -- 5. contrastive negatives for the survivors
    pos = survivors.select((F.col("doc_id") % 20).alias("query_id"),
                           F.col("doc_id").alias("pos_id"))
    negs = negative_samples(pos, n_items=n0, k=4)
    print(f"contrastive negatives:      {negs.count()}")

    # -- 6. write, compact, fingerprint
    out = tempfile.mkdtemp(prefix="curated_")
    survivors.repartition(16).write.mode("overwrite").parquet(f"{out}/frag")
    stats = compact_parquet(spark, f"{out}/frag", f"{out}/final", target_file_mb=128)
    fp = dataset_fingerprint(
        spark.read.parquet(f"{out}/final"), ["doc_id", "text"]
    ).collect()[0]
    print(f"compacted files:            {stats['files_before']} -> {stats['files_after']}")
    print(f"release fingerprint:        rows={fp.n_rows} fp={fp.fingerprint}")

    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
