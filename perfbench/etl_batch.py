"""``etl_batch``: the read-only Catalyst/operator/scan path.

Each round runs the catalog queries of common.ETL_QUERIES on seeded
tables, each written to the ``noop`` sink, in a seed-shuffled order. The
set-up's warm-up pass fetches each query's result; after set-up the
fetched results are compared with their DuckDB oracles in
``catalog.ORACLES`` (row count, column names and the order-insensitive
value hash of ``tools/check.py``).
"""

from __future__ import annotations

import os
import random

from perfbench import common as C
from perfbench import datagen

# Share of the sf0.1 test set's row counts; lineitem gets ~4x orders rows.
SCALE = 0.1
TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem", "events", "documents"]
# Tables each query reads, for rows_per_s (dedup_exact reads documents twice).
READS = {
    "q1_pricing_summary": ["lineitem"],
    "q3_shipping_priority": ["customer", "orders", "lineitem"],
    "q5_region_volume": ["region", "nation", "customer", "orders", "lineitem", "supplier"],
    "window_rank_orders": ["orders"],
    "sessionize_events": ["events"],
    "json_results_explode_demo": ["events"],
    "dedup_exact": ["documents", "documents"],
}


class EtlBatch(C.Workload):
    min_rounds = 5

    def prepare(self) -> None:
        self.data = os.path.join(self.ctx.work, "data")
        self.rows = datagen.write_tables(self.data, self.ctx.seed, SCALE)
        self.round_rows = sum(self.rows[t] for q in C.ETL_QUERIES for t in READS[q])
        self.order = random.Random(self.ctx.seed)
        self.samples: dict[str, list[float]] = {q: [] for q in C.ETL_QUERIES}
        self.construct: list[float] = []
        self.write: list[float] = []

    def load(self, spark) -> None:
        from data_misc_tools_spark.session import load_tables

        load_tables(spark, self.data, TABLES)

    def _run(self, spark, name: str) -> tuple[float, float]:
        """One query: (construct seconds, noop-write seconds)."""
        from data_misc_tools_spark.catalog import QUERIES

        with self.tracer.span(f"query.{name}"):
            with self.tracer.span("catalog.construct") as c:
                df = QUERIES[name](spark, self.data)
            with self.tracer.span("exec.noop_write") as w:
                df.write.format("noop").mode("overwrite").save()
        return c.seconds, w.seconds

    def warmup(self, spark) -> None:
        """One pass that fetches every query's result, which check_before
        compares with the oracles, and one pass to the noop sink: measured
        rounds that followed the fetch pass alone started 1.4x slower than
        later rounds."""
        from data_misc_tools_spark.catalog import QUERIES

        self.warm_results: dict[str, tuple[list[str], list[tuple]] | Exception] = {}
        for name in C.ETL_QUERIES:
            try:
                df = QUERIES[name](spark, self.data)
                self.warm_results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # reported as a failure by check_before
                self.warm_results[name] = e
        for name in C.ETL_QUERIES:
            self._run(spark, name)

    def check_before(self, spark) -> None:
        import duckdb

        from data_misc_tools_spark.catalog import ORACLES

        table_hash = C.repo_table_hash()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
        for name in C.ETL_QUERIES:
            got = self.warm_results[name]
            if isinstance(got, Exception):
                self.outcomes.fail(f"{name}: {type(got).__name__}: {got}")
                continue
            self.outcomes.ok()
            scols, srows = got
            rel = con.sql(ORACLES[name])
            ocols, orows = list(rel.columns), rel.fetchall()
            if sorted(scols) != sorted(ocols):
                self.outcomes.mismatch(f"{name}: columns {sorted(scols)} != {sorted(ocols)}")
            elif len(srows) != len(orows):
                self.outcomes.mismatch(f"{name}: {len(srows)} rows, oracle {len(orows)}")
            elif table_hash(scols, srows) != table_hash(ocols, orows):
                self.outcomes.mismatch(f"{name}: result hash differs from the oracle")
        con.close()

    def run_round(self, spark, index: int, traced: bool) -> tuple[list[float], int]:
        """The operation is the whole batch job: the median over single
        queries would jump between the levels of the seven different
        queries; their own times are the per-layer ``query.*`` metrics."""
        names = list(C.ETL_QUERIES)
        self.order.shuffle(names)
        construct = write = 0.0
        for name in names:
            try:
                c, w = self._run(spark, name)
            except Exception as e:
                self.outcomes.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            self.outcomes.ok()
            construct += c
            write += w
            if traced:
                self.samples[name].append(c + w)
        if traced:
            self.construct.append(construct)
            self.write.append(write)
        return [construct + write], self.round_rows

    def per_layer(self, spark) -> dict[str, float]:
        out = {f"query.{q}_s": C.median(s) for q, s in self.samples.items()}
        out["catalog.construct_s"] = C.median(self.construct)
        out["exec.noop_write_s"] = C.median(self.write)
        return out
