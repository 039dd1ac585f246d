"""``http_enrich``: the connector layer.

Each call enriches one slice of seeded URL/body rows through one of the
four HTTP paths of the program, against the loopback stub of stub.py:

- ``op_get``    DataFrame ``t_http_get``          (operators.http)
- ``op_post``   DataFrame ``t_http_post``         (operators.http)
- ``udtf_get``  SQL ``LATERAL t_http_get`` UDTF   (functions.tablefuncs)
- ``udf_get``   scalar SQL ``http_get`` UDF       (functions.registry)

A round is one call on each path in a seed-shuffled order; every call uses
a slice of ``ROWS_PER_CALL`` rows that no other call of the run uses. The
set-up's warm-up calls take a tenth of a slice each: they warm the paths,
not the stub. Every returned row's code and content is checked against
``stub.respond``; a row that differs, is missing, or came back as an error
row (code -1) is a failed operation.

In traced rounds the stub's counters are reset before each call and read
right after it, so the stub metrics cover exactly the traced calls.
"""

from __future__ import annotations

import os
import random
from urllib.parse import urlsplit

from perfbench import common as C
from perfbench import datagen
from perfbench.stub import StubProcess, respond

# The paths were sized at 2,000 rows per call: 700-860 rows/s on the
# DataFrame path (about 1.5 s of fixed cost per call), 1,000-1,550 rows/s
# on the UDTF and 1,180-1,410 rows/s on the UDF, on a 4-core host.
ROWS_PER_CALL = 2_000
WARM_SLICES = len(C.HTTP_PATHS)  # slice i warms path i
SLICES = WARM_SLICES + 16  # calls past the last slice start over
ERR_SHARE = 0.05


class HttpEnrich(C.Workload):
    # One round is four calls of 2,000 rows, several seconds of calls.
    min_rounds = 1

    def prepare(self) -> None:
        self.stub = StubProcess(self.ctx.seed).__enter__()
        self.ctx.memory.exclude.add(self.stub.proc.pid)
        self.inputs = datagen.write_http_inputs(
            os.path.join(self.ctx.work, "http_urls"), self.ctx.seed, self.stub.base_url,
            SLICES, ROWS_PER_CALL, ERR_SHARE, self.ctx.nproc,
        )
        self.order = random.Random(self.ctx.seed)
        self.next_slice = WARM_SLICES
        self.results: list[tuple[str, int, list]] = []
        self.samples: dict[str, list[float]] = {p: [] for p in C.HTTP_PATHS}
        self.requests = self.connections = self.traced_rows = 0
        self.stub_cpu_s = self.stub_wall_s = 0.0
        self.service_ms: list[float] = []

    def __exit__(self, *exc) -> None:
        if getattr(self, "stub", None) is not None:
            self.stub.__exit__()

    def load(self, spark) -> None:
        from data_misc_tools_spark.session import read_parquet_table

        read_parquet_table(spark, os.path.join(self.ctx.work, "http_urls")).createOrReplaceTempView(
            "http_urls"
        )

    def _call(self, spark, path: str, where: str) -> list:
        """One call on ``path`` over the rows of ``http_urls`` that match
        the SQL predicate ``where``."""
        from pyspark.sql import functions as F

        from data_misc_tools_spark.operators.http import t_http_get, t_http_post

        urls = spark.table("http_urls").where(F.expr(where))
        out = ["row_id", "http_result.code", "http_result.content"]
        if path == "op_get":
            df = t_http_get(urls.select("row_id", "url"), "url").select(*out)
        elif path == "op_post":
            df = t_http_post(urls.select("row_id", "url", "body"), "url", "body").select(*out)
        elif path == "udtf_get":
            # The filter sits inside the subquery: written as an outer
            # WHERE, the UDTF runs on every row of http_urls before the
            # filter applies.
            df = spark.sql(
                "SELECT u.row_id, h.code, h.content FROM "
                f"(SELECT row_id, url FROM http_urls WHERE {where}) u, "
                "LATERAL t_http_get(u.url) h"
            )
        else:
            df = spark.sql(
                "SELECT row_id, r.code AS code, r.content AS content FROM "
                f"(SELECT row_id, http_get(url) AS r FROM http_urls WHERE {where})"
            )
        with self.tracer.span(f"http.{path}"):
            return df.collect()

    def warmup(self, spark) -> None:
        for s, path in enumerate(C.HTTP_PATHS):
            self._call(spark, path, f"slice = {s} AND row_id % 10 = 0")

    def run_round(self, spark, index: int, traced: bool) -> tuple[list[float], int]:
        paths = list(C.HTTP_PATHS)
        self.order.shuffle(paths)
        ops = []
        for path in paths:
            s = self.next_slice
            self.next_slice = WARM_SLICES + (s + 1 - WARM_SLICES) % (SLICES - WARM_SLICES)
            if traced:
                self.stub.reset()
            self.tracer.new_trace()  # one trace id per call
            with self.tracer.span("call") as span:
                try:
                    rows = self._call(spark, path, f"slice = {s}")
                except Exception as e:
                    rows = e
            ops.append(span.seconds)
            self.results.append((path, s, rows))
            if traced:
                stats = self.stub.stats()
                self.samples[path].append(span.seconds)
                self.requests += stats["requests"]
                self.connections += stats["connections"]
                self.stub_cpu_s += stats["cpu_s"]
                self.stub_wall_s += stats["wall_s"]
                self.service_ms.extend(stats["service_ms"])
                self.traced_rows += ROWS_PER_CALL
        return ops, ROWS_PER_CALL * len(paths)

    def check_after(self, spark) -> None:
        self.error_rows = 0
        for path, s, rows in self.results:
            ids = range(s * ROWS_PER_CALL, (s + 1) * ROWS_PER_CALL)
            if isinstance(rows, Exception):
                self.outcomes.fail(f"{path} slice {s}: {type(rows).__name__}: {rows}", len(ids))
                continue
            self.outcomes.ok(len(ids))
            got = {r[0]: (r[1], r[2]) for r in rows}
            bad = 0
            for i in ids:
                url, body = self.inputs[i]
                method = "POST" if path == "op_post" else "GET"
                want = respond(method, urlsplit(url).path, body.encode() if method == "POST" else b"")
                have = got.get(i)
                if have is not None and have[0] == -1:
                    self.error_rows += 1
                if have != want:
                    bad += 1
            bad = min(len(ids), bad + max(0, len(rows) - len(ids)))  # extra rows too
            if bad:
                self.outcomes.mismatch(f"{path} slice {s}: {bad} rows differ from the stub", bad)

    def per_layer(self, spark) -> dict[str, float]:
        return {
            **{f"http.{p}_s": C.median(v) for p, v in self.samples.items()},
            "http.error_rows": float(self.error_rows),
            "stub.connections_per_request": self.connections / self.requests,
            "stub.requests_per_row": self.requests / self.traced_rows,
            "stub.busy_frac": self.stub_cpu_s / self.stub_wall_s,
            "stub.service_p50_ms": C.median(self.service_ms),
        }
