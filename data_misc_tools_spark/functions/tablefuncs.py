"""SQL-callable table functions (PySpark 4.1 ``@udtf``).

The reference's headline UX is calling its UDTFs inside SQL with
lateral-view fan-out — ``SELECT ... FROM t LATERAL VIEW
t_http_get(ctx, url) r`` (reference: README.md:119-126,
commons/UDTFExt.java:22-36, redis/UDTFJedisKeys.java:38-48). The
DataFrame-level operators (operators/http.py, operators/redis_ops.py,
operators/zookeeper.py) are this repo's bulk path; the functions here
close the SQL surface so the same calls work verbatim from
``spark.sql``:

    SELECT o.id, h.code, h.content
    FROM orders o, LATERAL t_http_get(o.url) h

Spark's LATERAL join carries every input column through — the
reference's explicit "ctx" passthrough column comes free, and named
arguments work (``t_http_get(url => u, timeout_ms => 500)``).

Design notes:

- Python UDTFs evaluate ROW-AT-A-TIME in a Python worker — the slow
  path by this repo's own standards, and exactly the per-row semantic
  of the reference's Hive UDTFs. Bulk enrichment should use the
  mapInPandas operators (one client + thread pool per partition);
  these bindings exist for SQL ergonomics and small/medium fan-outs.
- One UDTF class instance is created per task, so instance state
  gives the reference's one-client-per-task amortization: the HTTP
  functions hold one keep-alive ``operators.http.HttpClient``, created
  in ``__init__`` and closed in ``cleanup`` (which PySpark runs in a
  ``finally`` after ``terminate``, so also when evaluation fails); the
  Redis/ZooKeeper clients open lazily on first ``eval``.
- Connectivity is factory-injected at registration (the pydatasource
  idiom): HTTP needs none; Redis/ZooKeeper functions are registered
  only when a client factory is supplied (real clients are
  import-gated on redis/kazoo, absent in this sandbox — the
  file-backed/in-memory fakes in testing/ keep the executor-side
  plumbing real).
- Python UDTFs are nondeterministic by DEFAULT in Spark 4.1 (the API
  offers ``asDeterministic``, not the reverse). ``t_http_get`` alone is
  marked deterministic, a departure from the reference's
  ``deterministic=false``: GET is safe and idempotent (RFC 9110 §9.2),
  and only a deterministic UDTF lets Catalyst push a filter on the
  outer table below the LATERAL join — an outer ``WHERE id < 10`` over
  1,000 rows sends 10 requests instead of 1,000. The price is that a
  CTE referenced twice is inlined twice and sends its GETs twice.
  ``t_http_post`` stays nondeterministic, so a POST is sent exactly as
  often as the query reads the CTE (once), and so do ``jd_keys``,
  ``jd_mget`` and ``zk_read``. Errors become data rows
  ``(code=-1, content=<message>)``, never task failures
  (reference: http/HttpHelper.java:53-59).
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf

from data_misc_tools_spark.operators.http import (
    DEFAULT_TIMEOUT_MS,
    HTTP_RESULT_TYPE,
    HttpClient,
)


def _parse_headers(headers_json: str | None) -> dict[str, str] | None:
    if not headers_json:
        return None
    return {str(k): str(v) for k, v in json.loads(headers_json).items()}


def make_http_get_udtf():
    """UDTF class for ``t_http_get(url[, timeout_ms[, headers_json]])``
    → one row ``(code, headers, content)`` per call; deterministic (see
    the module docstring)."""

    class THttpGet:
        def __init__(self) -> None:
            self._client = HttpClient()

        def eval(
            self,
            url: str,
            timeout_ms: int = DEFAULT_TIMEOUT_MS,
            headers_json: str | None = None,
        ):
            try:
                hdrs = _parse_headers(headers_json)
            except Exception as e:  # bad headers JSON -> error-as-data
                yield (-1, None, f"bad headers_json: {e}")
                return
            yield self._client.request("GET", url, timeout_ms or DEFAULT_TIMEOUT_MS, hdrs)

        def cleanup(self) -> None:
            self._client.close()

    return udtf(THttpGet, returnType=HTTP_RESULT_TYPE).asDeterministic()


def make_http_post_udtf():
    """UDTF class for ``t_http_post(url, body[, timeout_ms[,
    headers_json]])`` → one row ``(code, headers, content)``."""

    class THttpPost:
        def __init__(self) -> None:
            self._client = HttpClient()

        def eval(
            self,
            url: str,
            body: str | None = None,
            timeout_ms: int = DEFAULT_TIMEOUT_MS,
            headers_json: str | None = None,
        ):
            try:
                hdrs = _parse_headers(headers_json)
            except Exception as e:
                yield (-1, None, f"bad headers_json: {e}")
                return
            yield self._client.request(
                "POST", url, timeout_ms or DEFAULT_TIMEOUT_MS, hdrs, body
            )

        def cleanup(self) -> None:
            self._client.close()

    return udtf(THttpPost, returnType=HTTP_RESULT_TYPE)


def make_jd_keys_udtf(client_factory: Callable[[], object]):
    """UDTF for ``jd_keys(pattern)`` → one row ``(k)`` per matching
    key (reference: redis/UDTFJedisKeys.java:38-48 — the 1→N key
    listing). SCAN-based (scan_iter), never the blocking KEYS, so a
    100 TB-era keyspace streams instead of materializing server-side.
    """

    class JdKeys:
        def __init__(self) -> None:
            self._client = None

        def eval(self, pattern: str):
            if self._client is None:  # lazy: one client per partition
                self._client = client_factory()
            for k in self._client.scan_iter(match=pattern):
                yield (k,)

        def terminate(self):
            if self._client is not None:
                try:
                    self._client.close()
                except Exception:
                    pass

    return udtf(JdKeys, returnType="k string")


def make_jd_mget_udtf(client_factory: Callable[[], object]):
    """UDTF for ``jd_mget(ks)`` (array of keys) → one row ``(k, v)``
    per key — the reference's 1→N fan-out form
    (redis/UDTFJedisMGet-style; missing keys yield NULL v)."""

    class JdMget:
        def __init__(self) -> None:
            self._client = None

        def eval(self, ks: list | None):
            if not ks:
                return
            if self._client is None:
                self._client = client_factory()
            vals = self._client.mget(list(ks))
            for k, v in zip(ks, vals):
                yield (k, v)

        def terminate(self):
            if self._client is not None:
                try:
                    self._client.close()
                except Exception:
                    pass

    return udtf(JdMget, returnType="k string, v string")


def make_zk_read_udtf(client_factory: Callable[[], object]):
    """UDTF for ``zk_read(paths_csv)`` → one row ``(p, v)`` per znode
    under the given comma-separated subtree roots, DFS order with
    overlapping roots merged (reference:
    zookeeper/ZooKeeperHelper.java:17-22 row shape; the planner-level
    twin is ``spark.read.format("zktree")``)."""

    class ZkRead:
        def __init__(self) -> None:
            self._client = None

        def eval(self, paths_csv: str):
            from data_misc_tools_spark.operators.zookeeper import read_tree

            if self._client is None:
                self._client = client_factory()
            paths = [p for p in (paths_csv or "").split(",") if p]
            if not paths:
                return
            for p, v in read_tree(self._client, *paths):
                yield (p, v)

    return udtf(ZkRead, returnType="p string, v string")


def register_http_table_functions(spark: SparkSession) -> None:
    """Register ``t_http_get`` / ``t_http_post`` as SQL table
    functions (no connectivity needed until first call)."""
    spark.udtf.register("t_http_get", make_http_get_udtf())
    spark.udtf.register("t_http_post", make_http_post_udtf())


def register_redis_table_functions(
    spark: SparkSession, client_factory: Callable[[], object]
) -> None:
    """Register ``jd_keys`` / ``jd_mget`` bound to ``client_factory``
    (zero-arg, cloudpickle-able — e.g.
    ``operators.redis_ops.redis_client_factory(url)`` or
    ``testing.fakeredis.fake_redis_factory(path)``)."""
    spark.udtf.register("jd_keys", make_jd_keys_udtf(client_factory))
    spark.udtf.register("jd_mget", make_jd_mget_udtf(client_factory))


def register_zk_table_functions(
    spark: SparkSession, client_factory: Callable[[], object]
) -> None:
    """Register ``zk_read`` bound to ``client_factory`` (zero-arg,
    returning a ``ZKClient`` — kazoo_client(...) or a FakeZK lambda)."""
    spark.udtf.register("zk_read", make_zk_read_udtf(client_factory))
