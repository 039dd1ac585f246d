"""SQL-callable table functions.

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

- ``t_http_get`` is a Spark 4 SQL table function (``CREATE TEMPORARY
  FUNCTION ... RETURNS TABLE``) whose body calls one deterministic
  scalar-iterator pandas UDF. Catalyst inlines the body and
  decorrelates the LATERAL join into one ``ArrowEvalPython`` over the
  outer rows, so the GETs run in Arrow batches through
  ``operators.http.request_batches``: one keep-alive client and
  ``DEFAULT_CONCURRENCY`` threads per task, as for ``http_get``. A
  Python UDTF cannot batch on Spark 4.1: under LATERAL its ``eval``
  runs once per row and the worker consumes each row's output before
  it reads the next row, so the requests of a task cannot overlap;
  ``@arrow_udtf`` is refused under LATERAL
  (``LATERAL_JOIN_WITH_ARROW_UDTF_UNSUPPORTED``), and rows yielded
  from ``terminate`` join the last input row.
- ``t_http_get`` is deterministic, a departure from the reference's
  ``deterministic=false``: GET is safe and idempotent (RFC 9110 §9.2),
  and only a deterministic call lets Catalyst push a filter or a limit
  on the outer table below it — an outer ``WHERE id < 10`` or
  ``LIMIT 10`` over 1,000 rows sends 10 requests instead of 1,000. The
  price is that a CTE referenced twice is inlined twice and sends its
  GETs twice.
- ``t_http_post`` stays a nondeterministic Python UDTF, one request at
  a time on one keep-alive ``operators.http.HttpClient`` per task: a
  SQL table function over a nondeterministic UDF fails analysis under
  LATERAL (``NON_DETERMINISTIC_LATERAL_SUBQUERIES``), and a POST must
  not be marked deterministic, so that it is sent exactly as often as
  the query reads the CTE (once). ``jd_keys``, ``jd_mget`` and
  ``zk_read`` are nondeterministic Python UDTFs too.
- One UDTF class instance is created per task, so instance state
  gives the reference's one-client-per-task amortization: the
  ``t_http_post`` client is created in ``__init__``, the
  Redis/ZooKeeper clients open lazily on first ``eval``, and every
  client is closed in ``cleanup``, which PySpark runs in a ``finally``
  after ``terminate``, so also when evaluation fails.
- Connectivity is factory-injected at registration (the pydatasource
  idiom): HTTP needs none; Redis/ZooKeeper functions are registered
  only when a client factory is supplied (real clients are
  import-gated on redis/kazoo, absent in this sandbox — the
  file-backed/in-memory fakes in testing/ keep the executor-side
  plumbing real).
- Errors become data rows ``(code=-1, content=<message>)``, never task
  failures (reference: http/HttpHelper.java:53-59).
"""

from collections.abc import Callable, Iterator

from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf

from data_misc_tools_spark.operators.http import (
    DEFAULT_TIMEOUT_MS,
    HTTP_RESULT_TYPE,
    HttpClient,
    request_batches,
    request_headers_json,
)

# The GET UDF under t_http_get, and t_http_get itself: one row
# (code, headers, content) per call.
_GET_BATCH_UDF = "_t_http_get_batch"
_T_HTTP_GET_DDL = f"""
CREATE OR REPLACE TEMPORARY FUNCTION t_http_get(
    url STRING,
    timeout_ms INT DEFAULT {DEFAULT_TIMEOUT_MS},
    headers_json STRING DEFAULT NULL)
RETURNS TABLE (code INT, headers MAP<STRING,STRING>, content STRING)
RETURN SELECT r.code, r.headers, r.content
FROM (SELECT {_GET_BATCH_UDF}(url, timeout_ms, headers_json) AS r)
"""


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
            yield request_headers_json(
                self._client, "POST", url, timeout_ms or DEFAULT_TIMEOUT_MS, headers_json, body
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

        def cleanup(self) -> None:
            if self._client is not None:
                self._client.close()

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

        def cleanup(self) -> None:
            if self._client is not None:
                self._client.close()

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

        def cleanup(self) -> None:
            if self._client is not None:
                self._client.close()

    return udtf(ZkRead, returnType="p string, v string")


def register_http_table_functions(spark: SparkSession) -> None:
    """Register ``t_http_get`` (a SQL function over a deterministic GET
    pandas UDF) and ``t_http_post`` (a Python UDTF) as SQL table
    functions (no connectivity needed until first call)."""
    # Local import: the type hints below are evaluated here, and pandas
    # is loaded only by sessions that register the functions.
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def get_batch(batches: Iterator[tuple[pd.Series, ...]]) -> Iterator[pd.DataFrame]:
        return request_batches("GET", batches, headers_json=True)

    spark.udf.register(_GET_BATCH_UDF, pandas_udf(get_batch, HTTP_RESULT_TYPE))
    spark.sql(_T_HTTP_GET_DDL)
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
