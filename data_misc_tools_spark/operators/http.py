"""HTTP enrichment: the one HTTP client core and the batch operators.

Reference surface: scalar ``http_get``/``http_post`` UDFs and
``t_http_get``/``t_http_post`` UDTFs that share one client per task and
append a context column to every output row (reference:
hive-udfs/.../http/UDFHttpGet.java:97, http/UDTFHttpGet.java:29-105,
commons/UDTFExt.java:22-36). The reference's README calls a client per
row an anti-pattern (README.md:96-105).

Every HTTP request of the engine goes through :class:`HttpClient`: one
persistent HTTP/1.1 connection per thread and per (scheme, host, port),
opened on first use and closed by ``close`` at task end. Its users
each hold one client per task:

- the batch operators below run via ``mapInPandas`` — one Arrow batch
  iterator per partition, with one client and one thread pool opened
  before the first batch and closed in a ``finally``; "ctx"
  passthrough is free: all input columns are carried through to the
  output schema unchanged, with the response struct appended;
- the SQL ``http_get``/``http_post`` scalar pandas UDFs
  (functions.registry) and the SQL table function ``t_http_get``
  (functions.tablefuncs, a SQL function over a deterministic pandas
  UDF), all through :func:`request_batches`, which holds a thread pool
  as well;
- the SQL ``t_http_post`` Python UDTF (functions.tablefuncs), one
  request at a time.

Error channel parity: failures become data rows ``(code=-1, headers
NULL, content=<error message>)``, never task failures (reference:
hive-udfs/.../http/HttpHelper.java:53-59). Non-2xx answers are data
rows with their real code.

Retries: none, except that a GET whose reused keep-alive connection
turns out closed by the server is sent once more on a new connection.
A POST is never sent twice. GET follows up to 10 redirects; a POST
returns the 3xx as its row. Proxy environment variables are ignored:
every request connects to the URL's host directly.

At 100 TB scale: HTTP calls are the bottleneck, not Spark — the
operator exposes ``concurrency`` (threads per partition) and callers
control total parallelism with ``df.repartition(n)``. Each call runs
with a timeout, so a dead endpoint degrades to error rows instead of
hanging executors.
"""

from __future__ import annotations

import http.client
import json
import select
import ssl
import threading
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from itertools import repeat
from urllib.parse import urljoin, urlsplit

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# The one (code, headers, content) result type of every HTTP path: the
# operators here, the t_http_* table functions and the http_get/http_post
# UDFs.
HTTP_RESULT_TYPE = StructType([
    StructField("code", IntegerType()),
    StructField("headers", MapType(StringType(), StringType())),
    StructField("content", StringType()),
])

DEFAULT_TIMEOUT_MS = 3000
DEFAULT_CONCURRENCY = 8  # threads per task
_MAX_REDIRECTS = 10  # as urllib's HTTPRedirectHandler
_REDIRECT_CODES = frozenset((301, 302, 303, 307, 308))
_USER_AGENT = "data-misc-tools-spark"

Result = tuple[int, dict[str, str] | None, str | None]


class HttpClient:
    """Keep-alive HTTP/1.1 client shared by the threads of one task.

    Each thread gets its own persistent connection per (scheme, host,
    port), opened lazily; ``close`` closes every connection the client
    opened (the client stays usable and reconnects on demand). HTTPS
    uses the default certificate verification. :meth:`request` never
    raises: a failure is a ``(-1, None, message)`` row.
    """

    def __init__(self) -> None:
        self._local = threading.local()
        self._lock = threading.Lock()
        self._opened: list[http.client.HTTPConnection] = []
        self._tls: ssl.SSLContext | None = None

    def __enter__(self) -> HttpClient:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def close(self) -> None:
        with self._lock:
            for conn in self._opened:
                conn.close()

    def request(
        self,
        method: str,
        url: str | None,
        timeout_ms: int = DEFAULT_TIMEOUT_MS,
        headers: dict[str, str] | None = None,
        body: str | None = None,
    ) -> Result:
        """One request → ``(code, headers, content)``; errors are data."""
        if url is None:
            return (-1, None, "null url")
        hdrs = {"User-Agent": _USER_AGENT, **(headers or {})}
        data = None
        if body is not None:
            data = body.encode("utf-8")
            if not any(k.lower() == "content-type" for k in hdrs):
                hdrs["Content-Type"] = "application/x-www-form-urlencoded"  # as urllib
        try:
            for _ in range(_MAX_REDIRECTS + 1):
                code, rh, content = self._send(method, url, timeout_ms / 1000.0, hdrs, data)
                location = rh.get("Location")
                if method != "GET" or code not in _REDIRECT_CODES or location is None:
                    break
                url = urljoin(url, location)
            return (code, dict(rh.items()), content.decode("utf-8", errors="replace"))
        except Exception as e:  # connection errors -> error-as-data row
            return (-1, None, f"{type(e).__name__}: {e}")

    def _send(self, method, url, timeout_s, headers, data):
        parts = urlsplit(url)
        if parts.scheme not in ("http", "https") or not parts.hostname:
            raise ValueError(f"unsupported URL {url!r}")
        target = (parts.path or "/") + (f"?{parts.query}" if parts.query else "")
        key = (parts.scheme, parts.hostname, parts.port)
        while True:
            conn = self._connection(key, timeout_s)
            reused = conn.sock is not None
            try:
                conn.request(method, target, body=data, headers=headers)
                resp = conn.getresponse()
                return resp.status, resp.headers, resp.read()
            except ConnectionError:
                conn.close()
                # The server closed a reused connection before answering:
                # a GET is sent once more, on a new connection (which is
                # not reused, so there is no third try); a POST never is.
                if not (reused and method == "GET"):
                    raise
            except BaseException:
                conn.close()
                raise

    def _connection(self, key: tuple, timeout_s: float) -> http.client.HTTPConnection:
        conns = getattr(self._local, "conns", None)
        if conns is None:
            conns = self._local.conns = {}
        conn = conns.get(key)
        if conn is None:
            scheme, host, port = key
            if scheme == "https":
                if self._tls is None:
                    self._tls = ssl.create_default_context()
                conn = http.client.HTTPSConnection(host, port, context=self._tls)
            else:
                conn = http.client.HTTPConnection(host, port)
            conns[key] = conn
            with self._lock:
                self._opened.append(conn)
        elif conn.sock is not None and select.select([conn.sock], [], [], 0)[0]:
            # An idle keep-alive socket is readable only when the server
            # closed it (or broke protocol): open a new one before sending.
            conn.close()
        conn.timeout = timeout_s
        if conn.sock is not None:
            conn.sock.settimeout(timeout_s)
        return conn


def http_call_once(
    method: str,
    url: str | None,
    timeout_ms: int = DEFAULT_TIMEOUT_MS,
    headers: dict[str, str] | None = None,
    body: str | None = None,
) -> Result:
    """One request on a connection of its own, closed after the call."""
    with HttpClient() as client:
        return client.request(method, url, timeout_ms, headers, body)


def request_headers_json(
    client: HttpClient,
    method: str,
    url: str | None,
    timeout_ms: int = DEFAULT_TIMEOUT_MS,
    headers_json: str | None = None,
    body: str | None = None,
) -> Result:
    """``client.request`` with the headers given as a JSON object string
    (NULL or empty: none); any other string is a ``(-1, None, "bad
    headers_json: ...")`` row and sends nothing."""
    headers = None
    if headers_json:
        try:
            headers = {str(k): str(v) for k, v in json.loads(headers_json).items()}
        except (ValueError, AttributeError) as e:  # not JSON / not an object
            return (-1, None, f"bad headers_json: {e}")
    return client.request(method, url, timeout_ms, headers, body)


def _request_all(
    client, pool, method, urls, timeouts, headers, bodies, send=HttpClient.request
) -> list[Result]:
    return list(pool.map(lambda a: send(client, method, *a), zip(urls, timeouts, headers, bodies)))


def request_batches(method: str, batches: Iterator, headers_json: bool = False) -> Iterator:
    """Body of the scalar-iterator pandas UDFs ``http_get(url[, timeout[,
    headers]])`` and ``http_post(url[, timeout[, headers[, content]]])``,
    and of the GET UDF under SQL ``t_http_get`` (``headers_json``: the
    headers argument is a JSON object string, see
    :func:`request_headers_json`): each batch of argument Series becomes
    a DataFrame of ``HTTP_RESULT_TYPE`` rows, on one client and one
    thread pool per task. A NULL (or 0) timeout means
    ``DEFAULT_TIMEOUT_MS``."""
    import pandas as pd

    max_args = 4 if method == "POST" else 3
    send = request_headers_json if headers_json else HttpClient.request
    with HttpClient() as client, ThreadPoolExecutor(DEFAULT_CONCURRENCY) as pool:
        for cols in batches:
            cols = (cols,) if isinstance(cols, pd.Series) else tuple(cols)
            if len(cols) > max_args:
                raise TypeError(f"http_{method.lower()} takes at most {max_args} arguments")
            n = len(cols[0])
            urls, timeouts, headers, bodies = [c.tolist() for c in cols] + [[None] * n] * (4 - len(cols))
            # NaN (a NULL in a nullable integer column) != NaN
            timeouts = [int(t) if t and t == t else DEFAULT_TIMEOUT_MS for t in timeouts]
            results = _request_all(client, pool, method, urls, timeouts, headers, bodies, send)
            yield pd.DataFrame(results, columns=[f.name for f in HTTP_RESULT_TYPE.fields])


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
        # one client + pool per partition == the reference's one-client-per-task
        with HttpClient() as client, ThreadPoolExecutor(max_workers=concurrency) as pool:
            for pdf in batches:
                urls = pdf[url_col].tolist()
                hdrs = pdf[headers_col].tolist() if headers_col else repeat(None)
                bodies = pdf[body_col].tolist() if body_col else repeat(None)
                results = _request_all(
                    client, pool, method, urls, repeat(timeout_ms), hdrs, bodies
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
    timeout_ms: int = DEFAULT_TIMEOUT_MS,
    concurrency: int = DEFAULT_CONCURRENCY,
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
    timeout_ms: int = DEFAULT_TIMEOUT_MS,
    concurrency: int = DEFAULT_CONCURRENCY,
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
