"""HTTP batch enrichment operators against the loopback echo server,
and the rules of the one HTTP client core (operators.http.HttpClient)."""

import contextlib
import datetime
import ssl
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyspark.sql.functions as F
import pytest

from data_misc_tools_spark.operators.http import (
    DEFAULT_CONCURRENCY,
    HttpClient,
    http_call_once,
    t_http_get,
    t_http_post,
)
from data_misc_tools_spark.testing import httpserver
from data_misc_tools_spark.testing.httpserver import ensure_echo_server


def _base(spark, port, n=5):
    return spark.range(n).select(
        F.col("id"),
        F.lit("ctx").alias("tag"),
        F.concat(F.lit(f"http://127.0.0.1:{port}/id-"), F.col("id")).alias("url"),
    )


def test_get_enrichment_and_ctx_passthrough(spark):
    port = ensure_echo_server()
    out = t_http_get(_base(spark, port), "url").orderBy("id").collect()
    assert len(out) == 5
    for row in out:
        assert row.tag == "ctx"  # every input column carried through
        assert row.http_result.code == 200
        assert row.http_result.content == f"id-{row.id}"
        assert "Content-Type" in row.http_result.headers


def test_post_body_roundtrip(spark):
    port = ensure_echo_server()
    df = _base(spark, port, 3).withColumn(
        "body", F.concat(F.lit("payload-"), F.col("id"))
    )
    out = t_http_post(df, "url", "body").orderBy("id").collect()
    for row in out:
        assert row.http_result.content == f"id-{row.id}|payload-{row.id}"


def test_error_as_data_never_fails_task(spark):
    port = ensure_echo_server()
    df = spark.createDataFrame(
        [
            (1, f"http://127.0.0.1:{port}/err/500"),
            (2, f"http://127.0.0.1:{port}/err/404"),
            (3, "http://127.0.0.1:9/refused"),
            (4, None),
        ],
        "id int, url string",
    )
    rows = {r.id: r.http_result for r in t_http_get(df, "url", timeout_ms=1000).collect()}
    assert rows[1].code == 500
    assert rows[2].code == 404
    assert rows[3].code == -1 and "refused" in rows[3].content.lower()
    assert rows[4].code == -1  # null url -> error row (not NPE)


def test_custom_headers_sent(spark):
    port = ensure_echo_server()
    df = spark.createDataFrame(
        [(1, f"http://127.0.0.1:{port}/h")], "id int, url string"
    ).withColumn("hdrs", F.create_map(F.lit("X-Tag"), F.lit("42")))
    out = t_http_get(df, "url", headers_col="hdrs").first()
    assert out.http_result.code == 200


# --- keep-alive: the echo server counts requests and connections ---


def test_one_partition_reuses_at_most_concurrency_connections(spark):
    port = ensure_echo_server()
    httpserver.reset()
    out = t_http_get(_base(spark, port, 50).coalesce(1), "url", concurrency=4).collect()
    assert sorted(r.http_result.content for r in out) == sorted(f"id-{i}" for i in range(50))
    stats = httpserver.stats()
    assert stats["requests"] == 50
    assert 1 <= stats["connections"] <= 4


def test_sql_t_http_get_one_partition_reuses_at_most_concurrency_connections(spark):
    port = ensure_echo_server()
    _base(spark, port, 40).coalesce(1).createOrReplaceTempView("ka_urls")
    httpserver.reset()
    rows = spark.sql(
        "SELECT t.id, h.code, h.content FROM ka_urls t, LATERAL t_http_get(t.url) h"
    ).collect()
    assert sorted((r.id, r.code, r.content) for r in rows) == [(i, 200, f"id-{i}") for i in range(40)]
    stats = httpserver.stats()
    assert stats["requests"] == 40
    assert 1 <= stats["connections"] <= DEFAULT_CONCURRENCY


def test_connection_close_response_is_handled(spark):
    port = ensure_echo_server()
    df = _base(spark, port, 20).coalesce(1).withColumn(
        "hdrs", F.create_map(F.lit("Connection"), F.lit("close"))
    )
    httpserver.reset()
    out = t_http_get(df, "url", headers_col="hdrs", concurrency=2).collect()
    assert all(r.http_result.code == 200 for r in out) and len(out) == 20
    assert httpserver.stats() == {"requests": 20, "connections": 20}


def test_client_shared_by_many_threads_tracks_every_connection():
    base = f"http://127.0.0.1:{ensure_echo_server()}"
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    httpserver.reset()
    try:
        with ThreadPoolExecutor(16) as pool:  # more threads than cores
            client = HttpClient()
            got = list(
                pool.map(lambda i: client.request("GET", f"{base}/s{i}"), range(400), timeout=120)
            )
        client.close()
    finally:
        sys.setswitchinterval(interval)
    assert [(c, t) for c, _, t in got] == [(200, f"s{i}") for i in range(400)]
    stats = httpserver.stats()
    assert stats["requests"] == 400 and 1 <= stats["connections"] <= 16
    # a lost append would leave a connection the client never closes
    assert len(client._opened) == stats["connections"]
    assert all(c.sock is None for c in client._opened)


# --- HttpClient rules, against scripted loopback servers ---


@contextlib.contextmanager
def _serve(handler, tls=None):
    """Run ``handler`` on a loopback ThreadingHTTPServer; yields its base URL
    and the server, whose ``log`` lists (connection no., method) per request."""
    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    srv.log, srv.conns = [], 0
    if tls is not None:
        srv.socket = tls.wrap_socket(srv.socket, server_side=True)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    scheme = "https" if tls is not None else "http"
    try:
        yield f"{scheme}://127.0.0.1:{srv.server_address[1]}", srv
    finally:
        srv.shutdown()
        srv.server_close()
        t.join(timeout=10)
        assert not t.is_alive()


class _Scripted(BaseHTTPRequestHandler):
    """Answers ``ok`` with keep-alive. ``drop`` decides, per request,
    whether to read it and close the connection without an answer;
    ``close_after`` closes the connection after answering without
    announcing it (an idle keep-alive socket the server times out)."""

    protocol_version = "HTTP/1.1"
    drop = staticmethod(lambda n_on_conn, method: False)
    close_after = False

    def setup(self):
        super().setup()
        self.server.conns += 1
        self.conn_no, self.n = self.server.conns, 0

    def _handle(self):
        self.n += 1
        self.server.log.append((self.conn_no, self.command))
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if self.drop(self.n, self.command):
            self.close_connection = True
            return
        self.send_response(200)
        self.send_header("Content-Length", "2")
        self.end_headers()
        self.wfile.write(b"ok")
        self.close_connection = self.close_after

    do_GET = do_POST = _handle

    def log_message(self, *args):
        pass


def test_get_reconnects_after_server_closed_idle_socket():
    class IdleClose(_Scripted):
        close_after = True

    with _serve(IdleClose) as (base, srv), HttpClient() as client:
        assert client.request("GET", base + "/a")[0] == 200
        time.sleep(0.2)  # the server has closed the idle connection
        assert client.request("GET", base + "/b")[::2] == (200, "ok")
        assert srv.log == [(1, "GET"), (2, "GET")]


def test_get_sent_once_more_when_reused_socket_drops_it():
    class DropSecond(_Scripted):
        drop = staticmethod(lambda n, method: n == 2)

    with _serve(DropSecond) as (base, srv), HttpClient() as client:
        assert client.request("GET", base + "/a")[0] == 200
        assert client.request("GET", base + "/b")[::2] == (200, "ok")
        # dropped on the reused connection 1, answered on a new one
        assert srv.log == [(1, "GET"), (1, "GET"), (2, "GET")]


def test_post_is_never_sent_twice():
    class DropPosts(_Scripted):
        drop = staticmethod(lambda n, method: method == "POST")

    with _serve(DropPosts) as (base, srv), HttpClient() as client:
        assert client.request("GET", base + "/a")[0] == 200
        code, headers, content = client.request("POST", base + "/p", body="x")
        assert code == -1 and headers is None and "RemoteDisconnected" in content
        assert [m for _, m in srv.log].count("POST") == 1  # on the reused socket
        assert client.request("POST", base + "/p", body="y")[0] == -1
        assert [m for _, m in srv.log].count("POST") == 2  # on a new socket


# --- behaviour the urllib-based client had ---


def test_get_follows_up_to_ten_redirects():
    base = f"http://127.0.0.1:{ensure_echo_server()}"
    with HttpClient() as client:
        assert client.request("GET", base + "/redirect/10/z")[::2] == (200, "z")
        code, headers, _ = client.request("GET", base + "/redirect/11/z")
        assert code == 302 and headers["Location"] == "/z"


def test_post_returns_the_redirect_as_its_row():
    base = f"http://127.0.0.1:{ensure_echo_server()}"
    code, headers, content = http_call_once("POST", base + "/redirect/1/z", body="b")
    assert (code, headers["Location"], content) == (302, "/z", "redirect/1/z|b")


def test_https_verifies_certificates_by_default(tmp_path):
    x509 = pytest.importorskip("cryptography.x509")
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import ec

    key = ec.generate_private_key(ec.SECP256R1())
    name = x509.Name([x509.NameAttribute(x509.oid.NameOID.COMMON_NAME, "127.0.0.1")])
    now = datetime.datetime.now(datetime.timezone.utc)
    cert = (
        x509.CertificateBuilder().subject_name(name).issuer_name(name)
        .public_key(key.public_key()).serial_number(1)
        .not_valid_before(now - datetime.timedelta(days=1))
        .not_valid_after(now + datetime.timedelta(days=1))
        .sign(key, hashes.SHA256())
    )
    pem = tmp_path / "self_signed.pem"
    pem.write_bytes(
        cert.public_bytes(serialization.Encoding.PEM)
        + key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.PKCS8,
            serialization.NoEncryption(),
        )
    )
    tls = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    tls.load_cert_chain(pem)

    with _serve(_Scripted, tls) as (base, srv), HttpClient() as client:
        code, _, content = client.request("GET", base + "/x", timeout_ms=2000)
        assert code == -1 and "CERTIFICATE_VERIFY_FAILED" in content
        assert srv.log == []  # no request was sent over the unverified channel


def test_proxy_environment_is_ignored(monkeypatch):
    # A departure from urllib, which sent these through http_proxy.
    for var in ("http_proxy", "HTTP_PROXY", "https_proxy", "HTTPS_PROXY"):
        monkeypatch.setenv(var, "http://127.0.0.1:9")
    monkeypatch.delenv("no_proxy", raising=False)
    monkeypatch.delenv("NO_PROXY", raising=False)
    base = f"http://127.0.0.1:{ensure_echo_server()}"
    assert http_call_once("GET", base + "/direct")[::2] == (200, "direct")
