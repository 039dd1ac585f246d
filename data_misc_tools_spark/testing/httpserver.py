"""Deterministic loopback HTTP server for exercising the HTTP
enrichment operators end-to-end (driver-side daemon; executors reach
it over 127.0.0.1 in local mode).

It speaks HTTP/1.1 with keep-alive, so clients reuse connections, and
counts requests and accepted connections (:func:`stats`,
:func:`reset`). A request that sends ``Connection: close`` gets the
same header back and the connection closes after the response.
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_server: ThreadingHTTPServer | None = None
_lock = threading.Lock()
_counts = {"requests": 0, "connections": 0}


def _count(key: str) -> None:
    with _lock:
        _counts[key] += 1


class _EchoHandler(BaseHTTPRequestHandler):
    """GET /x -> 200 'x'; POST /x body b -> 200 'x|b'; /err/<code> -> error;
    /redirect/<n>/x -> 302 to /redirect/<n-1>/x, to /x when n is 1."""

    protocol_version = "HTTP/1.1"
    # Headers and body go out in two writes; with Nagle's algorithm the
    # body waits for the client's delayed ACK (~40 ms) on a reused
    # connection.
    disable_nagle_algorithm = True

    def setup(self):
        super().setup()
        _count("connections")

    def _payload(self) -> tuple[int, str]:
        from urllib.parse import unquote_plus

        path = unquote_plus(self.path.lstrip("/"))
        if path.startswith("err/"):
            return int(path.split("/", 1)[1]), "error"
        return 200, path

    def _answer(self, code: int, body: str) -> None:
        _count("requests")
        data = body.encode("utf-8")
        parts = self.path.lstrip("/").split("/", 2)
        redirect = parts[0] == "redirect" and len(parts) == 3
        self.send_response(302 if redirect else code)
        if redirect:
            n = int(parts[1])
            self.send_header("Location", f"/redirect/{n - 1}/{parts[2]}" if n > 1 else f"/{parts[2]}")
        self.send_header("Content-Type", "text/plain; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        if self.close_connection:  # the request asked for Connection: close
            self.send_header("Connection", "close")
        self.end_headers()
        self.wfile.write(data)

    def do_GET(self):  # noqa: N802 (stdlib naming)
        self._answer(*self._payload())

    def do_POST(self):  # noqa: N802
        length = int(self.headers.get("Content-Length", 0))
        body = self.rfile.read(length).decode("utf-8", errors="replace")
        code, path_part = self._payload()
        self._answer(code, f"{path_part}|{body}")

    def log_message(self, *args):  # silence request logging
        pass


class _EchoServer(ThreadingHTTPServer):
    # socketserver's listen backlog of 5 can reset connections when 4
    # tasks x 8 threads connect at once; the perfbench stub uses 4096 too.
    request_queue_size = 4096


def ensure_echo_server() -> int:
    """Start (once) the echo server on an ephemeral port; returns the port."""
    global _server
    with _lock:
        if _server is None:
            _server = _EchoServer(("127.0.0.1", 0), _EchoHandler)
            t = threading.Thread(target=_server.serve_forever, daemon=True)
            t.start()
        return _server.server_address[1]


def stats() -> dict[str, int]:
    """Requests answered and connections accepted since the last reset."""
    with _lock:
        return dict(_counts)


def reset() -> None:
    with _lock:
        _counts.update(requests=0, connections=0)
