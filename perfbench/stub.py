"""Loopback HTTP endpoint for the ``http_enrich`` workload.

Runs in its own process on one asyncio event loop with a large listen
backlog. Every request is answered by :func:`respond`, a pure function of
method, path and body, after a delay drawn from the seed and the path, so
a client can check every row it received. Requests under ``/err/<code>/``
answer with that non-2xx status.

Counters cover data requests only: requests, accepted connections (a
connection counts once, when its first data request arrives), dropped
requests, per-request service times and the process's CPU and wall time.
Control paths, answered without delay and left out of the counters:

- ``GET /__stats``  the counters as JSON since the last reset
- ``GET /__reset``  zero the counters

``--drop-share p`` closes the connection without an answer for a seeded
share ``p`` of data requests, to show that lost connections become
counted failure rows on the client rather than crashes.

Run: ``python3 perfbench/stub.py --seed 1 [--drop-share 0.1]``; the first
line of stdout is ``PORT <n>``. SIGTERM or EOF on stdin stops it.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import signal
import subprocess
import sys
import time
import urllib.request
import zlib
from urllib.parse import unquote


def respond(method: str, path: str, body: bytes) -> tuple[int, str]:
    """The stub's answer to one data request: (status, content)."""
    parts = unquote(path).lstrip("/").split("/")
    if len(parts) == 3 and parts[0] == "err":
        return int(parts[1]), f"error:{parts[1]}:{parts[2]}"
    key = parts[-1]
    if method == "POST":
        return 200, f"post:{key}:{len(body)}:{zlib.crc32(body):08x}"
    return 200, f"item:{key}:{zlib.crc32(key.encode()):08x}"


def _unit(seed: int, salt: str, path: str) -> float:
    """A deterministic number in [0, 1) from the seed and the path."""
    return zlib.crc32(f"{seed}:{salt}:{path}".encode()) / 2**32


def delay_s(seed: int, path: str) -> float:
    """Seeded service delay of one request: 1 to 5 ms."""
    return 0.001 + 0.004 * _unit(seed, "delay", path)


class Stub:
    def __init__(self, seed: int, drop_share: float) -> None:
        self.seed = seed
        self.drop_share = drop_share
        self.reset()

    def reset(self) -> None:
        self.requests = 0
        self.connections = 0
        self.dropped = 0
        self.service_s: list[float] = []
        self.cpu0 = time.process_time()
        self.wall0 = time.perf_counter()

    def stats(self) -> dict:
        return {
            "requests": self.requests,
            "connections": self.connections,
            "dropped": self.dropped,
            "cpu_s": time.process_time() - self.cpu0,
            "wall_s": time.perf_counter() - self.wall0,
            "service_ms": [round(1000 * s, 4) for s in self.service_s],
        }

    async def handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        counted = False
        try:
            while True:
                line = await reader.readline()
                if not line:
                    return
                t0 = time.perf_counter()
                method, target, version = line.decode("latin-1").rstrip("\r\n").split(" ", 2)
                headers = {}
                while True:
                    h = await reader.readline()
                    if h in (b"\r\n", b"\n", b""):
                        break
                    k, _, v = h.decode("latin-1").partition(":")
                    headers[k.strip().lower()] = v.strip()
                n = int(headers.get("content-length", 0))
                body = await reader.readexactly(n) if n else b""
                if target.startswith("/__"):
                    if target == "/__reset":
                        self.reset()
                    await self._write(writer, 200, json.dumps(self.stats()), close=True)
                    return
                if not counted:
                    self.connections += 1
                    counted = True
                self.requests += 1
                if self.drop_share and _unit(self.seed, "drop", target) < self.drop_share:
                    self.dropped += 1
                    writer.transport.abort()
                    return
                await asyncio.sleep(delay_s(self.seed, target))
                code, content = respond(method, target, body)
                close = (
                    headers.get("connection", "").lower() == "close"
                    or version.strip() == "HTTP/1.0"
                )
                await self._write(writer, code, content, close)
                self.service_s.append(time.perf_counter() - t0)
                if close:
                    return
        except (ConnectionError, asyncio.IncompleteReadError, ValueError):
            return
        finally:
            writer.close()

    @staticmethod
    async def _write(writer: asyncio.StreamWriter, code: int, content: str, close: bool) -> None:
        data = content.encode("utf-8")
        head = (
            f"HTTP/1.1 {code} X\r\nContent-Type: text/plain; charset=utf-8\r\n"
            f"Content-Length: {len(data)}\r\n"
            f"Connection: {'close' if close else 'keep-alive'}\r\n\r\n"
        )
        writer.write(head.encode("latin-1") + data)
        await writer.drain()


async def serve(seed: int, drop_share: float) -> None:
    stub = Stub(seed, drop_share)
    server = await asyncio.start_server(stub.handle, "127.0.0.1", 0, backlog=4096)
    stop = asyncio.Event()
    loop = asyncio.get_running_loop()
    loop.add_signal_handler(signal.SIGTERM, stop.set)
    loop.add_signal_handler(signal.SIGINT, stop.set)

    def on_stdin() -> None:  # EOF: the parent is gone, however it ended
        if not os.read(0, 4096):
            stop.set()

    loop.add_reader(0, on_stdin)
    print(f"PORT {server.sockets[0].getsockname()[1]}", flush=True)
    async with server:
        await stop.wait()


class StubProcess:
    """Start the stub as a child process; ``with`` stops it and waits."""

    def __init__(self, seed: int, drop_share: float = 0.0) -> None:
        self.seed = seed
        self.drop_share = drop_share
        self.proc = None
        self.port = 0

    def __enter__(self) -> StubProcess:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--seed", str(self.seed),
             "--drop-share", str(self.drop_share)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.__exit__()
            raise RuntimeError(f"stub did not start: {line!r}")
        self.port = int(line.split()[1])
        return self

    def __exit__(self, *exc) -> None:
        if self.proc is None:
            return
        self.proc.stdin.close()
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)
        self.proc.stdout.close()

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self.port}"

    def _control(self, path: str) -> dict:
        with urllib.request.urlopen(self.base_url + path, timeout=10) as r:
            return json.loads(r.read())

    def stats(self) -> dict:
        return self._control("/__stats")

    def reset(self) -> dict:
        return self._control("/__reset")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--drop-share", type=float, default=0.0)
    args = ap.parse_args()
    asyncio.run(serve(args.seed, args.drop_share))


if __name__ == "__main__":
    main()
