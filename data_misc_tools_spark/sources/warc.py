"""WARC (Web ARChive, ISO 28500) reader as a Spark 4 Python DataSource
— the container format web-crawl corpora (Common Crawl) actually ship
in, so a training-data pipeline can scan raw crawl shards without a
pre-conversion hop:

    from data_misc_tools_spark.sources.pydatasource import (
        register_python_datasources,
    )

    register_python_datasources(spark)  # once per session, first use
    spark.read.format("warc").load("/crawl/segment/*.warc.gz")

Output: one row per WARC record — (file, warc_type, target_uri, date,
content_length, content binary). Plain ``.warc`` and gzipped
``.warc.gz`` both work (Common Crawl gzips per record and concatenates;
Python's gzip reads multi-member streams transparently).

Scale shape: one input partition per file — crawl segments are
many-files-by-construction (Common Crawl: ~64k files/crawl), so file
granularity saturates any executor count without byte-range splitting
(which WARC's record framing + per-record gzip would defeat anyway).
Parsing is stdlib-only and streams record by record — memory is one
record, not one file.

The writer twin (:func:`warc_write_records`) emits deterministic
minimal WARC/1.0 for tests and synthetic pipelines (the synthetic_jpeg
/ synthetic_mp4 convention: real format, fabricated content).

reference: no equivalent (the reference reads Hive tables only); this
extends SURVEY §2.2 sources alongside the zktree/rediskeys planner
sources (sources/pydatasource.py).
"""

from __future__ import annotations

import glob
import gzip
import io
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

WARC_SCHEMA = (
    "file string, warc_type string, target_uri string, date string, "
    "content_length long, content binary"
)


def warc_write_records(
    path: str,
    records: list[tuple[str, str, bytes]],
    compress: bool | None = None,
) -> None:
    """Write (warc_type, target_uri, content) records as a minimal
    WARC/1.0 file. ``compress=None`` infers from a ``.gz`` suffix.
    WARC-Date is pinned (records are content-addressed by the caller's
    ids, not wall clock) so output bytes are deterministic."""
    if compress is None:
        compress = path.endswith(".gz")
    buf = io.BytesIO()
    for warc_type, uri, content in records:
        head = (
            "WARC/1.0\r\n"
            f"WARC-Type: {warc_type}\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            "WARC-Date: 2020-01-01T00:00:00Z\r\n"
            f"Content-Length: {len(content)}\r\n"
            "\r\n"
        ).encode("utf-8")
        buf.write(head)
        buf.write(content)
        buf.write(b"\r\n\r\n")
    data = buf.getvalue()
    if compress:
        data = gzip.compress(data, 6)
    with open(path, "wb") as f:
        f.write(data)


def iter_warc_records(stream) -> Iterator[dict]:
    """Parse WARC records from a binary stream: yields
    {headers: dict, content: bytes}. Tolerates leading blank lines
    between records; raises ValueError on a malformed version line or
    a missing Content-Length (loud, never silently wrong)."""
    while True:
        line = stream.readline()
        if not line:
            return
        if line in (b"\r\n", b"\n"):
            continue
        if not line.startswith(b"WARC/"):
            raise ValueError(f"malformed WARC version line: {line[:40]!r}")
        headers: dict[str, str] = {}
        while True:
            hl = stream.readline()
            if hl in (b"\r\n", b"\n", b""):
                break
            k, _, v = hl.decode("utf-8", "replace").partition(":")
            headers[k.strip()] = v.strip()
        if "Content-Length" not in headers:
            raise ValueError("WARC record missing Content-Length")
        n = int(headers["Content-Length"])
        content = stream.read(n)
        if len(content) != n:
            raise ValueError(f"truncated WARC record: {len(content)} < {n}")
        yield {"headers": headers, "content": content}


class WarcDataSource(DataSource):
    """``spark.read.format("warc").load(path_or_glob)`` (or
    ``.option("path", ...)``); one task per matched file."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self) -> str:
        return WARC_SCHEMA

    def reader(self, schema) -> "WarcReader":
        return WarcReader(self.options)


class WarcReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        pattern = options.get("path") or options.get("paths")
        if not pattern:
            raise ValueError("warc source requires a load path or .option('path')")
        self.patterns = [p for p in pattern.split(",") if p]

    def _files(self) -> list[str]:
        out: list[str] = []
        for pat in self.patterns:
            pat = pat.removeprefix("file:")
            if os.path.isdir(pat):
                out += sorted(
                    glob.glob(os.path.join(pat, "*.warc"))
                    + glob.glob(os.path.join(pat, "*.warc.gz"))
                )
            else:
                out += sorted(glob.glob(pat))
        if not out:
            raise FileNotFoundError(f"no WARC files match {self.patterns}")
        return out

    def partitions(self) -> Sequence[InputPartition]:
        return [InputPartition(f) for f in self._files()]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        path = partition.value
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "rb") as f:
            for rec in iter_warc_records(f):
                h = rec["headers"]
                yield (
                    path,
                    h.get("WARC-Type", ""),
                    h.get("WARC-Target-URI", ""),
                    h.get("WARC-Date", ""),
                    int(h["Content-Length"]),
                    rec["content"],
                )
