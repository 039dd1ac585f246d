"""Filesystem helpers (the HdfsHelper analog).

Reference surface: whole-file cat, append, ls over HDFS (reference:
process/HdfsHelper.scala:25-43,45-65,67-77). On Spark the same
operations go through the Hadoop FileSystem API via py4j, so they work
uniformly for hdfs://, s3a://, file:// — whatever filesystems the
cluster's Hadoop conf knows.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jpath, jvm


def cat(spark: SparkSession, path: str, encoding: str = "utf-8") -> str:
    """Whole-file read (reference: HdfsHelper.cat:25-43)."""
    fs, jpath, jvm = _fs(spark, path)
    stream = fs.open(jpath)
    try:
        out = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 65536, False)
        return bytes(out.toByteArray()).decode(encoding)
    finally:
        stream.close()


def write_text(spark: SparkSession, path: str, content: str, overwrite: bool = True) -> None:
    """Create/overwrite a text file (append on HDFS requires dfs
    append support; reference: HdfsHelper.scala:45-65)."""
    fs, jpath, _ = _fs(spark, path)
    stream = fs.create(jpath, overwrite)
    try:
        stream.write(bytearray(content.encode("utf-8")))
    finally:
        stream.close()


def append_text(spark: SparkSession, path: str, content: str) -> None:
    """Create-or-append + hflush (reference: HdfsHelper.scala:45-65):
    append to an existing file, create it when absent, and hflush so
    concurrent readers see the bytes before close.

    Local-filesystem caveat: Hadoop's ``file://`` is a
    ChecksumFileSystem, which does not implement append — here the
    call drops to the raw local filesystem. Raw creates write no .crc
    sidecar, so files created BY THIS FUNCTION read back fine through
    either layer; appending to a file that ``write_text`` created
    (with a checksum sidecar) leaves the sidecar stale, so on
    ``file://`` pick one writer per file. Real HDFS (and object-store
    connectors that support append) take the native path, no caveat.
    """
    fs, jpath, _ = _fs(spark, path)
    try:
        # ChecksumFileSystem (file://) -> unwrap; others have no such
        # method and keep the native filesystem
        fs = fs.getRawFileSystem()
    except Py4JError:
        pass
    if fs.exists(jpath):
        stream = fs.append(jpath)
    else:
        stream = fs.create(jpath, False)
    try:
        stream.write(bytearray(content.encode("utf-8")))
        stream.hflush()
    finally:
        stream.close()


def _entry(st) -> dict:
    return {
        "path": st.getPath().toString(),
        "is_dir": st.isDirectory(),
        "size": st.getLen(),
        "mtime_ms": st.getModificationTime(),
    }


def ls(spark: SparkSession, path: str) -> list[dict]:
    """Directory listing with size/mtime (reference: HdfsHelper.scala:67-77)."""
    fs, jpath, _ = _fs(spark, path)
    return sorted(map(_entry, fs.listStatus(jpath)), key=lambda d: d["path"])


def stat(spark: SparkSession, path: str) -> dict:
    """One ``ls`` entry for ``path`` itself (raises when absent)."""
    fs, jpath, _ = _fs(spark, path)
    return _entry(fs.getFileStatus(jpath))


def glob(spark: SparkSession, pattern: str) -> list[dict]:
    """``ls`` entries of every path matching a Hadoop glob (``*``, ``?``,
    ``[...]``, ``{a,b}``), in one ``globStatus`` call; [] when nothing
    matches. Literal parts taken from elsewhere go through
    :func:`escape_glob` first."""
    fs, jpath, _ = _fs(spark, pattern)
    matches = fs.globStatus(jpath)
    return sorted(map(_entry, matches or []), key=lambda d: d["path"])


def escape_glob(path: str) -> str:
    """``path`` with every Hadoop glob metacharacter backslash-escaped,
    so it matches only itself as a glob (and as a Spark read path, which
    Spark globs too)."""
    return "".join("\\" + c if c in "\\*?[]{}" else c for c in path)


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath, _ = _fs(spark, path)
    return fs.exists(jpath)


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Delete a file or directory tree; False when absent (reference:
    HdfsHelper-style mutation helper, same Hadoop FileSystem API)."""
    fs, jpath, _ = _fs(spark, path)
    if not fs.exists(jpath):
        return False
    return fs.delete(jpath, recursive)


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Rename/move via the Hadoop FileSystem API (atomic on HDFS for
    same-directory renames — the standard commit primitive compaction
    swaps rely on). False when the source is absent or the FS refuses
    (e.g. destination exists)."""
    fs, jsrc, _ = _fs(spark, src)
    _, jdst, _ = _fs(spark, dst)
    if not fs.exists(jsrc):
        return False
    return fs.rename(jsrc, jdst)
