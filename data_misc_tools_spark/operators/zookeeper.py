"""ZooKeeper tree operators.

Reference surface: ``zk_read`` (recursive DFS tree read), ``zk_write``
(sorted-path write with parent auto-creation, returns old values),
``zk_delete`` (deepest-first subtree delete, returns deleted nodes),
plus UDTF variants emitting one row per touched path (reference:
hive-udfs/.../zookeeper/ZooKeeperHelper.java:24-169,
UDFZooKeeperRead.java, UDTFZooKeeperWrite.java:119-126).

Design: the tree algorithms are pure functions over a minimal client
protocol, so they are unit-testable against an in-memory fake and run
against kazoo in production. ZooKeeper is a small coordination store,
not a data plane — driver-side execution with a DataFrame result is
the correct Spark shape (a 100-TB job reads its config once, not per
row); ``zk_read_df`` exposes the result for joins.
"""

from __future__ import annotations

from typing import Protocol

from pyspark.sql import DataFrame, SparkSession


class ZKClient(Protocol):
    """Minimal client protocol (satisfied by kazoo.KazooClient and the
    test fake)."""

    def get_children(self, path: str) -> list[str]: ...

    def get_value(self, path: str) -> str | None: ...

    def set_value(self, path: str, value: str | None) -> None: ...

    def create_node(self, path: str, value: str | None) -> None: ...

    def delete_node(self, path: str) -> None: ...

    def exists(self, path: str) -> bool: ...

    def close(self) -> None: ...


def merge_paths(paths: list[str]) -> list[str]:
    """Drop paths covered by an ancestor also present in the list
    (reference: ZooKeeperHelper.mergePaths:150-169) — reading /a and
    /a/b would duplicate the /a/b subtree."""
    out: list[str] = []
    for p in sorted({q.rstrip("/") or "/" for q in paths}):
        covered = any(
            kept == "/" or p == kept or p.startswith(kept + "/") for kept in out
        )
        if not covered:
            out.append(p)
    return out


def read_tree(client: ZKClient, *paths: str) -> list[tuple[str, str | None]]:
    """DFS read of each subtree, returning (path, value) rows in
    visit order (reference: ZooKeeperHelper._readZKTree:52-80 uses an
    explicit stack; children visited depth-first)."""
    rows: list[tuple[str, str | None]] = []
    for root in merge_paths(list(paths)):
        if not client.exists(root):
            continue
        stack = [root]
        while stack:
            p = stack.pop()
            rows.append((p, client.get_value(p)))
            # push reversed so the first child is visited first
            for child in sorted(client.get_children(p), reverse=True):
                stack.append(f"{p.rstrip('/')}/{child}")
    return rows


def ensure_path(client: ZKClient, path: str) -> None:
    """Create missing ancestors (with null values) then the node
    (reference: ZooKeeperHelper.ensurePath:108-122)."""
    parts = [p for p in path.split("/") if p]
    cur = ""
    for part in parts:
        cur += "/" + part
        if not client.exists(cur):
            client.create_node(cur, None)


def write_tree(
    client: ZKClient, path_values: dict[str, str | None]
) -> list[tuple[str, str | None]]:
    """Write nodes in sorted path order (parents before children),
    auto-creating ancestors; returns the OLD value per path
    (reference: ZooKeeperHelper._writeZKTree:24-50, createOrSet:89-100)."""
    old: list[tuple[str, str | None]] = []
    for p in sorted(path_values):
        norm = p.rstrip("/") or "/"
        prev = client.get_value(norm) if client.exists(norm) else None
        old.append((norm, prev))
        ensure_path(client, norm)
        client.set_value(norm, path_values[p])
    return old


def delete_tree(client: ZKClient, *paths: str) -> list[tuple[str, str | None]]:
    """Delete each subtree deepest-first; returns the deleted
    (path, value) rows (reference: ZooKeeperHelper.deleteZKTree:124-137
    reads the subtree, then deletes in reverse order)."""
    deleted: list[tuple[str, str | None]] = []
    for root in merge_paths(list(paths)):
        rows = read_tree(client, root)
        for p, v in reversed(rows):
            client.delete_node(p)
        deleted.extend(rows)
    return deleted


# --- Spark integration (driver-side; ZK is coordination, not data) ---

ZK_ROW_SCHEMA = "p string, v string"


def zk_read_df(spark: SparkSession, client: ZKClient, *paths: str) -> DataFrame:
    """zk_read as a DataFrame source: (p, v) rows in DFS order."""
    return spark.createDataFrame(read_tree(client, *paths), ZK_ROW_SCHEMA)


def zk_write_df(
    spark: SparkSession, client: ZKClient, path_values: dict[str, str | None]
) -> DataFrame:
    """zk_write returning the old values as a DataFrame (one row per
    written path, mirroring the UDTF variant's per-path forward)."""
    return spark.createDataFrame(write_tree(client, path_values), ZK_ROW_SCHEMA)


def zk_delete_df(spark: SparkSession, client: ZKClient, *paths: str) -> DataFrame:
    """zk_delete returning deleted (p, v) rows."""
    return spark.createDataFrame(delete_tree(client, *paths), ZK_ROW_SCHEMA)


def kazoo_client(hosts: str, timeout_ms: int = 3000) -> ZKClient:
    """Adapt a kazoo client to the ZKClient protocol (import-gated:
    kazoo is not bundled in this environment)."""
    try:
        from kazoo.client import KazooClient  # type: ignore[import-not-found]
    except ImportError as e:  # pragma: no cover
        raise ImportError(
            "kazoo is required for real ZooKeeper access; the tree "
            "operators also accept any ZKClient-protocol object"
        ) from e

    class _Kazoo:
        def __init__(self) -> None:
            self._c = KazooClient(hosts=hosts, timeout=timeout_ms / 1000)
            self._c.start(timeout=timeout_ms / 1000)

        def get_children(self, path: str) -> list[str]:
            return list(self._c.get_children(path))

        def get_value(self, path: str) -> str | None:
            data, _ = self._c.get(path)
            return data.decode("utf-8") if data is not None else None

        def set_value(self, path: str, value: str | None) -> None:
            self._c.set(path, (value or "").encode("utf-8"))

        def create_node(self, path: str, value: str | None) -> None:
            self._c.create(path, (value or "").encode("utf-8"))

        def delete_node(self, path: str) -> None:
            self._c.delete(path)

        def exists(self, path: str) -> bool:
            return self._c.exists(path) is not None

        def close(self) -> None:
            self._c.stop()
            self._c.close()

    return _Kazoo()  # pragma: no cover
