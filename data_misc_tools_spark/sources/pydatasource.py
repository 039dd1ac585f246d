"""Python DataSource (Spark 4) wrappers for the connector surface.

``spark.read.format("zktree")`` / ``spark.read.format("rediskeys")``
bring the reference's connector reads (reference:
hive-udfs/.../zookeeper/UDFZooKeeperRead.java,
redis/UDTFJedisKeys.java:19-48) into the planner as first-class scans:
the schema is declared, partitions are planned (one per ZK subtree
root), and the result composes with joins/filters like any other
source — instead of a driver-side helper returning a materialized
DataFrame.

The sources are registered on first use, not by ``build_session``:
call :func:`register_python_datasources` on the session before
``spark.read.format("zktree" / "rediskeys" / "warc")``.

Connectivity is option-driven:

- ``hosts`` (zktree) / ``url`` (rediskeys): real client, import-gated
  on kazoo / redis (neither exists in this environment);
- ``fake_data``: a JSON object seeding the in-memory fake client on
  the executor — the test path. This keeps the Spark-side plumbing
  (options, schema, partition planning, executor-side reads) fully
  real while the network client stays pluggable.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class ZKTreeDataSource(DataSource):
    """``spark.read.format("zktree").option("paths", "/a,/b")``.

    Output: one row per znode, columns (p, v) — the reference's
    ``zk_read`` row shape (ZooKeeperHelper.java:17-22).
    """

    @classmethod
    def name(cls) -> str:
        return "zktree"

    def schema(self) -> str:
        return "p string, v string"

    def reader(self, schema) -> "ZKTreeReader":
        return ZKTreeReader(self.options)


class ZKTreeReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.paths = [p for p in options.get("paths", "/").split(",") if p]
        self.hosts = options.get("hosts")
        self.fake_data = options.get("fake_data")
        self.timeout_ms = int(options.get("timeout_ms", "3000"))

    def partitions(self) -> Sequence[InputPartition]:
        from data_misc_tools_spark.operators.zookeeper import merge_paths

        # one task per merged subtree root: disjoint subtrees read in
        # parallel (merge_paths drops roots covered by an ancestor)
        return [InputPartition(root) for root in merge_paths(self.paths)]

    def _client(self):
        if self.fake_data is not None:
            from data_misc_tools_spark.testing.fakezk import FakeZK

            return FakeZK(json.loads(self.fake_data))
        from data_misc_tools_spark.operators.zookeeper import kazoo_client

        if not self.hosts:
            raise ValueError("zktree requires .option('hosts', ...) or fake_data")
        return kazoo_client(self.hosts, self.timeout_ms)

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        from data_misc_tools_spark.operators.zookeeper import read_tree

        yield from read_tree(self._client(), partition.value)


class RedisKeysDataSource(DataSource):
    """``spark.read.format("rediskeys").option("pattern", "user:*")``.

    Output: one row per matching key, columns (k, v) — the
    ``jd_keys`` + ``jd_get`` composition (reference:
    redis/UDTFJedisKeys.java:19-48). A single partition: Redis SCAN is
    a per-node cursor, not an offset-splittable range (on a cluster,
    split per master node instead).
    """

    @classmethod
    def name(cls) -> str:
        return "rediskeys"

    def schema(self) -> str:
        return "k string, v string"

    def reader(self, schema) -> "RedisKeysReader":
        return RedisKeysReader(self.options)


class _FakeScanClient:
    """Dict-backed client exposing the redis-py SCAN cursor contract,
    so the reader's paging loop runs for real in tests."""

    def __init__(self, data: dict[str, str], page: int = 3) -> None:
        self._keys = sorted(data)
        self._data = data
        self._page = page

    def scan(self, cursor: int = 0, match: str = "*", count: int = 500):
        import fnmatch

        nxt = min(cursor + self._page, len(self._keys))
        keys = [k for k in self._keys[cursor:nxt] if fnmatch.fnmatch(k, match)]
        return (0 if nxt >= len(self._keys) else nxt), keys

    def get(self, k):
        return self._data.get(k)


class RedisKeysReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.pattern = options.get("pattern", "*")
        self.url = options.get("url")
        self.fake_data = options.get("fake_data")

    def read(self, partition) -> Iterator[tuple]:
        if self.fake_data is not None:
            client = _FakeScanClient(json.loads(self.fake_data))
        else:
            if not self.url:
                raise ValueError("rediskeys requires .option('url', ...) or fake_data")
            from data_misc_tools_spark.operators.redis_ops import redis_client_factory

            client = redis_client_factory(self.url)()
        cursor = 0
        while True:
            cursor, keys = client.scan(cursor=cursor, match=self.pattern, count=500)
            for k in keys:
                v = client.get(k)
                yield (
                    k.decode() if isinstance(k, bytes) else k,
                    v.decode() if isinstance(v, bytes) else v,
                )
            if cursor == 0:
                break


def register_python_datasources(spark) -> None:
    """Install the ``zktree``, ``rediskeys`` and ``warc`` sources on this
    session; call it before ``spark.read.format(...)`` of any of them.

    ``build_session``/``register_all`` do not call it: Spark's first
    ``spark.dataSource.register`` starts a Python lookup daemon below
    the JVM that stays for the rest of the session, which a session
    that reads none of these formats should not pay for. Memoized per
    session; ships the package first (the readers run on executors),
    so it works on a session ``register_all`` never saw.
    """
    from data_misc_tools_spark.session import session_cache, ship_package
    from data_misc_tools_spark.sources.warc import WarcDataSource

    cache = session_cache(spark, "python_datasources")
    if cache.get("done"):
        return
    ship_package(spark)
    spark.dataSource.register(ZKTreeDataSource)
    spark.dataSource.register(RedisKeysDataSource)
    spark.dataSource.register(WarcDataSource)
    cache["done"] = True
