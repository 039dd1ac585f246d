"""SQL-callable table functions (functions/tablefuncs.py).

The reference's lateral-view UDTF surface (README.md:119-126,
commons/UDTFExt.java:22-36) re-expressed as PySpark 4.1 Python UDTFs:
`spark.sql("SELECT ... FROM t, LATERAL t_http_get(t.url) h")` works
end-to-end against the deterministic loopback server, and the
Redis/ZooKeeper bindings run their fakes executor-side.
"""

from __future__ import annotations

import tempfile

import pytest


@pytest.fixture(scope="module")
def port(spark):
    from data_misc_tools_spark.testing.httpserver import ensure_echo_server

    return ensure_echo_server()


class TestHttpTableFunctions:
    def test_registered_by_register_all(self, spark, port):
        # register_all (already run by the session fixture) must have
        # installed t_http_get/t_http_post as SQL table functions
        row = spark.sql(
            f"SELECT * FROM t_http_get('http://127.0.0.1:{port}/hello')"
        ).collect()[0]
        assert row.code == 200 and row.content == "hello"
        assert row.headers["Content-Type"].startswith("text/plain")

    def test_lateral_fanout_ctx_passthrough(self, spark, port):
        df = spark.createDataFrame(
            [(i, f"http://127.0.0.1:{port}/d{i}") for i in range(4)],
            "id long, url string",
        )
        df.createOrReplaceTempView("tf_http_t")
        got = spark.sql(
            """
            SELECT t.id, t.url, h.code, h.content
            FROM tf_http_t t, LATERAL t_http_get(t.url) h
            ORDER BY t.id
            """
        ).collect()
        assert [(r.id, r.code, r.content) for r in got] == [
            (i, 200, f"d{i}") for i in range(4)
        ]
        assert all(r.url.endswith(f"/d{r.id}") for r in got)  # ctx kept

    def test_named_args_and_timeout(self, spark, port):
        row = spark.sql(
            f"""SELECT code, content FROM t_http_get(
                url => 'http://127.0.0.1:{port}/x', timeout_ms => 2000)"""
        ).collect()[0]
        assert (row.code, row.content) == (200, "x")

    def test_post_body_and_headers(self, spark, port):
        row = spark.sql(
            f"""SELECT code, content FROM t_http_post(
                'http://127.0.0.1:{port}/p', 'BODY', 3000,
                '{{"X-Extra": "1"}}')"""
        ).collect()[0]
        assert (row.code, row.content) == (200, "p|BODY")

    def test_errors_are_data_not_failures(self, spark, port):
        rows = spark.sql(
            f"""
            SELECT h.code FROM (
              SELECT * FROM VALUES
                ('http://127.0.0.1:{port}/err/503'),
                ('http://127.0.0.1:1/refused') AS t(url)
            ) t, LATERAL t_http_get(t.url) h
            """
        ).collect()
        codes = sorted(r.code for r in rows)
        assert codes == [-1, 503]  # connection error -> -1 row, not a crash

        bad = spark.sql(
            f"""SELECT code, content FROM t_http_get(
                'http://127.0.0.1:{port}/x', 3000, 'not json')"""
        ).collect()[0]
        assert bad.code == -1 and "headers_json" in bad.content


    @pytest.mark.parametrize(
        "call, counts",
        [
            # deterministic: the filter is pushed below the LATERAL join;
            # the CTE is inlined twice, each copy filtered
            ("t_http_get(t.url)", (10, 20, 250)),
            # nondeterministic: every input row is called, the CTE once
            ("t_http_post(t.url, 'b')", (1000, 1000, 250)),
        ],
    )
    def test_lateral_pushdown_request_counts(self, spark, port, call, counts):
        from data_misc_tools_spark.testing import httpserver

        spark.range(0, 1000, 1, 4).selectExpr(
            "id", f"concat('http://127.0.0.1:{port}/r', id) AS url"
        ).createOrReplaceTempView("tf_push_t")
        lateral = f"SELECT t.id, h.code FROM tf_push_t t, LATERAL {call} h"
        queries = [
            f"{lateral} WHERE t.id < 10",
            f"WITH r AS ({lateral}) "
            "SELECT * FROM r WHERE id < 10 UNION ALL SELECT * FROM r WHERE id < 10",
            f"{lateral} LIMIT 10",
        ]
        got = []
        for q, rows in zip(queries, (10, 20, 10)):
            httpserver.reset()
            out = spark.sql(q).collect()
            assert len(out) == rows and all(r.code == 200 for r in out)
            got.append(httpserver.stats()["requests"])
        assert tuple(got) == counts


class TestRedisTableFunctions:
    @pytest.fixture()
    def redis_bound(self, spark):
        from data_misc_tools_spark.functions.tablefuncs import (
            register_redis_table_functions,
        )
        from data_misc_tools_spark.testing.fakeredis import (
            FakeRedis,
            fake_redis_factory,
        )

        path = tempfile.mktemp(prefix="tf_redis_")
        r = FakeRedis(path)
        r.mset({"user:1": "a", "user:2": "b", "item:9": "z"})
        register_redis_table_functions(spark, fake_redis_factory(path))
        return path

    def test_jd_keys_pattern(self, spark, redis_bound):
        got = sorted(
            r.k for r in spark.sql("SELECT * FROM jd_keys('user:*')").collect()
        )
        assert got == ["user:1", "user:2"]

    def test_jd_mget_fanout_with_missing(self, spark, redis_bound):
        got = {
            r.k: r.v
            for r in spark.sql(
                "SELECT * FROM jd_mget(array('user:1', 'nope', 'item:9'))"
            ).collect()
        }
        assert got == {"user:1": "a", "nope": None, "item:9": "z"}

    def test_lateral_keys_to_mget(self, spark, redis_bound):
        got = {
            r.k: r.v
            for r in spark.sql(
                """SELECT m.k, m.v FROM jd_keys('*') k,
                   LATERAL jd_mget(array(k.k)) m"""
            ).collect()
        }
        assert got == {"user:1": "a", "user:2": "b", "item:9": "z"}


class TestZkTableFunction:
    def test_zk_read_dfs_and_merge(self, spark):
        from data_misc_tools_spark.functions.tablefuncs import (
            register_zk_table_functions,
        )
        from data_misc_tools_spark.testing.fakezk import FakeZK

        init = {"/a": "1", "/a/b": "2", "/a/b/c": "3", "/d": None}

        def zf(init=init):
            return FakeZK(init)

        register_zk_table_functions(spark, zf)
        got = {
            r.p: r.v
            for r in spark.sql("SELECT * FROM zk_read('/a,/a/b,/d')").collect()
        }
        # /a/b listed twice in the roots must NOT duplicate (merge_paths)
        assert got == {"/a": "1", "/a/b": "2", "/a/b/c": "3", "/d": None}

    def test_empty_paths_yield_nothing(self, spark):
        from data_misc_tools_spark.functions.tablefuncs import (
            register_zk_table_functions,
        )
        from data_misc_tools_spark.testing.fakezk import FakeZK

        register_zk_table_functions(spark, lambda: FakeZK({}))
        assert spark.sql("SELECT * FROM zk_read('')").collect() == []
