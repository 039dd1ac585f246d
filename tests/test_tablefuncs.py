"""SQL-callable table functions (functions/tablefuncs.py).

The reference's lateral-view UDTF surface (README.md:119-126,
commons/UDTFExt.java:22-36) re-expressed as Spark SQL table functions:
`spark.sql("SELECT ... FROM t, LATERAL t_http_get(t.url) h")` works
end-to-end against the deterministic loopback server, and the
Redis/ZooKeeper bindings run their fakes executor-side and close their
clients at task end.
"""

from __future__ import annotations

import os
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
            # deterministic: the filter and the limit are pushed below
            # the LATERAL join; the CTE is inlined twice, each copy
            # filtered
            ("t_http_get(t.url)", (10, 20, 10)),
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

    def test_get_argument_parity(self, spark, port):
        from data_misc_tools_spark.testing import httpserver

        base = f"http://127.0.0.1:{port}"
        # a NULL url is an error row
        row = spark.sql("SELECT * FROM t_http_get(CAST(NULL AS STRING))").collect()
        assert [tuple(r) for r in row] == [(-1, None, "null url")]
        # a NULL or 0 timeout means the default (a 0 s socket timeout
        # would fail the request)
        for timeout in ("CAST(NULL AS INT)", "0"):
            row = spark.sql(f"SELECT * FROM t_http_get('{base}/t', {timeout})").collect()
            assert [(r.code, r.content) for r in row] == [(200, "t")]
        # headers by name; the echo server answers Connection: close in kind
        httpserver.reset()
        row = spark.sql(
            f"""SELECT * FROM t_http_get(url => '{base}/c',
                headers_json => '{{"Connection": "close"}}')"""
        ).collect()[0]
        assert (row.code, row.content, row.headers["Connection"]) == (200, "c", "close")
        assert httpserver.stats() == {"requests": 1, "connections": 1}
        # GET follows redirects
        row = spark.sql(f"SELECT * FROM t_http_get('{base}/redirect/3/x')").collect()
        assert [(r.code, r.content) for r in row] == [(200, "x")]

    def test_bad_headers_json_row_spares_its_neighbours(self, spark, port):
        from data_misc_tools_spark.testing import httpserver

        spark.createDataFrame(
            [
                (1, f"http://127.0.0.1:{port}/a", None),
                (2, f"http://127.0.0.1:{port}/b", "not json"),
                (3, f"http://127.0.0.1:{port}/c", '{"X-Tag": "1"}'),
                (4, f"http://127.0.0.1:{port}/d", "[1]"),
            ],
            "id int, url string, hdrs string",
        ).coalesce(1).createOrReplaceTempView("tf_hdrs_t")
        httpserver.reset()
        got = sorted(
            spark.sql(
                """SELECT t.id, h.code, h.content
                   FROM tf_hdrs_t t, LATERAL t_http_get(t.url, 3000, t.hdrs) h"""
            ).collect()
        )
        assert [(r.id, r.code) for r in got] == [(1, 200), (2, -1), (3, 200), (4, -1)]
        assert (got[0].content, got[2].content) == ("a", "c")
        assert all(got[i].content.startswith("bad headers_json") for i in (1, 3))
        assert httpserver.stats()["requests"] == 2  # a bad row sends nothing


def _closing(factory, log, fail=None):
    """Zero-arg client factory wrapping ``factory``'s clients: each
    ``close`` appends a line to the file ``log``, and the method named
    ``fail`` raises."""

    def make():
        inner = factory()

        class Counted:
            def __getattr__(self, name):
                if name == fail:
                    raise RuntimeError(f"{name} failed")
                return getattr(inner, name)

            def close(self):
                inner.close()
                with open(log, "a") as f:
                    f.write("closed\n")

        return Counted()

    return make


def _closes(log) -> int:
    if not os.path.exists(log):
        return 0
    with open(log) as f:
        return len(f.readlines())


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

    @pytest.mark.parametrize(
        "query, fail",
        [
            ("SELECT * FROM jd_keys('user:*')", None),
            ("SELECT * FROM jd_keys('user:*')", "scan_iter"),
            ("SELECT * FROM jd_mget(array('user:1', 'nope'))", None),
            ("SELECT * FROM jd_mget(array('user:1', 'nope'))", "mget"),
        ],
    )
    def test_client_closed_once_per_task(self, spark, redis_bound, tmp_path, query, fail):
        from data_misc_tools_spark.functions.tablefuncs import (
            register_redis_table_functions,
        )
        from data_misc_tools_spark.testing.fakeredis import fake_redis_factory

        log = str(tmp_path / "closes")
        register_redis_table_functions(spark, _closing(fake_redis_factory(redis_bound), log, fail))
        if fail is None:
            assert len(spark.sql(query).collect()) == 2
        else:
            with pytest.raises(Exception, match=f"{fail} failed"):
                spark.sql(query).collect()
        assert _closes(log) == 1


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

    @pytest.mark.parametrize("fail", [None, "get_children"])
    def test_client_closed_once_per_task(self, spark, tmp_path, fail):
        from data_misc_tools_spark.functions.tablefuncs import (
            register_zk_table_functions,
        )
        from data_misc_tools_spark.testing.fakezk import FakeZK

        def zf():
            return FakeZK({"/a/b": "1"})

        log = str(tmp_path / "closes")
        register_zk_table_functions(spark, _closing(zf, log, fail))
        query = "SELECT * FROM zk_read('/a')"
        if fail is None:
            assert len(spark.sql(query).collect()) == 2
        else:
            with pytest.raises(Exception, match=f"{fail} failed"):
                spark.sql(query).collect()
        assert _closes(log) == 1
