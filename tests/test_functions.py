"""Scalar/aggregate function semantics (SURVEY §2.1 parity points)."""

import pyspark.sql.functions as F
import pytest

from data_misc_tools_spark.functions import m_add, max_with, su_strip, url_encode
from data_misc_tools_spark.functions.aggregates import min_with
from data_misc_tools_spark.functions.scalar import _py_url_encode, default_now, tp


def test_url_encode_basic(spark):
    df = spark.createDataFrame([("a b&c?",), (None,)], "s string")
    rows = df.select(url_encode("s").alias("e")).collect()
    assert rows[0].e == "a+b%26c%3F"
    # reference parity: NULL -> literal 'null' (UDFUrlEncoder.java:51)
    assert rows[1].e == "null"


def test_url_encode_python_matches_jvm(spark):
    cases = ["hello world", "x&y=1?z", "ü£€", "a.b-c_d*e", "100%"]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    jvm = [r.e for r in df.select(url_encode("s").alias("e")).collect()]
    py = [_py_url_encode(c) for c in cases]
    assert jvm == py


def test_url_encode_sql_builtin_registered(spark):
    # the SQL name matches the reference registry (setup.sql)
    assert spark.sql("select url_encode('a b') as e").first().e == "a+b"


def test_m_add_last_wins_and_null_skip(spark):
    df = spark.range(1).select(
        F.create_map(F.lit("a"), F.lit("1"), F.lit("b"), F.lit("2")).alias("m1"),
        F.create_map(F.lit("b"), F.lit("9")).alias("m2"),
        F.lit(None).cast("map<string,string>").alias("m3"),
    )
    out = df.select(m_add("m1", "m2", "m3").alias("m")).first().m
    assert out == {"a": "1", "b": "9"}  # later wins, null skipped


def test_m_add_sql_function(spark):
    out = spark.sql(
        "select m_add(map('a','1','b','2'), map('b','9')) as m"
    ).first().m
    assert out == {"a": "1", "b": "9"}
    out3 = spark.sql(
        "select m_add3(map('a','1'), map('b','2'), map('a','3')) as m"
    ).first().m
    assert out3 == {"a": "3", "b": "2"}


def test_m_add_sql_variadic(spark):
    # SQL surface is N-ary like the reference UDFMapAdd (2..6 args via
    # DEFAULT parameters); null args are skipped at every position
    out4 = spark.sql(
        "select m_add(map('a','1'), NULL, map('a','9'), map('c','3')) as m"
    ).first().m
    assert out4 == {"a": "9", "c": "3"}
    out6 = spark.sql(
        "select m_add(map('a','1'), map('b','2'), map('c','3'),"
        " map('d','4'), map('e','5'), map('a','6')) as m"
    ).first().m
    assert out6 == {"a": "6", "b": "2", "c": "3", "d": "4", "e": "5"}


def test_m_add_requires_args(spark):
    with pytest.raises(ValueError):
        m_add()


def test_su_strip(spark):
    df = spark.createDataFrame([("[1,2,3]",), ("aa-x-aa",)], "s string")
    rows = df.select(su_strip("s", "[]a").alias("v")).collect()
    assert rows[0].v == "1,2,3"
    assert rows[1].v == "-x-"
    assert spark.sql("select su_strip('[x]', '[]') as v").first().v == "x"


def test_max_with_argmax_and_null_keys(spark):
    df = spark.createDataFrame(
        [("g", 1, "low"), ("g", 9, "high"), ("g", None, "nullkey")],
        "grp string, k int, v string",
    )
    row = df.groupBy("grp").agg(max_with("k", "v").alias("best")).first()
    assert row.best == "high"  # null keys ignored (UDAFCmpBase iterate)
    row2 = df.groupBy("grp").agg(min_with("k", "v").alias("worst")).first()
    assert row2.worst == "low"


def test_max_with_struct_data(spark):
    # the reference's own test query shape: max_with(city_id, struct(...))
    df = spark.createDataFrame(
        [("331", 10, "aachen"), ("331", 20, "berlin"), ("323", 5, "celle")],
        "region_id string, city_id int, city string",
    )
    rows = (
        df.groupBy("region_id")
        .agg(max_with("city_id", F.struct("city_id", "city")).alias("m"))
        .orderBy("region_id")
        .collect()
    )
    assert rows[0].m.city == "celle"
    assert rows[1].m.city == "berlin"


def test_tp_and_default_now(spark):
    df = spark.createDataFrame([(86400,)], "t bigint")
    assert df.select(tp("yyyy-MM-dd", "t").alias("d")).first().d == "1970-01-02"
    assert spark.sql("select tp('yyyy-MM-dd', 86400) as d").first().d == "1970-01-02"
    df2 = spark.createDataFrame([("2020-01-01T00:00",), (None,)], "s string")
    rows = df2.select(default_now("s").alias("v")).collect()
    assert rows[0].v == "2020-01-01T00:00"
    assert rows[1].v is not None  # filled with formatted now


def test_kafka_cfg_functions(spark):
    c = spark.sql("select kf_consumer_cfgs() as m").first().m
    assert c["max.poll.records"] == "1000"
    assert c["enable.auto.commit"] == "false"
    p = spark.sql("select kf_producer_cfgs() as m").first().m
    assert p["compression.type"] == "gzip"


def test_http_scalar_udfs_registered(spark):
    row = spark.sql("select http_get('http://127.0.0.1:9/x', 300) as r").first().r
    assert row.code == -1 and "refused" in row.content.lower()


def test_http_scalar_udfs_against_echo_server(spark):
    from data_misc_tools_spark.testing.httpserver import ensure_echo_server

    base = f"http://127.0.0.1:{ensure_echo_server()}"
    spark.createDataFrame(
        [(1, f"{base}/a", 2000), (2, f"{base}/err/404", 2000), (3, None, 2000),
         (4, f"{base}/n", None)],
        "id int, url string, t int",
    ).createOrReplaceTempView("_http_rows")
    rows = {
        r.id: r
        for r in spark.sql(
            "SELECT id, http_get(url) AS g1, http_get(url, t) AS g2, "
            "http_get(url, t, map('X-Tag', '1')) AS g3, "
            "http_post(url, t, map('Content-Type', 'text/plain'), 'BODY') AS p "
            "FROM _http_rows"
        ).collect()
    }
    for col in ("g1", "g2", "g3"):
        assert (rows[1][col].code, rows[1][col].content) == (200, "a")
        assert (rows[2][col].code, rows[2][col].content) == (404, "error")
        assert (rows[3][col].code, rows[3][col].headers, rows[3][col].content) == (
            -1, None, "null url"
        )
    assert (rows[1].p.code, rows[1].p.content) == (200, "a|BODY")
    assert rows[1].g1.headers["Content-Type"].startswith("text/plain")
    # a NULL timeout means the 3000 ms default, not "no timeout"
    assert (rows[4].g2.code, rows[4].g2.content) == (200, "n")


def test_http_scalar_udfs_are_batched_arrow_udfs(spark):
    import warnings

    from data_misc_tools_spark.functions.registry import _register_http

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _register_http(spark)
    assert not [w for w in caught if issubclass(w.category, UserWarning)]
    plan = spark.sql("SELECT http_get(concat('x', id)) AS r FROM range(3)")._jdf \
        .queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


def test_sql_text_functions_match_operators(spark):
    from data_misc_tools_spark.operators.text import fingerprint, token_count

    df = spark.createDataFrame([(1, "The quick  brown the")], "doc_id long, text string")
    df.createOrReplaceTempView("_txt")
    sql_row = spark.sql(
        "select token_count(text) as n, doc_fingerprint(text) as fp from _txt"
    ).first()
    api_n = df.select(token_count("text").cast("long").alias("n")).first().n
    api_fp = fingerprint(df).first().fingerprint
    assert sql_row.n == api_n == 4
    assert sql_row.fp == api_fp


def test_html_strip_sql_matches_column_operator(spark):
    """The SQL surface and operators/text.strip_html must implement
    the SAME contract (pattern chain + entity order)."""
    from data_misc_tools_spark.operators.text import strip_html

    cases = [
        '<p>hello <b>world</b></p>',
        'a<script>if (1 < 2) x();</script>b',
        '<style media="x">p > a {}</style>text',
        'keep<!-- <b>no</b> -->me',
        '&amp;lt; &lt; &quot;q&#39; &nbsp;',
        '<SCRIPT>s</SCRIPT><P>case</P>',
    ]
    df = spark.createDataFrame([(c,) for c in cases], "html string")
    df.createOrReplaceTempView("t_html")
    via_sql = [r.t for r in
               spark.sql("select html_strip(html) as t from t_html").collect()]
    via_col = [r.t for r in df.select(strip_html("html").alias("t")).collect()]
    assert via_sql == via_col


def test_levenshtein_sim_sql(spark):
    rows = spark.sql(
        "select levenshtein_sim('kitten', 'sitting') as a, "
        "levenshtein_sim('same', 'same') as b, "
        "levenshtein_sim('', 'xyz') as c"
    ).collect()[0]
    assert rows.a == round(1 - 3 / 7, 4)
    assert rows.b == 1.0
    assert rows.c == 0.0
