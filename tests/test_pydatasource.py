"""Python DataSource connectors: zktree and rediskeys enter the planner
as real scans (schema declared, partitions planned, executor-side
reads) — reference: UDFZooKeeperRead.java, UDTFJedisKeys.java.
"""

import json

import pytest
from pyspark.sql import functions as F

from data_misc_tools_spark.sources.pydatasource import register_python_datasources

ZK_SEED = {"/app": "root", "/app/db": "mysql", "/app/db/host": "h1", "/other": "x"}


@pytest.fixture(scope="module", autouse=True)
def _registered(spark):
    """The sources are registered on first use, not by build_session."""
    register_python_datasources(spark)


def test_second_registration_registers_nothing(spark, monkeypatch):
    from pyspark.sql.datasource import DataSourceRegistration

    calls = []
    monkeypatch.setattr(DataSourceRegistration, "register", lambda self, ds: calls.append(ds))
    register_python_datasources(spark)
    assert calls == []


def test_zktree_format_reads_subtree(spark):
    df = (
        spark.read.format("zktree")
        .option("paths", "/app")
        .option("fake_data", json.dumps(ZK_SEED))
        .load()
    )
    assert df.columns == ["p", "v"]
    rows = {(r.p, r.v) for r in df.collect()}
    assert rows == {("/app", "root"), ("/app/db", "mysql"), ("/app/db/host", "h1")}


def test_zktree_merges_covered_roots_and_partitions(spark):
    # /app/db is covered by /app -> merge_paths plans 2 partitions, not 3
    df = (
        spark.read.format("zktree")
        .option("paths", "/app,/app/db,/other")
        .option("fake_data", json.dumps(ZK_SEED))
        .load()
    )
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 4  # no duplicated /app/db subtree


def test_zktree_composes_with_sql(spark):
    df = (
        spark.read.format("zktree")
        .option("paths", "/app")
        .option("fake_data", json.dumps(ZK_SEED))
        .load()
    )
    out = df.filter(F.col("p").endswith("host")).select("v")
    assert [r.v for r in out.collect()] == ["h1"]


def test_rediskeys_format_scans_pattern(spark):
    data = {"user:1": "ann", "user:2": "bob", "cfg:x": "1", "user:10": "cat"}
    df = (
        spark.read.format("rediskeys")
        .option("pattern", "user:*")
        .option("fake_data", json.dumps(data))
        .load()
    )
    assert df.columns == ["k", "v"]
    rows = {(r.k, r.v) for r in df.collect()}
    # page size 3 in the fake -> the cursor loop really pages
    assert rows == {("user:1", "ann"), ("user:2", "bob"), ("user:10", "cat")}


class TestWarcSource:
    def test_roundtrip_plain_and_gzip(self, spark, tmp_path):
        from data_misc_tools_spark.sources.warc import warc_write_records

        recs1 = [
            ("response", "https://a.example/x", b"hello world"),
            ("response", "https://a.example/y", b"\x00binary\xff ok"),
        ]
        recs2 = [("request", "https://b.example/z", b"GET /z")]
        warc_write_records(str(tmp_path / "s1.warc"), recs1)
        warc_write_records(str(tmp_path / "s2.warc.gz"), recs2)

        df = spark.read.format("warc").load(str(tmp_path))
        rows = sorted(
            (r.warc_type, r.target_uri, r.content_length, bytes(r.content))
            for r in df.collect()
        )
        assert rows == sorted(
            (t, u, len(c), c) for t, u, c in recs1 + recs2
        )
        # one partition per file -> file column distinguishes shards
        files = {r.file.rsplit("/", 1)[-1] for r in df.collect()}
        assert files == {"s1.warc", "s2.warc.gz"}

    def test_glob_and_option_path(self, spark, tmp_path):
        from data_misc_tools_spark.sources.warc import warc_write_records

        warc_write_records(str(tmp_path / "a.warc"), [("response", "u", b"x")])
        df = spark.read.format("warc").option(
            "path", str(tmp_path / "*.warc")
        ).load()
        assert df.count() == 1

    def test_malformed_raises(self, tmp_path):
        import io

        import pytest

        from data_misc_tools_spark.sources.warc import iter_warc_records

        with pytest.raises(ValueError, match="version"):
            list(iter_warc_records(io.BytesIO(b"HTTP/1.1 200 OK\r\n\r\n")))
        bad = b"WARC/1.0\r\nWARC-Type: response\r\n\r\n"
        with pytest.raises(ValueError, match="Content-Length"):
            list(iter_warc_records(io.BytesIO(bad)))
        trunc = (
            b"WARC/1.0\r\nContent-Length: 10\r\n\r\nshort"
        )
        with pytest.raises(ValueError, match="truncated"):
            list(iter_warc_records(io.BytesIO(trunc)))

    def test_feeds_the_curation_operators(self, spark, tmp_path):
        """WARC -> text -> the corpus operators: the intended pipeline."""
        from pyspark.sql import functions as F

        from data_misc_tools_spark.operators.text import card_scan
        from data_misc_tools_spark.sources.warc import warc_write_records

        warc_write_records(
            str(tmp_path / "crawl.warc.gz"),
            [
                ("response", "https://x/1", b"pay 4539 1488 0343 6467 now"),
                ("response", "https://x/2", b"clean page text"),
            ],
        )
        docs = (
            spark.read.format("warc")
            .load(str(tmp_path))
            .select(
                F.monotonically_increasing_id().alias("doc_id"),
                F.col("target_uri"),
                F.decode("content", "UTF-8").alias("text"),
            )
        )
        hits = card_scan(docs).where("luhn").count()
        assert hits == 1
