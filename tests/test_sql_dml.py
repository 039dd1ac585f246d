"""DML/DDL surface (SURVEY §2.3: CTAS, INSERT INTO/OVERWRITE, DROP)."""

import tempfile

import pytest


@pytest.fixture(scope="module", autouse=True)
def warehouse(spark):
    yield


def test_ctas_insert_overwrite_roundtrip(spark, sf_dir):
    from data_misc_tools_spark.session import load_tables

    load_tables(spark, sf_dir, ["nation"])
    spark.sql("drop table if exists t_nations")
    spark.sql(
        "create table t_nations using parquet as "
        "select n_nationkey, n_name from nation where n_nationkey < 5"
    )
    assert spark.table("t_nations").count() == 5
    spark.sql("insert into t_nations select n_nationkey, n_name from nation where n_nationkey = 5")
    assert spark.table("t_nations").count() == 6
    spark.sql(
        "insert overwrite t_nations select n_nationkey, n_name from nation where n_nationkey >= 20"
    )
    assert spark.table("t_nations").count() == 5
    spark.sql("drop table t_nations")
    assert "t_nations" not in [t.name for t in spark.catalog.listTables()]


def test_insert_via_sql_script_runner(spark, sf_dir, tmp_path):
    from data_misc_tools_spark.plans.sql_script import run_sql_script
    from data_misc_tools_spark.session import load_tables

    load_tables(spark, sf_dir, ["region"])
    results = run_sql_script(
        spark,
        """
        drop table if exists t_regions;
        create table t_regions using parquet as select * from region;  -- CTAS
        select count(*) as n from t_regions;
        """,
    )
    # results are lazy DataFrames: consume before mutating DDL runs
    assert results[2][1].first().n == 5
    run_sql_script(spark, "drop table t_regions;")


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    """The reference stores tables as ORC (README.md:205); verify the
    format path end-to-end."""
    from data_misc_tools_spark.session import load_tables

    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    path = str(tmp_path / "orc_out")
    li.limit(1000).write.orc(path)
    back = spark.read.orc(path)
    assert back.count() == 1000
    assert set(back.columns) == set(li.columns)


# The two Hive-catalog tests share one subprocess (``hive_run``): each
# part below is a function of the one Hive session and its work dir. The
# runner prints HIVE_<PART>_OK after a part passed, else
# HIVE_<PART>_FAILED, the part's traceback and HIVE_<PART>_END.
_HIVE_ROUNDTRIP = """
def roundtrip(spark, d):
    from data_misc_tools_spark.plans.sql_script import run_sql_script

    spark.range(10).selectExpr("id", "id % 3 AS g").createOrReplaceTempView("src")
    results = run_sql_script(
        spark,
        '''
        CREATE DATABASE IF NOT EXISTS etl_rt;
        USE etl_rt;
        CREATE TABLE agg_tbl STORED AS ORC AS SELECT g, count(*) AS n FROM src GROUP BY g;
        SELECT sum(n) AS s FROM agg_tbl;
        ''',
    )
    assert results[3][1].first().s == 10
    spark.sql("INSERT OVERWRITE TABLE agg_tbl SELECT g, count(*) FROM src WHERE id < 5 GROUP BY g")
    assert spark.sql("SELECT sum(n) AS s FROM agg_tbl").first().s == 5
    fmt = [r.data_type for r in spark.sql("DESCRIBE FORMATTED agg_tbl").collect()
           if r.col_name == "InputFormat"]
    assert fmt == ["org.apache.hadoop.hive.ql.io.orc.OrcInputFormat"], fmt
    run_sql_script(spark, "DROP TABLE agg_tbl; DROP DATABASE etl_rt;")
    assert "etl_rt" not in [db.name for db in spark.catalog.listDatabases()]
"""

_HIVE_PARTITIONS = """
def partitions(spark, d):
    spark.sql("CREATE DATABASE IF NOT EXISTS part_rt")
    spark.sql("USE part_rt")
    spark.sql(
        "CREATE TABLE ev (user_id BIGINT, v DOUBLE) "
        "PARTITIONED BY (dt STRING) STORED AS ORC"
    )
    spark.range(100).selectExpr(
        "id AS user_id", "id * 1.5 AS v",
        "CASE WHEN id % 2 = 0 THEN '2024-01-01' ELSE '2024-01-02' END AS dt",
    ).createOrReplaceTempView("src")
    # dynamic-partition insert-overwrite: both partitions from one insert
    spark.sql("INSERT OVERWRITE TABLE ev PARTITION (dt) SELECT * FROM src")
    parts = sorted(r.partition for r in spark.sql("SHOW PARTITIONS ev").collect())
    assert parts == ["dt=2024-01-01", "dt=2024-01-02"], parts
    # partition pruning: the filtered scan must read ONE partition
    q = spark.sql("SELECT count(*) AS n FROM ev WHERE dt = '2024-01-01'")
    assert q.first().n == 50
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "2024-01-02" not in plan, "pruning failed: other partition scanned"
    # overwrite ONE partition, the other is untouched
    spark.sql(
        "INSERT OVERWRITE TABLE ev PARTITION (dt='2024-01-01') "
        "SELECT user_id, v FROM src WHERE user_id < 10"
    )
    assert spark.sql("SELECT count(*) AS n FROM ev").first().n == 10 + 50
    # external partition dir: write ORC out-of-band, ADD PARTITION on it
    ext = os.path.join(d, "ext", "dt=2024-01-03")
    spark.range(7).selectExpr("id AS user_id", "id * 1.0 AS v").write.orc(ext)
    spark.sql(f"ALTER TABLE ev ADD PARTITION (dt='2024-01-03') LOCATION '{ext}'")
    assert spark.sql(
        "SELECT count(*) AS n FROM ev WHERE dt='2024-01-03'"
    ).first().n == 7
    # MSCK REPAIR discovers a partition dir dropped under the table root
    loc = spark.sql("DESCRIBE FORMATTED ev").filter(
        "col_name = 'Location'"
    ).first().data_type.removeprefix("file:")
    dropin = os.path.join(loc, "dt=2024-01-04")
    spark.range(3).selectExpr("id AS user_id", "id * 2.0 AS v").write.orc(dropin)
    spark.sql("MSCK REPAIR TABLE ev")
    parts = sorted(r.partition for r in spark.sql("SHOW PARTITIONS ev").collect())
    assert "dt=2024-01-04" in parts, parts
    assert spark.sql("SELECT count(*) AS n FROM ev").first().n == 10 + 50 + 7 + 3
    # drop a partition: rows gone, others intact
    spark.sql("ALTER TABLE ev DROP PARTITION (dt='2024-01-02')")
    assert spark.sql("SELECT count(*) AS n FROM ev").first().n == 10 + 7 + 3
    spark.sql("DROP TABLE ev")
    spark.sql("DROP DATABASE part_rt")
"""

_HIVE_MAIN = """
d = sys.argv[1]
os.environ["SPARK_GRAFT_CPUS"] = "2"
from data_misc_tools_spark.session import build_session

spark = build_session(
    app_name="hive-subprocess",
    hive=True,
    extra_conf={
        "spark.sql.warehouse.dir": os.path.join(d, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={d}",
        "hive.exec.dynamic.partition.mode": "nonstrict",
    },
)
assert spark.conf.get("spark.sql.catalogImplementation") == "hive", (
    "hive support not active"
)
spark.sparkContext.setLogLevel("ERROR")
for name, part in (("ROUNDTRIP", roundtrip), ("PARTITIONS", partitions)):
    try:
        part(spark, d)
        print(f"HIVE_{name}_OK", flush=True)
    except Exception:
        print(f"HIVE_{name}_FAILED", flush=True)
        traceback.print_exc(file=sys.stdout)
        print(f"HIVE_{name}_END", flush=True)
    finally:
        spark.sql("USE default")
"""


@pytest.fixture(scope="module")
def hive_run(tmp_path_factory):
    """Both Hive-catalog scripts, run in ONE subprocess under one
    build_session(hive=True). A subprocess because this pytest JVM
    already holds a non-Hive session (catalogImplementation is
    first-session sticky); one, because each starts a JVM."""
    import subprocess
    import sys
    from pathlib import Path

    script = "\n".join(
        ["import os, sys, traceback", _HIVE_ROUNDTRIP, _HIVE_PARTITIONS, _HIVE_MAIN]
    )
    return subprocess.run(
        [sys.executable, "-c", script, str(tmp_path_factory.mktemp("hive"))],
        cwd=Path(__file__).resolve().parent.parent,  # imports the package
        capture_output=True, text=True, timeout=420,
    )


def _hive_report(proc, name: str) -> str:
    """What the subprocess said about one part: its traceback when it
    failed there, else the tail of stderr."""
    failed = f"HIVE_{name}_FAILED"
    if failed in proc.stdout:
        return proc.stdout.split(failed, 1)[1].split(f"HIVE_{name}_END", 1)[0]
    return proc.stderr[-3000:]


def test_hive_catalog_roundtrip_subprocess(hive_run):
    """The reference's entry point B runs DDL scripts against a
    HiveServer2-backed catalog (reference: hive/HiveBeeLine.scala:94-122,
    README.md:202-205 'create temporary table ... stored as orc'). Drive
    the same shapes — CTAS STORED AS ORC, INSERT OVERWRITE TABLE, DROP —
    through build_session(hive=True) against an embedded derby
    metastore, in the shared Hive subprocess (``hive_run``)."""
    proc = hive_run
    if "hive support not active" in proc.stdout + proc.stderr:
        pytest.skip("Hive classes unavailable in this environment")
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "HIVE_ROUNDTRIP_OK" in proc.stdout, _hive_report(proc, "ROUNDTRIP")


def test_hive_partition_management_subprocess(hive_run):
    """Partition lifecycle against the Hive-metastore catalog — the
    reference's production tables are partitioned Hive tables managed
    by exactly these idioms (README.md:183-219 insert-overwrite ETL;
    HiveBeeLine-driven DDL): dynamic-partition INSERT OVERWRITE,
    SHOW PARTITIONS, ALTER TABLE ADD PARTITION at an external
    LOCATION, MSCK REPAIR discovery of dropped-in partition dirs, and
    DROP PARTITION. Also proves partition PRUNING: a dt-filtered scan
    reads only its partition. Runs in the shared Hive subprocess
    (``hive_run``)."""
    proc = hive_run
    if "hive support not active" in proc.stdout + proc.stderr:
        pytest.skip("Hive classes unavailable in this environment")
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "HIVE_PARTITIONS_OK" in proc.stdout, _hive_report(proc, "PARTITIONS")
