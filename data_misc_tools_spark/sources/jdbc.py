"""JDBC bridges.

Reference surface: JDBC/Hive result sets bridged into DataFrames by
collecting rows on the driver and re-parallelizing (reference:
hive/JdbcHelper.scala:46-64 ``jdbcToDF``), result→temp-view
(``jdbcToView``:124-133), driver-side DML (:27-44), schema probe
(:101-117).

Spark-first: ``spark.read.jdbc`` is executor-parallel with predicate
pushdown — the reference's collect-to-driver bridge is exactly the
anti-pattern SURVEY §7.3 forbids, so it is NOT reproduced; the same
API shape is provided on top of the built-in source. DML runs on the
driver through the JVM's DriverManager via py4j (no extra Python
deps), which is correct for control-plane statements.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


def jdbc_to_df(
    spark: SparkSession,
    url: str,
    query: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Run a SQL query against a JDBC source as a DataFrame.

    With (partition_column, bounds, num_partitions) the read is split
    into range predicates executed in parallel across executors —
    replacing the reference's single-connection collect.
    """
    reader = spark.read.format("jdbc").option("url", url)
    if partition_column is None:
        reader = reader.option("query", query)
    else:
        # the JDBC source forbids 'query' together with partitioning —
        # wrap the query as a derived-table dbtable instead
        reader = reader.option("dbtable", f"({query}) spark_jdbc_sub")
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        assert lower_bound is not None and upper_bound is not None and num_partitions
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def jdbc_to_view(
    spark: SparkSession, url: str, query: str, view_name: str, **kwargs
) -> DataFrame:
    """Query → temp view (reference: JdbcHelper.jdbcToView:124-133)."""
    df = jdbc_to_df(spark, url, query, **kwargs)
    df.createOrReplaceTempView(view_name)
    return df


def df_to_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append",
    properties: dict[str, str] | None = None,
) -> None:
    """DataFrame → JDBC table (executor-parallel batched inserts)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def exec_update(spark: SparkSession, url: str, sql: str, properties: dict[str, str] | None = None) -> int:
    """Driver-side DML/DDL (reference: JdbcHelper.scala:27-44
    ``execUpdate``): returns the update count. Uses the JVM's
    DriverManager through py4j — requires the JDBC driver jar on the
    Spark classpath, like any JDBC use."""
    conn = _connect(spark, url, properties)
    try:  # closing the connection closes its statements
        return conn.createStatement().executeUpdate(sql)
    finally:
        conn.close()


def table_exists(
    spark: SparkSession, url: str, table: str, properties: dict[str, str] | None = None
) -> bool:
    """Spark's ``JdbcUtils.tableExists`` probe on the driver; a failure
    to connect still raises."""
    conn = _connect(spark, url, properties)
    try:
        conn.createStatement().executeQuery(f"SELECT * FROM {table} WHERE 1=0")
        return True
    except Py4JJavaError:
        return False
    finally:
        conn.close()


def _connect(spark: SparkSession, url: str, properties: dict[str, str] | None):
    jvm = spark.sparkContext._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, v)
    return jvm.java.sql.DriverManager.getConnection(url, props)
