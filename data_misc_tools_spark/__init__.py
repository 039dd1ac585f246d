"""data_misc_tools_spark — a PySpark-native analytics/ETL engine.

A from-scratch, Spark-first re-expression of the capabilities of
thenetcircle/data-misc-tools (a Hive-UDF connector toolkit + scheduled
Spark runner; see SURVEY.md): the registered SQL-function surface
(HTTP / Kafka / Redis / ZooKeeper / map & argmax helpers), the
connector sources/sinks, the scheduled script runner with hot reload,
the Hive-SQL-script execution path, plus the relational/ETL idioms its
documentation exercises — re-built on the DataFrame API, Catalyst and
Structured Streaming rather than row-at-a-time Java UDFs.

Layout:
  session      SparkSession factory with parity configs
  functions/   scalar/agg SQL functions (url_encode, m_add, max_with, ...)
  operators/   enrichment + pipeline operators (HTTP, Redis, ZK, dedup,
               similarity, text analysis, multimodal)
  sources/     batch sources/sinks (JDBC, Kafka, filesystem)
  plans/       SQL script splitting/execution
  streaming/   Structured Streaming wrappers (Kafka, windowed aggs)
  runner       scheduled hot-reload script runner + execution records
  zipimports   Python workers skip re-reading unchanged zips per task
"""

from data_misc_tools_spark.session import build_session, register_all
from data_misc_tools_spark.zipimports import share_zip_directories

share_zip_directories()

__version__ = "0.1.0"

__all__ = ["build_session", "register_all", "__version__"]
