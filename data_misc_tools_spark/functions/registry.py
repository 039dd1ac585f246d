"""SQL function registration — the analog of the reference's setup.sql.

The reference installs its functions with ``CREATE FUNCTION`` from a
jar (reference: hive-udfs/src/test/resources/setup.sql:6-56). Here
almost everything registers as a Spark *SQL UDF* (``CREATE TEMPORARY
FUNCTION ... RETURNS ... RETURN <expr>``, Spark 4) — those are inlined
into the Catalyst plan at analysis time, so they cost nothing at run
time and stay inside WholeStageCodegen. Only genuinely side-effecting
functions (HTTP) register as Python code: scalar-iterator pandas UDFs
over Arrow batches, each task sharing one keep-alive client and one
thread pool (operators.http.request_batches), marked nondeterministic
so Catalyst never collapses, reorders, or double-executes the calls
(the reference marks these ``@UDFType(deterministic=false)``,
e.g. hive-udfs/.../http/UDFHttpGet.java:30).
"""

from collections.abc import Iterator

from pyspark.sql import SparkSession

# name -> CREATE TEMPORARY FUNCTION body. Pure-expression functions:
# inlined by Catalyst, zero runtime overhead.
_SQL_UDFS: dict[str, str] = {
    # url_encode: Spark's *built-in* url_encode already has
    # URLEncoder.encode semantics under the reference's exact name, so
    # no registration needed (and builtins cannot be shadowed). The
    # reference additionally maps NULL -> literal 'null'
    # (hive-udfs/.../http/UDFUrlEncoder.java:51); the Python helper
    # functions.url_encode() preserves that rule for strict parity.
    # Right-biased map merge, null args skipped
    # (reference: hive-udfs/.../commons/UDFMapAdd.java:45-62 merges N
    # maps). SQL UDFs are fixed-arity, but DEFAULT parameters (Spark 4)
    # make one registration accept 2..6 args — still Catalyst-inlined.
    # Null-skip = coalesce(x, map()); right bias needs
    # spark.sql.mapKeyDedupPolicy=LAST_WIN. Python API m_add() is
    # unboundedly variadic.
    "m_add": (
        "CREATE OR REPLACE TEMPORARY FUNCTION m_add("
        "a MAP<STRING,STRING>, b MAP<STRING,STRING>, "
        "c MAP<STRING,STRING> DEFAULT map(), d MAP<STRING,STRING> DEFAULT map(), "
        "e MAP<STRING,STRING> DEFAULT map(), f MAP<STRING,STRING> DEFAULT map()) "
        "RETURNS MAP<STRING,STRING> RETURN map_concat("
        "coalesce(a, map()), coalesce(b, map()), coalesce(c, map()), "
        "coalesce(d, map()), coalesce(e, map()), coalesce(f, map()))"
    ),
    # m_add3 kept as a back-compat alias (pre-variadic surface).
    "m_add3": (
        "CREATE OR REPLACE TEMPORARY FUNCTION m_add3(a MAP<STRING,STRING>, b MAP<STRING,STRING>, c MAP<STRING,STRING>) "
        "RETURNS MAP<STRING,STRING> RETURN map_concat("
        "coalesce(a, map()), coalesce(b, map()), coalesce(c, map()))"
    ),
    # StringUtils.strip(s, chars) — strip any of `chars` from both ends
    # (reference: README.md:179 uses reflect(); we use ANSI TRIM).
    "su_strip": (
        "CREATE OR REPLACE TEMPORARY FUNCTION su_strip(s STRING, chars STRING) "
        "RETURNS STRING RETURN trim(BOTH chars FROM s)"
    ),
    # Reference macro TP(fmt, t) = from_unixtime(t, fmt) (README.md:177).
    "tp": (
        "CREATE OR REPLACE TEMPORARY FUNCTION tp(fmt STRING, t BIGINT) "
        "RETURNS STRING RETURN from_unixtime(t, fmt)"
    ),
    # Reference macro default_now(x) (README.md:178).
    "default_now": (
        "CREATE OR REPLACE TEMPORARY FUNCTION default_now(x STRING) "
        "RETURNS STRING RETURN coalesce(x, date_format(current_timestamp(), \"yyyy-MM-dd'T'HH:mm\"))"
    ),
    # Kafka client default config maps
    # (reference: hive-udfs/.../kafka/KafkaHelper.java:81-115).
    "kf_consumer_cfgs": (
        "CREATE OR REPLACE TEMPORARY FUNCTION kf_consumer_cfgs() "
        "RETURNS MAP<STRING,STRING> RETURN map("
        "'group.id','data-misc-tools-spark',"
        "'enable.auto.commit','false',"
        "'max.poll.records','1000',"
        "'max.partition.fetch.bytes','2097152',"
        "'key.deserializer','org.apache.kafka.common.serialization.StringDeserializer',"
        "'value.deserializer','org.apache.kafka.common.serialization.StringDeserializer')"
    ),
    "kf_producer_cfgs": (
        "CREATE OR REPLACE TEMPORARY FUNCTION kf_producer_cfgs() "
        "RETURNS MAP<STRING,STRING> RETURN map("
        "'acks','all',"
        "'compression.type','gzip',"
        "'request.timeout.ms','1000',"
        "'key.serializer','org.apache.kafka.common.serialization.StringSerializer',"
        "'value.serializer','org.apache.kafka.common.serialization.StringSerializer')"
    ),
    # --- engine extensions exposed to SQL users (text analysis) ---
    "token_count": (
        "CREATE OR REPLACE TEMPORARY FUNCTION token_count(s STRING) "
        "RETURNS BIGINT RETURN size(filter(split(s, ' '), x -> x != ''))"
    ),
    "doc_fingerprint": (
        "CREATE OR REPLACE TEMPORARY FUNCTION doc_fingerprint(s STRING) "
        "RETURNS STRING RETURN md5(array_join(array_sort(array_distinct("
        "filter(split(lower(s), ' '), x -> x != ''))), ' '))"
    ),
    # SQL twin of operators/text.py:strip_html (same pattern chain and
    # entity order; see that docstring for the semantics contract) —
    # Catalyst-inlined, no Python
    "html_strip": (
        "CREATE OR REPLACE TEMPORARY FUNCTION html_strip(s STRING) "
        "RETURNS STRING RETURN trim(regexp_replace("
        "replace(replace(replace(replace(replace(replace("
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(s, "
        "'(?is)<script[^>]*>.*?</script>', ' '), "
        "'(?is)<style[^>]*>.*?</style>', ' '), "
        "'(?s)<!--.*?-->', ' '), "
        "'<[^>]+>', ' '), "
        "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), "
        "'&quot;', '\"'), '&#39;', ''''), '&amp;', '&'), "
        "'[ \\\\t\\\\n\\\\r]+', ' '))"
    ),
    # normalized levenshtein similarity, 4dp half-up via the integer
    # idiom (operators/dedup.py:editdist_pairs is the pair-join form)
    "levenshtein_sim": (
        "CREATE OR REPLACE TEMPORARY FUNCTION levenshtein_sim(a STRING, b STRING) "
        "RETURNS DOUBLE RETURN ("
        "(20000 * (greatest(length(a), length(b), 1) - levenshtein(a, b)) "
        "+ greatest(length(a), length(b), 1)) "
        "div (2 * greatest(length(a), length(b), 1))) / 10000.0D"
    ),
    # max_with (argmax UDAF, reference:
    # hive-udfs/src/test/resources/tests.sql:79-83) is NOT registered
    # here: Spark SQL UDFs cannot wrap aggregates and Spark's built-in
    # max_by(data, key) already IS this aggregate (args swapped).
    # Python API: functions.max_with(key, data); SQL: max_by(data, key).
}


def register_functions(spark: SparkSession) -> None:
    """Install the full SQL function surface on this session."""
    from data_misc_tools_spark.functions.tablefuncs import (
        register_http_table_functions,
    )

    for ddl in _SQL_UDFS.values():
        spark.sql(ddl)
    _register_http(spark)
    # SQL-callable table functions (the reference's lateral-view UX);
    # redis/zk table functions need a client factory and register via
    # functions.tablefuncs.register_{redis,zk}_table_functions.
    register_http_table_functions(spark)


def _register_http(spark: SparkSession) -> None:
    """Register ``http_get(url[, timeout[, headers]])`` and
    ``http_post(url[, timeout[, headers[, content]]])``, both returning
    ``HTTP_RESULT_TYPE``. Nondeterministic, so Catalyst neither folds
    nor duplicates them within a plan; a global ``ORDER BY`` above them
    or a second action still evaluates them again, so ``CACHE TABLE``
    an ``http_post`` result before sorting or re-reading it
    (operators/http.py module docstring, "Side effects")."""
    # Local import: the type hints below are evaluated here, and pandas
    # is loaded only by sessions that register the functions.
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from data_misc_tools_spark.operators.http import HTTP_RESULT_TYPE, request_batches

    def _get(batches: Iterator[tuple[pd.Series, ...]]) -> Iterator[pd.DataFrame]:
        return request_batches("GET", batches)

    def _post(batches: Iterator[tuple[pd.Series, ...]]) -> Iterator[pd.DataFrame]:
        return request_batches("POST", batches)

    for name, fn in (("http_get", _get), ("http_post", _post)):
        spark.udf.register(name, pandas_udf(fn, HTTP_RESULT_TYPE).asNondeterministic())
