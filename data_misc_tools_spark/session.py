"""SparkSession factory with the configs required for semantic parity.

The reference ships a Hive site config enabling vectorization, CBO,
predicate pushdown, auto map-join etc. (reference:
data-process/spark-process/configs/configs.properties:1-37).  On Spark
all of those are Catalyst/Tungsten built-ins; the only session-level
work is (a) turning AQE on, (b) `mapKeyDedupPolicy=LAST_WIN` so map
merging keeps the *last* value for duplicate keys exactly like the
reference's N-ary map union (reference:
hive-udfs/.../commons/UDFMapAdd.java:45-62, HashMap.put semantics),
and (c) pinning the session timezone so timestamp semantics are
deterministic across engines.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "data-misc-tools-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    hive: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Parameters are environment-overridable so the same code runs on
    ``local[N]`` in tests and on a real cluster unchanged:

    - ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back
      to ``local[*]``) when no master is configured externally.
    - ``shuffle_partitions`` defaults to the local core count; on a
      cluster AQE coalesces/splits at runtime anyway.

    The session gets every SQL function (:func:`register_all`) and
    starts no Python process. The Python data sources (``zktree``,
    ``rediskeys``, ``warc``) are not registered here: call
    ``sources.pydatasource.register_python_datasources(spark)`` before
    reading them.
    """
    builder = SparkSession.builder.appName(app_name)
    if hive:
        # Hive-metastore-backed catalog (the reference runs against
        # HiveServer2). This only sets a conf; the Hive classes are
        # needed when the session is created.
        builder = builder.enableHiveSupport()

    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    conf = {
        # --- parity-critical ---
        # m_add merges maps right-biased (later args overwrite); Spark's
        # map_concat throws on duplicate keys unless LAST_WIN.
        "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
        # Deterministic timestamp semantics across Spark and the DuckDB
        # oracle: everything in UTC.
        "spark.sql.session.timeZone": "UTC",
        # --- scale/efficiency defaults ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Arrow for all pandas interchange (mapInPandas / pandas_udf).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # Parquet scans: vectorized reader + pushdown are default-on;
        # keep partition sizing explicit so 100TB scans split sanely.
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Driver heap must be sized WITH the broadcast threshold: a
        # 64 MB on-disk relation is several hundred MB as in-memory
        # rows, and Spark's local-mode default (1g) OOMs building it —
        # found by the sf1 scale stress (q3's AQE broadcast). Only
        # effective when this session launches the JVM; a cluster
        # submit that sets its own driver memory wins.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    register_all(spark)
    return spark


def local_df(spark: SparkSession, rows, schema, rows_per_slice: int = 100_000):
    """``createDataFrame`` for SMALL driver-local row lists without the
    32-way parallelize: a bare ``createDataFrame(list)`` splits the
    list into ``defaultParallelism`` slices, each served by its own
    Python worker — on a cold ``local[32]`` session that is 32 worker
    spawns (~5 s measured) to ship an 8-row frame. Centroid tables,
    global-rank offset maps and bounded report frames are all this
    shape; one slice is the right number (r10)."""
    if not rows:
        return spark.createDataFrame([], schema)
    n = max(1, (len(rows) + rows_per_slice - 1) // rows_per_slice)
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, n), schema)


def checkpoint_interpreted(df):
    """Eager ``localCheckpoint`` of a SMALL frame whose plan holds a
    HUGE expression tree, run with codegen disabled for just that job
    (r11): janino-compiling a multi-thousand-node writer CASE costs
    ~1 s while interpreted evaluation of a few hundred rows is
    milliseconds (measured 1.62 s -> 0.65 s on the media_meta blob
    checkpoint, bit-identical output). Confs are restored in a
    ``finally`` — the eager checkpoint executes inside the scope, so
    nothing else plans under the override. Use ONLY for bounded demo
    frames; codegen wins on real row counts. Assumes no concurrent
    planning: the confs are session-global, so a query planned from
    another thread during the checkpoint would plan under NO_CODEGEN."""
    spark = df.sparkSession
    prev_ws = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    prev_fm = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try:
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", prev_ws)
        spark.conf.set("spark.sql.codegen.factoryMode", prev_fm)


def session_cache(spark: SparkSession, name: str) -> dict:
    """A named per-session memoization dict stored ON the session
    object itself. An ``id(spark)``-keyed module dict can false-hit
    when a stopped session is GC'd and a new one reuses the address,
    and it leaks entries forever (ADVICE r4); an attribute dies with
    the session and can never collide."""
    st = getattr(spark, "_dmt_state", None)
    if st is None:
        st = {}
        spark._dmt_state = st
    return st.setdefault(name, {})


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    mapInPandas/UDF closures reference this package's modules; workers
    deserialize them by import, which fails unless the package is on
    the worker's path (only coincidentally true when the driver's cwd
    is the repo root). Zipping the package once and ``addPyFile``-ing
    it is the standard way a PySpark library ships itself — it works
    identically on local mode and a 1000-executor cluster.
    """
    cache = session_cache(spark, "shipped")
    if cache.get("done"):
        return
    spark.sparkContext.addPyFile(package_zip())
    cache["done"] = True


def package_zip() -> str:
    """Path of a zip of this package's sources, named by their hash.

    A zip left in the temp dir by another process or another version of
    the code has another name, so it is never shipped in place of the
    current sources; a zip with this name holds exactly these sources.
    It is written under a unique name and renamed into place, so a
    concurrent or interrupted writer never leaves a partial zip there.
    """
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = {}  # archive name -> bytes
    digest = hashlib.sha256()
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                name = os.path.relpath(full, os.path.dirname(pkg_dir))
                with open(full, "rb") as f:
                    sources[name] = f.read()
                digest.update(f"{name}\0{len(sources[name])}\0".encode() + sources[name])
    zpath = os.path.join(
        tempfile.gettempdir(), f"data_misc_tools_spark_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = f"{zpath}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for name, data in sources.items():
                z.writestr(name, data)
        os.replace(tmp, zpath)
    return zpath


def register_all(spark: SparkSession) -> SparkSession:
    """Register every SQL function this engine provides.

    The analog of the reference's ``setup.sql`` CREATE FUNCTION block
    (reference: hive-udfs/src/test/resources/setup.sql:6-56), so both
    ``spark.sql("select url_encode(...)")`` and the ``F``-style Python
    API work. Also ships the package to executors (see ship_package).

    Starts no Python process. The Python data sources are registered
    on first use, by ``sources.pydatasource.register_python_datasources``:
    Spark's first ``spark.dataSource.register`` starts a Python lookup
    daemon (``pyspark.sql.worker.lookup_data_sources``) that stays
    resident for the rest of the session, and no SQL function needs it.
    """
    from data_misc_tools_spark.functions.registry import register_functions

    # Memoized per session (the ship_package idiom): catalog queries
    # call this on every invocation, and re-registering ~15 SQL UDFs
    # per query is a measurable per-query fixed cost (the r3 bench
    # drift on shared queries: +0.2-0.4 s each in 158-query sessions).
    cache = session_cache(spark, "registered")
    if cache.get("done"):
        return spark
    ship_package(spark)
    register_functions(spark)
    cache["done"] = True
    return spark


def nanos_ts_columns(path: str) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) at ``path``, a
    parquet file or a directory of them.

    Spark has no nanosecond timestamp type; such columns are read as
    raw longs (``spark.sql.legacy.parquet.nanosAsLong``) and converted
    to microsecond timestamps by :func:`read_parquet_table`. A path
    pyarrow cannot open (a URI scheme it has no filesystem for) yields
    no columns, and is logged.
    """
    import pyarrow as pa
    import pyarrow.dataset as ds

    try:
        # A directory's schema comes from its data files; like Spark,
        # the dataset skips names starting with "_" or "." (_SUCCESS).
        schema = ds.dataset(path, format="parquet").schema
    except (OSError, pa.ArrowInvalid) as e:
        logging.getLogger(__name__).warning(
            "cannot read the parquet schema of %s, no column is taken "
            "as TIMESTAMP(NANOS): %s", path, e
        )
        return []
    return [
        f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def read_parquet_table(spark: SparkSession, path: str):
    """``spark.read.parquet`` with transparent TIMESTAMP(NANOS) handling.

    Nanos columns come in as longs and are truncated to micros with
    integer division (``div`` — double math would lose precision above
    2^53 ns) before ``timestamp_micros``. Plain columns pass through
    untouched, so pushdown/pruning are unaffected for them.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Parquet micros timestamps without isAdjustedToUTC would otherwise
    # surface as TIMESTAMP_NTZ, which unix_millis/session_window reject;
    # with the session timezone pinned to UTC the LTZ reading is
    # value-identical, so read them as plain TIMESTAMP.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(path)
    for c in nanos_ts_columns(path):
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register the driver's parquet tables as temp views; returns dict of DataFrames.

    Reads are plain ``spark.read.parquet`` so Catalyst gets column
    pruning + filter pushdown on every query. The returned DataFrames
    are memoized per (session, dir, table): a DataFrame is an
    immutable logical plan, and rebuilding it costs a parquet footer
    read + a schema-inference RPC (~0.1 s/table) on EVERY catalog
    query — the dominant per-query fixed cost in multi-query sessions
    (the r3 bench drift).
    """
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    table_cache = session_cache(spark, "tables")
    out = {}
    for name in names:
        key = (sf_dir, name)
        df = table_cache.get(key)
        if df is None:
            df = read_parquet_table(spark, f"{sf_dir}/{name}.parquet")
            table_cache[key] = df
        # Re-pointing the temp view is a driver-side catalog map put
        # (no footer read, no RPC) — always doing it keeps sessions
        # that alternate sf_dirs correct AND restores a view some
        # other code dropped (ADVICE r4); the expensive part, the
        # DataFrame build, stays memoized above.
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
