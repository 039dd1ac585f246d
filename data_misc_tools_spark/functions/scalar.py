"""Pure scalar / map functions.

Each mirrors one registered function of the reference's UDF library
but is expressed with JVM-side built-in expressions wherever possible
so it stays inside WholeStageCodegen — Python only appears where
semantics force it (and then documented).
"""

from __future__ import annotations

import urllib.parse

from pyspark.sql import Column
from pyspark.sql import functions as F


def url_encode(col: Column | str) -> Column:
    """UTF-8 URL-encode a string column.

    Parity: the reference encodes with ``URLEncoder.encode(s, "UTF-8")``
    and maps a NULL input to the literal string ``"null"`` (reference:
    hive-udfs/.../http/UDFUrlEncoder.java:26-63, null branch :51).
    Spark's built-in ``url_encode`` matches URLEncoder semantics
    (space→``+``), so we wrap it JVM-side and only add the null rule.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNull(), F.lit("null")).otherwise(F.url_encode(c))


def _py_url_encode(s: str | None) -> str:
    """Driver/row-level fallback with identical semantics (quote_plus ≈ URLEncoder)."""
    if s is None:
        return "null"
    # safe='*': URLEncoder keeps [a-zA-Z0-9.*_-]; quote_plus already
    # keeps ._- and escapes * unless told otherwise
    return urllib.parse.quote_plus(s, safe="*", encoding="utf-8")


def m_add(*maps: Column | str) -> Column:
    """Right-biased N-ary map merge: later maps overwrite earlier keys.

    Parity with the reference's N-ary HashMap union where null args are
    skipped and later arguments win (reference:
    hive-udfs/.../commons/UDFMapAdd.java:28-62). Implemented as
    ``map_concat`` over null-coalesced inputs; requires
    ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (set by the session
    factory) for the later-wins rule.
    """
    if not maps:
        raise ValueError("m_add requires at least one map column")
    cols = [F.col(m) if isinstance(m, str) else m for m in maps]
    # Null maps are *skipped* in the reference, not propagated.
    empty = F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))
    safe = [F.coalesce(c, empty) for c in cols]
    if len(safe) == 1:
        return safe[0]
    return F.map_concat(*safe)


def su_strip(col: Column | str, chars: str) -> Column:
    """Strip any of ``chars`` from both ends of a string column.

    The reference reaches this via Hive ``reflect('...StringUtils',
    'strip', s, '[]')`` (reference: README.md:179,208-212). Spark's
    ANSI ``TRIM(BOTH 'chars' FROM s)`` has exactly these semantics and
    stays JVM-side.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(c, F.lit(chars))


def tp(fmt: str, ts_col: Column | str) -> Column:
    """Format a unix-seconds timestamp with a pattern — the reference's
    ``TP`` temporary macro ``from_unixtime(t, fmt)`` (reference:
    README.md:177). The format is a constant parameter (as in the
    reference's macro), not a per-row column.
    """
    t = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return F.from_unixtime(t, fmt)


def default_now(ts_str_col: Column | str, fmt: str = "yyyy-MM-dd'T'HH:mm") -> Column:
    """``if(x IS NOT NULL, x, <now formatted>)`` — the reference's
    ``default_now`` macro (reference: README.md:178)."""
    c = F.col(ts_str_col) if isinstance(ts_str_col, str) else ts_str_col
    return F.when(c.isNotNull(), c).otherwise(F.date_format(F.current_timestamp(), fmt))


def cfgs(spark, pattern: str | None = None) -> dict[str, str]:
    """Runtime config snapshot as a dict, optionally regex-filtered.

    The reference's ``cfgs`` UDF is an (unfinished) config-lookup stub
    (reference: hive-udfs/.../commons/UDFCfgs.java:24-58); here it is a
    real driver-side helper over ``spark.conf``.
    """
    import logging
    import re

    from pyspark.errors import PySparkException

    all_cfg = dict(spark.sparkContext.getConf().getAll())
    try:  # runtime SQL confs too — plain collect, no Python-RDD job
        all_cfg.update({r[0]: r[1] for r in spark.sql("SET -v").collect()})
    except PySparkException:
        logging.getLogger(__name__).warning(
            "SET -v failed: runtime SQL confs left out", exc_info=True
        )
    if pattern:
        rx = re.compile(pattern)
        return {k: v for k, v in all_cfg.items() if rx.search(k)}
    return all_cfg
