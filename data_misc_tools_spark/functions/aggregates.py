"""Aggregate functions.

The reference ships one custom UDAF: an argmax (`max_with`) keeping
the *data* value paired with the maximum *key*, implemented as a
two-phase partial/merge aggregate (reference:
hive-udfs/.../commons/UDAFCmpBase.java:28-224). Spark has this
built in as ``max_by`` (a partial and a final aggregate, map-side
combine for free: ``HashAggregate`` when data and key are fixed-width,
``SortAggregate`` after a sort when either is a string, struct or
other variable-width type), so our argmax is a thin argument-order
adapter — no custom aggregation code.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def max_with(key: Column | str, data: Column | str) -> Column:
    """Return the ``data`` value associated with the maximum ``key``.

    Argument order matches the reference (`max_with(key, data)`,
    reference: hive-udfs/src/test/resources/tests.sql:79-83); in SQL
    use the built-in ``max_by(data, key)`` (args swapped).
    NULL keys are ignored, matching the reference's iterate() which
    skips null keys (UDAFCmpBase.java:155-172).
    """
    k = F.col(key) if isinstance(key, str) else key
    d = F.col(data) if isinstance(data, str) else data
    return F.max_by(d, k)


def min_with(key: Column | str, data: Column | str) -> Column:
    """Argmin twin of :func:`max_with` (`min_by`)."""
    k = F.col(key) if isinstance(key, str) else key
    d = F.col(data) if isinstance(data, str) else data
    return F.min_by(d, k)
