"""Count the Spark jobs one call starts."""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import SparkSession

# The local properties SparkContext.setJobGroup sets.
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def jobs_started(spark: SparkSession, fn: Callable[[], object]) -> int:
    """Spark jobs started while ``fn`` runs, counted by a fresh job
    group once the listener bus has delivered every event (the status
    tracker is fed by it). The thread's own job group (a streaming
    query's, inside ``foreachBatch``) is put back afterwards."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    group = f"jobs-started-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
