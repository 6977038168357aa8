"""Count the Spark jobs a piece of driver code starts.

A job group is a thread-local property, so only jobs submitted from the
calling thread are counted; the listener bus is drained before reading
the status tracker so that no finished job is missed.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

_GROUPS = itertools.count()


def jobs_started(spark, fn: Callable[[], object]) -> int:
    sc = spark.sparkContext
    group = f"tests-jobs-started-{next(_GROUPS)}"
    sc.setJobGroup(group, "jobs_started")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
