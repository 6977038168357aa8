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


def jobs_during(spark, fn: Callable[[], object]) -> list[str]:
    """Name and description of every job started while `fn` ran, from
    any thread (the clone's table pool included): the status store's
    jobs whose ids come after the newest one before the call. Valid
    only while nothing else submits jobs, as in a test session."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = sc._jsc.sc().statusStore()
    bus.waitUntilEmpty()
    jobs = store.jobsList(None)  # newest first
    before = jobs.apply(0).jobId() if jobs.size() else -1
    fn()
    bus.waitUntilEmpty()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() <= before:
            break
        desc = job.description()
        out.append(f"{job.name()}: {desc.get() if desc.isDefined() else ''}")
    return out
