"""Driver-side thread-pool helpers for overlapping independent Spark
jobs (guide §2.6).

Under PySpark's pinned-thread mode (the 3.2+ default) each Python
thread maps to its OWN JVM thread, so thread-local Spark properties —
job group, job description, scheduler pool — set in the caller are
NOT visible from a raw ``ThreadPoolExecutor`` worker thread. Jobs
submitted there escape ``setJobGroup``-based accounting (the measure
harness's job counts) and ``cancelJobGroup``-based cancellation
(ADVICE r17 #1). ``submit_inheriting`` re-establishes the caller's
properties inside the submitted callable before it runs, which is the
documented alternative to ``pyspark.InheritableThread`` for pool-based
submission."""

from __future__ import annotations

from concurrent.futures import Executor, Future
from typing import Any, Callable

_INHERITED_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
    "spark.scheduler.pool",
)


def submit_inheriting(
    pool: Executor, spark, fn: Callable[..., Any], *args: Any, **kw: Any
) -> Future:
    """``pool.submit(fn, *args, **kw)`` with the CALLER's job group /
    description / scheduler-pool properties set in the worker thread
    while the callable runs, so every job it issues is attributed (and
    cancellable) exactly as if it ran in the calling thread. The worker
    thread's own values are restored afterwards: a pooled thread must
    not carry this caller's group into its next task."""
    sc = spark.sparkContext
    props = [(p, sc.getLocalProperty(p)) for p in _INHERITED_PROPS]

    def run() -> Any:
        prior = [(p, sc.getLocalProperty(p)) for p in _INHERITED_PROPS]
        try:
            for key, val in props:
                sc.setLocalProperty(key, val)
            return fn(*args, **kw)
        finally:
            for key, val in prior:
                sc.setLocalProperty(key, val)

    return pool.submit(run)
