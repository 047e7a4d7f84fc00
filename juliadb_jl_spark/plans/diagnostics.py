"""Execution diagnostics (reference src/diagnostics.jl: tracktime /
fetch_timings! build an NDSparse of per-task timings from Dagger's event
log).  Spark's analogue: job/stage counters from the status tracker plus
wall time, captured per labeled block and surfaced as a Table — the deep
per-task view lives in the Spark UI/event log, which the engine leaves on.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import SparkSession

_EVENTS: list[dict] = []


def compiled_classes(spark: SparkSession) -> int:
    """Generated classes the session's JVM has compiled so far: the
    sample count of Spark's codegen compile-time histogram.  A class
    served from the codegen cache is not compiled again, so the
    difference of two reads is what a block of work compiled."""
    return int(spark.sparkContext._jvm.org.apache.spark.metrics.source
               .CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


@contextmanager
def tracktime(label: str, spark: SparkSession | None = None):
    """Context manager timing a block of engine work:

        with tracktime("load+groupby", spark):
            out = jdb.groupby(...).collect()

    Records elapsed seconds (a monotonic clock; ``ts`` is the wall
    timestamp at the block's end), how many Spark jobs/stages the block
    ran, and how many generated classes it compiled (``n_compiled``;
    0 when every class came from the codegen cache).  `timings()`
    returns everything recorded so far as a pandas frame (reference
    `fetch_timings!` → time_table shape)."""
    spark = spark or SparkSession.getActiveSession()
    tracker = spark.sparkContext.statusTracker()
    jobs0 = set(tracker.getJobIdsForGroup(None) or [])
    compiled0 = compiled_classes(spark)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        elapsed = time.perf_counter() - t0
        n_compiled = compiled_classes(spark) - compiled0
        jobs1 = set(tracker.getJobIdsForGroup(None) or [])
        new_jobs = jobs1 - jobs0
        n_stages = 0
        for j in new_jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                n_stages += len(info.stageIds)
        _EVENTS.append({"label": label, "seconds": round(elapsed, 4),
                        "n_jobs": len(new_jobs), "n_stages": n_stages,
                        "n_compiled": n_compiled, "ts": time.time()})


def timings() -> pd.DataFrame:
    """All recorded blocks (reference fetch_timings!)."""
    return pd.DataFrame(_EVENTS, columns=["label", "seconds", "n_jobs",
                                          "n_stages", "n_compiled", "ts"])


def reset_timings() -> None:
    _EVENTS.clear()


# Imperative form of the same tracker (reference start_tracking_time /
# stop_tracking_time / fetch_timings!, src/diagnostics.jl)
_ACTIVE: list = []


def start_tracking_time(label: str = "tracked",
                        spark: SparkSession | None = None) -> None:
    cm = tracktime(label, spark)
    cm.__enter__()
    _ACTIVE.append(cm)


def stop_tracking_time() -> None:
    if _ACTIVE:
        _ACTIVE.pop().__exit__(None, None, None)


def fetch_timings() -> pd.DataFrame:
    return timings()
