"""Cache/broadcast lifecycle tracking (VERDICT r2 item 6).

Several operators cache UDF-computed intermediates (minhash/simhash block
tables, normalized record tables) or create Spark broadcasts (record
lookups for the gather path of the pair kernels). Each is correct and
cheap in isolation, but a long-lived session running the whole registered
query suite accumulates every one of them in executor storage memory —
none of the builders can safely unpersist what the caller has not yet
consumed (the returned DataFrames are lazy).

The contract here makes the leak bounded and explicit:

- builders register every call-local cache/broadcast via :func:`track`;
- harnesses (bench.py, tests/oracle_check.py, the driver-facing registry
  in queries.py) call :func:`release_session_storage` *between* top-level
  queries — i.e. at a point where the previous query's result has been
  fully consumed, which is exactly the driver's build→collect→next loop;
- long-lived owners (e.g. ``Deduper``'s record lookup, reused across an
  active-learning session) manage their own objects and simply don't
  track them.

``release_session_storage`` also unpersists any remaining persistent RDDs
(``localCheckpoint`` blocks pin storage the same way caches do) and clears
the SQL cache — safe only under the between-queries contract above, since
a localCheckpoint RDD cannot be recomputed once its blocks are dropped.
"""

from __future__ import annotations

import threading
from typing import Any

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

_LOCK = threading.Lock()
_TRACKED: list[Any] = []


def track(obj: Any) -> Any:
    """Register a call-local cached DataFrame / Broadcast / RecordLookup
    for release at the next :func:`release_session_storage`. Returns the
    object so call sites stay one-liners (``track(df.cache())``); None
    passes through untracked (``track(try_build_lookup(...))``)."""
    if obj is not None:
        with _LOCK:
            _TRACKED.append(obj)
    return obj


def tracked_count() -> int:
    return len(_TRACKED)


def release_tracked() -> int:
    """Unpersist/destroy every tracked object. A py4j error (a released
    SparkContext, an already-destroyed broadcast) is not an error at
    cleanup time and is skipped; any other error propagates."""
    n = 0
    while _TRACKED:
        obj = _TRACKED.pop()
        try:
            if isinstance(obj, DataFrame):
                obj.unpersist()
            else:  # Broadcast or RecordLookup — both expose destroy()
                obj.destroy()
            n += 1
        except Py4JError:
            pass
    return n


def release_session_storage(spark: SparkSession) -> dict:
    """Release tracked objects AND all persistent RDDs + SQL cache.

    Call ONLY between top-level queries (previous results fully consumed):
    dropping a localCheckpoint RDD that a pending DataFrame still needs is
    unrecoverable. bench.py, tests/oracle_check.py and the queries.py
    registry honor this; ad-hoc sessions interleaving lazy pipelines
    should call :func:`release_tracked` only.
    """
    released = release_tracked()
    n_rdd = 0
    try:
        # py4j exposes the Java map as a Python mapping; snapshot the values
        # first — unpersist mutates the underlying persistentRdds map
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jmap.values()):
            try:
                jrdd.unpersist()
                n_rdd += 1
            except Py4JError:
                pass
        spark.catalog.clearCache()
    except Py4JError:
        pass
    return {"tracked_released": released, "rdds_unpersisted": n_rdd}
