"""Tracked persistence for pipeline intermediates.

Near-dup pipelines persist small derived tables (signature tables,
candidate pairs) that feed multiple join branches — the persist is
load-bearing (exchange reuse is not guaranteed across differently-
aliased branches), but the returned result is LAZY, so the pipeline
function cannot unpersist before its caller has collected. In a
one-shot gate the executor cache dies with the session; in a
long-lived service loop an untracked persist is a leak.

Resolution: pipelines persist through `persist_tracked`, and the
session owner calls `release_cached()` once results are materialized
(written/collected). This keeps the lazy-DataFrame contract intact
while making cache lifetime explicit.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

_PERSISTED: list = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() a DataFrame and register it for release_cached()."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def cache_tracked_rdd(rdd):
    """cache() an RDD and register it for release_cached() — the RDD
    twin of persist_tracked (MLlib's RDD-API kernels need it)."""
    rdd = rdd.cache()
    _PERSISTED.append(rdd)
    return rdd


def release_cached() -> int:
    """Unpersist every tracked intermediate; returns how many were
    released. Safe to call repeatedly (idempotent) and with results
    already collected — recomputation only occurs if a released
    intermediate is re-executed afterwards."""
    n = 0
    for df in _PERSISTED:
        try:
            df.unpersist()
            n += 1
        except Py4JJavaError:  # persisted in a context since stopped
            pass
    _PERSISTED.clear()
    return n
