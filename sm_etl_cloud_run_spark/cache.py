"""Tracked persistence — explicit lifecycle for intra-query caches.

Several operators persist an intermediate relation that feeds multiple
plan branches (`distributed_rank`'s range-partitioned input, the
SimHash fingerprint table, the k-NN edge list — each measured 2-50x
at the 16x probe when cached). Those caches are QUERY-scoped: once the
result is materialized they are dead weight, and in a long-lived
session running many registry queries back-to-back they accumulate
until Spark's LRU eviction starts thrashing executor storage
(VERDICT r5 ADVICE).

The DataFrame API cannot unpersist "after the action" from inside a
lazy plan builder, so the lifecycle is explicit and caller-driven:

- operators call :func:`persist_tracked` instead of ``.persist`` —
  same persistence, plus registration in a module-level list;
- query runners (bench.py, tools/check_parity.py, the driver's
  collect loop via ``__spark_entry__``) call :func:`release_tracked`
  after materializing each query's result.

``release_tracked`` is safe to call at any time: unpersisting a
relation never changes results, it only drops the cached copy
(blocking=False, so the drop is async and costs the caller nothing).
A runner that forgets to call it degrades to today's LRU behavior —
strictly no worse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_TRACKED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """Persist `df` (MEMORY_AND_DISK: spill, never OOM) and register it
    for a later :func:`release_tracked` sweep."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _TRACKED.append(out)
    return out


def release_tracked() -> int:
    """Unpersist every tracked relation (async); returns how many were
    released. Call after materializing a query's result."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n
