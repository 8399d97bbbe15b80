"""One way to materialize an operator intermediate and release it.

``persist(df)`` caches ``df`` plus a dropped literal column holding a tag
unique to the handle, giving every cache a private plan identity.  Spark
matches caches by analyzed-plan equality, so untagged twins share one entry,
one handle's ``unpersist()`` evicts the other's cache, and an operator cache
substitutes into any user plan of the same shape.  Tagged, ``unpersist()``
reaches only the handle's own entry.  The optimizer prunes the unused column,
so the cached plan is exactly the one ``df`` optimizes to (a tag *filter*
also gives private identity but perturbs predicate pushdown), and frames
derived from the handle read its in-memory columns with pruning.

Release is two-phase: ``release_on_gc(result, *cached)`` arms a weakref on
``result`` whose collection only marks the entry releasable; marked entries
are unpersisted at the next registration or ``drain()``.  Callers derive from
a result and drop it before the action runs, so unpersisting on collection
would evict a cache mid-query (early release costs a recompute, no more).
"""

from __future__ import annotations

import itertools
import weakref

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = ["persist", "release_on_gc", "drain", "release_caches"]

_ids = itertools.count()  # handle tags and entry keys
# handle -> its source frame: a release armed on the source waits for the handle
_made: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_entries: dict[int, list[DataFrame]] = {}
_releasable: set[int] = set()


def persist(df: DataFrame) -> DataFrame:
    """Lazily cache ``df`` under a private plan identity; a frame this
    helper made is returned unchanged."""
    if df in _made:
        return df
    tag = F.lit(f"melody_join_spark.cache:{next(_ids)}")
    out = df.withColumn("__cache_tag", tag).drop("__cache_tag").persist()
    _made[out] = df
    return out


def drain(force: bool = False) -> int:
    """Unpersist every entry whose result DataFrame has been collected by
    the garbage collector (all entries when ``force``).  Returns the number
    of entries released."""
    done = [k for k in _entries if force or k in _releasable]
    for k in done:
        for df in _entries.pop(k):
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped — nothing to release
    _releasable.intersection_update(_entries)
    return len(done)


def release_on_gc(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tie ``cached`` handles' lifetime to ``result`` (two-phase: mark on
    GC, unpersist at the next registration or explicit drain).  Only
    handles made by :func:`persist` are accepted."""
    if any(df not in _made for df in cached):
        raise ValueError("release_on_gc takes only frames made by cache.persist")
    drain()
    k = next(_ids)
    _entries[k] = list(cached)
    weakref.finalize(result, _releasable.add, k)
    return result


def release_caches(spark: SparkSession | None = None) -> None:
    """Release every tracked cache now; with ``spark`` also clear the
    session-level cache registry."""
    drain(force=True)
    if spark is not None:
        spark.catalog.clearCache()
