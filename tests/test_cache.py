"""Regression tests for the "second execution costs 3x" defect class.

``DataFrame.unpersist()`` uncaches by analyzed-plan equality, so draining a
DEAD query's persist handle used to evict a LIVE, identically-planned cache
of a later query — ``dedup_clusters`` (which runs jaccard_pairs internally)
followed by ``dedup_jaccard_ngram`` recomputed the tokenize+freq+groupBy
chain three times (21.6 s vs 6.9 s at sf0.1).  ``cache.persist`` gives each
handle a private plan identity, so a handle's release reaches only its own
cache entry.
"""

from __future__ import annotations

import gc
import pathlib
import re
import time

import pytest
from pyspark.sql import functions as F

from melody_join_spark import cache

SF = "/root/testdata/sf0.001"


def _tiny(spark):
    """A deterministic small DF whose plan is identical across calls."""
    return (
        spark.range(0, 1000)
        .select(F.col("id"), (F.col("id") % 7).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )


def test_drain_protects_live_plan_twin(spark):
    """Draining a dead handle must NOT evict a live, identically-planned
    cache registered by a later query (Spark uncaches by plan equality)."""
    cache.drain(force=True)
    c0 = cache.persist(_tiny(spark))
    r0 = c0.select(F.sum("n").alias("s"))
    cache.release_on_gc(r0, c0)
    r0.count()
    del r0, c0
    gc.collect()  # entry 0 marked releasable, drained at next registration

    c1 = cache.persist(_tiny(spark))  # SAME source plan as c0
    r1 = c1.select(F.sum("n").alias("s"))
    # this drain unpersists the dead c0 handle; a plan-matching uncache
    # would also kill c1's registration
    cache.release_on_gc(r1, c1)
    r1.count()
    assert c1.storageLevel.useMemory, (
        "live twin's cache was evicted by draining the dead handle"
    )
    del r1, c1
    gc.collect()
    cache.drain()


def test_drain_skips_foreign_recached_twin(spark):
    """Round-12 defect: a dead handle drained DURING a newer same-planned
    query's construction (after its persist+materialize, before its own
    release_on_gc) must not evict the new cache, which is in the
    CacheManager but not yet registered for release."""
    cache.drain(force=True)
    c0 = cache.persist(_tiny(spark))
    r0 = c0.select(F.sum("n").alias("s"))
    cache.release_on_gc(r0, c0)
    r0.count()
    spark.catalog.clearCache()  # what bench.py does between queries
    del r0, c0
    gc.collect()  # entry 0 marked releasable

    # the "newer query": persist + materialize the SAME plan, but do NOT
    # register it yet (its release_on_gc would come at construction end)
    c1 = cache.persist(_tiny(spark))
    c1.count()
    # an inner operator's registration fires the drain of the dead entry;
    # c1 is not registered yet
    other = cache.persist(spark.range(0, 5))
    cache.release_on_gc(other.select(F.sum("id").alias("s")), other)
    assert c1.storageLevel.useMemory, (
        "dead handle's drain evicted the newer query's re-registered cache"
    )
    del c1, other
    gc.collect()
    cache.drain(force=True)


def test_drain_force_still_releases_everything(spark):
    """release_caches/force releases live entries too: everything goes."""
    cache.drain(force=True)
    c0 = cache.persist(_tiny(spark))
    r0 = c0.select(F.sum("n").alias("s"))
    cache.release_on_gc(r0, c0)
    r0.count()
    assert c0.storageLevel.useMemory
    cache.drain(force=True)
    assert not c0.storageLevel.useMemory
    assert len(cache._entries) == 0


def _host_steal_pct(seconds: float = 1.0) -> float:
    def stat():
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    s0 = stat()
    time.sleep(seconds)
    s1 = stat()
    d = [b - a for a, b in zip(s0, s1)]
    tot = sum(d) or 1
    return 100.0 * d[7] / tot if len(d) > 7 else 0.0


def test_jaccard_second_execution_cache_survives(spark):
    """The exact defect sequence: jaccard chain executed twice in one
    session, the first result dead before the second constructs.  The
    second run's internal docs cache must survive its own construction
    (deterministic assert), and its wall must be in the first run's band
    (timing assert, generous slack, skipped on contended hosts)."""
    from melody_join_spark.operators.dedup import jaccard_pairs

    cache.drain(force=True)
    docs = spark.read.parquet(f"{SF}/documents.parquet")

    t0 = time.time()
    r1 = jaccard_pairs(docs, threshold=0.6, ngram=4)
    n1 = r1.count()
    wall1 = time.time() - t0
    spark.catalog.clearCache()  # what bench.py does between queries
    del r1
    gc.collect()

    t0 = time.time()
    r2 = jaccard_pairs(docs, threshold=0.6, ngram=4)
    # deterministic core assert: the fresh docs persist survived the drain
    # that ran inside release_on_gc during construction
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert not jcm.isEmpty(), (
        "second execution's internal cache was evicted at construction time"
    )
    n2 = r2.count()
    wall2 = time.time() - t0
    assert n2 == n1
    del r2
    gc.collect()
    cache.drain()

    if _host_steal_pct() > 1.0:
        pytest.skip("contended host: timing ratio not meaningful")
    # before the fix run 2 recomputed the docs chain 3x (the prefix explode
    # and both verify sides); 2.5x slack absorbs same-host noise while still
    # catching the defect's 3x signature
    assert wall2 <= max(2.5 * wall1, wall1 + 2.0), (wall1, wall2)


def test_helper_cache_stays_out_of_raw_twin(spark):
    """A helper handle's cache never substitutes into the same chain built
    by a user, while frames derived from the handle read it."""
    cache.drain(force=True)
    h = cache.persist(_tiny(spark))
    assert cache.persist(h) is h
    h.count()

    def cached_plan(df):
        return df._jdf.queryExecution().withCachedData().toString()

    assert "InMemoryRelation" in cached_plan(h.select("n"))
    assert "InMemoryRelation" not in cached_plan(_tiny(spark))
    with pytest.raises(ValueError, match="cache.persist"):
        cache.release_on_gc(h, _tiny(spark))
    cache.release_on_gc(h.select("n"), h)
    cache.drain(force=True)


def test_library_persists_only_through_cache_helper():
    """Every library cache goes through ``cache.persist``: a raw
    ``.persist(`` elsewhere would bring plan-shared caches back."""
    root = pathlib.Path(__file__).resolve().parents[1]
    helper = root / "melody_join_spark" / "cache.py"
    files = sorted((root / "melody_join_spark").rglob("*.py"))
    files.append(root / "__spark_entry__.py")
    hits = [
        f"{f.relative_to(root)}:{i}"
        for f in files
        if f != helper
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if re.search(r"\.persist\(", line)
    ]
    assert not hits, hits


def test_operators_size_tasks_only_through_width_helper():
    """Every operator task count comes from ``_width.task_width``: reading
    ``spark.sql.shuffle.partitions`` or ``defaultParallelism`` elsewhere
    under ``operators/`` would bring back a fixed width that ignores the
    work a task carries."""
    root = pathlib.Path(__file__).resolve().parents[1]
    ops = root / "melody_join_spark" / "operators"
    helper = ops / "_width.py"
    hits = [
        f"{f.relative_to(root)}:{i}"
        for f in sorted(ops.rglob("*.py"))
        if f != helper
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if re.search(r"shuffle\.partitions|defaultParallelism", line)
    ]
    assert not hits, hits
