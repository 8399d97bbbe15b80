"""Query-block runners for the lookup operators.

MELODY-Join answers a lookup by sending a small query side to every
partition of the large side (its kNN guest path, SURVEY.md §2.3 J5).  The
operators here (``emd_knn``, ``cosine_topk``, ``emd_index_search``,
``streaming_emd_join_nd``; ``ivf_search`` takes the probe only) supply two
functions and nothing else:

- ``prep(q_pdf) -> payload``: the query block in the form the kernel wants
  (ids, normalized weights, ...);
- ``block(payload, db_pdf) -> pdf``: one query block against one database
  block.

The EMD blocks stack [payload; block rows] into one cascade
(``emd_join_nd._stacked_cascade``): ``emd_knn`` runs its multi-step search
there, and ``emd_index_search`` and ``streaming_emd_join_nd`` share one
threshold block, ``_range_block``, verified by ``EmdCascade.verify``.

**Lookup** (:func:`lookup_rows` + :func:`broadcast_blocks`): the size probe
collects at most ``COLLECT_ROWS + 1`` query rows and is itself the
collect, so the query chain runs once and needs no cache.  ``prep`` runs
once on the driver, its payload is broadcast, and one ``mapInPandas`` runs
``block`` on every Arrow batch of the database.

**Blocked** (:func:`cogroup_blocks`): no driver collect.  The query side is
spread, persisted and counted, the database side only counted (caching its
payload costs more than the one re-execution it saves: persisting both sides
read 1.11x on ``emd_knn_big``).  Blocking is by row count: each
(q-block, db-block) group holds bq x bd rows with bq * bd <= 2^22, so the
per-group (nq, ndb) score or lower-bound matrix stays ~32 MB, and
bq / bd ~ nq / nd so neither side fragments; the replicated row volume
(nq * dcN + nd * qcN) then grows as ~sqrt of the total block work, the best
an all-pairs block cover can do.  (Scan partition counts are the wrong
signal: AQE coalesces the query chains to one partition on small inputs,
and the cached relation reports its pre-coalesce shape.)  The task count
is :func:`._width.task_width` of the nq x nd block entries, at the
operator's ``unit`` entries per task (its per-entry kernel cost against a
task's round trip); the group count is raised to at least that width,
scaling the query axis, so every task gets a group.  Queries hash into
``qcN`` blocks and replicate across the ``dcN`` database blocks and vice
versa; ``cogroup().applyInPandas`` runs ``prep`` once per group and then
``block``.  Both children are hash-repartitioned on the keys to that
width: the block work is CPU-bound while its shuffle bytes are small, so
AQE byte-coalescing would pack the stage onto a few tasks (5 tasks / 9.9 s
median on ``emd_knn_big``), and an explicit count satisfies CoGroup's
clustering requirement without an extra exchange.

Both paths run the same ``block`` on the same ``prep`` output, so they
return the same values; only the grouping of rows into blocks differs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist, release_on_gc
from ._sqltext import sql_longs
from ._width import spread, task_width

Prep = Callable[[pd.DataFrame], Any]
Block = Callable[[Any, pd.DataFrame], pd.DataFrame]

_BLOCK_ENTRIES = 1 << 22
# the largest query side a lookup collects onto the driver
COLLECT_ROWS = 8192


def lookup_rows(
    q: DataFrame, distributed: bool | None, op: str, alternative: str
) -> pd.DataFrame | None:
    """The size probe, which is also the collect: the query side as pandas
    when it has at most ``COLLECT_ROWS`` rows, else ``None`` (take the
    blocked path).  ``distributed=True`` skips the probe; ``False`` on an
    oversized query side raises ``ValueError`` naming ``alternative``."""
    if distributed:
        return None
    rows = q.limit(COLLECT_ROWS + 1).collect()
    if len(rows) <= COLLECT_ROWS:
        return pd.DataFrame(rows, columns=q.columns)
    if distributed is False:
        raise ValueError(
            f"{op}: query set exceeds {COLLECT_ROWS} rows; collecting it "
            f"would bottleneck the driver. {alternative}"
        )
    return None


def broadcast_blocks(
    db: DataFrame, payload: Any, block: Block, schema: str
) -> DataFrame:
    """Broadcast ``payload`` and run ``block(payload, pdf)`` on every Arrow
    batch of ``db`` in one ``mapInPandas``.  A ``None`` payload (no query
    rows) emits nothing."""
    b = db.sparkSession.sparkContext.broadcast(payload)

    def part(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        payload_ = b.value
        for pdf in it:
            if payload_ is None or not len(pdf):
                continue
            out = block(payload_, pdf)
            if len(out):
                yield out

    return db.mapInPandas(part, schema)


def cogroup_blocks(
    q: DataFrame,
    db: DataFrame,
    q_id: str,
    db_id: str,
    prep: Prep,
    block: Block,
    schema: str,
    unit: float,
) -> tuple[DataFrame, DataFrame]:
    """The blocked path (module docstring): returns the per-group output
    and the query side's cache handle, which the caller releases with its
    final result."""
    q = persist(spread(q))
    nq_rows = q.count()
    nd_rows = db.count()
    ratio = max(nq_rows, 1) / max(nd_rows, 1)
    bq = max(1, int((_BLOCK_ENTRIES * ratio) ** 0.5))
    bd = max(1, int((_BLOCK_ENTRIES / ratio) ** 0.5))
    qcN = max(1, -(-nq_rows // bq))
    dcN = max(1, -(-nd_rows // bd))
    width = task_width(q.sparkSession, nq_rows * nd_rows, unit)
    if qcN * dcN < width:
        qcN = -(-width // dcN)
    # key columns LONG on both sides: int-typed exploded literals silently
    # fail to align with pmod(xxhash64)'s long in the cogroup
    q2 = q.withColumn("qc", F.pmod(F.xxhash64(q_id), F.lit(qcN))).withColumn(
        "dc", F.explode(F.expr(sql_longs(range(dcN))))
    )
    d2 = db.withColumn("dc", F.pmod(F.xxhash64(db_id), F.lit(dcN))).withColumn(
        "qc", F.explode(F.expr(sql_longs(range(qcN))))
    )

    def group(qpdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(dpdf):
            return pd.DataFrame()
        return block(prep(qpdf), dpdf)

    local = (
        q2.repartition(width, "qc", "dc")
        .groupBy("qc", "dc")
        .cogroup(d2.repartition(width, "qc", "dc").groupBy("qc", "dc"))
        .applyInPandas(group, schema)
    )
    return local, q


def run_query_blocks(
    q: DataFrame,
    db: DataFrame,
    keys: tuple[str, str],
    prep: Prep,
    block: Block,
    schema: str,
    finish: Callable[[DataFrame], DataFrame],
    *,
    unit: float,
    distributed: bool | None,
    op: str,
) -> DataFrame:
    """Probe, then the lookup or the blocked path; ``finish`` turns the
    per-block output into the operator's result (the global ranking).
    ``unit`` is the block entries one blocked-path task should carry."""
    qpdf = lookup_rows(
        q, distributed, op, "Pass distributed=True (cogrouped block path)."
    )
    if qpdf is not None:
        payload = prep(qpdf) if len(qpdf) else None
        return finish(broadcast_blocks(db, payload, block, schema))
    local, held = cogroup_blocks(q, db, *keys, prep, block, schema, unit)
    return release_on_gc(finish(local), held)
