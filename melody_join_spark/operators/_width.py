"""Task widths for the Python runners, derived from the work they carry.

MELODY-Join and the EMD MapReduce join size their reducers by estimated
candidate load, not by a fixed count.  Every operator stage here that picks
its own task count does the same through :func:`task_width`: the driver
passes the work estimate it already holds (candidate pairs, block entries,
rows) and the number of work units one task must carry to repay its fixed
cost.

That fixed cost is the per-task round trip of a ``mapInPandas`` /
``applyInPandas`` task (Arrow batches in and out, the worker hand-off, the
per-partition cascade set-up).  On a 4-core ``local[4]`` host the 900-row
d=3 grid self-join's runner stage took 2.8-3.2 s in 32 tasks while its own
work, 65,422 candidate pairs and 321 exact LPs, is well under 0.5 s: 8
waves of ~0.35 s, so a task costs about ``TASK_S = 0.3`` s before it does
any work.  Most of that turned out to be pyspark's per-task re-read of every
zip archive on the worker's path, which ``melody_join_spark._daemon`` now
skips: on the same host a no-op 32-task ``mapInPandas`` stage over 3,200
rows fell from 2.2-3.0 s to 1.05-1.25 s, a task from launch to finish from a
median of 0.24-0.35 s to 0.11-0.14 s.  ``TASK_S`` keeps its 0.3 s, so every
width, plan shape and task count stays as it was; re-deriving it from the
new round trip needs its own A/B.  A unit is then ``TASK_S`` over the
per-unit cost of the stage:

- a candidate pair through the bound cascade costs ~6.4 us
  (``kernel.bounds_us_per_pair`` of perfbench's kernel probe), so a runner
  task should carry ``EMD_PAIRS`` ~ 47k candidate pairs;
- the JVM cross joins (``cosine_pairs``, the 1-D bruteforce EMD joins) are
  not Python runners: a task there costs far less, and ``CROSS_PAIRS`` =
  2e6 pair expressions (dim <= 64; sf0.1's 6.4k vectors = 2.0e7 pairs over
  32 tasks ~ 1 s total) keeps one in the tens-of-ms band;
- the other sites derive theirs the same way, next to their own per-unit
  cost (``similarity`` for the cosine kernels, ``emd_join_nd`` for the
  per-row stages).

The result is clamped to ``[1, WAVES x defaultParallelism]``: small work gets
only the tasks it can repay, and large work spans every core in several
waves.  Eight waves is the old shuffle-partition count on a 4-core host, so
big work never packs more into one task than before: an sf1 d=3 grid join
at 4 waves (16 runner tasks on 4 cores) ran the host out of memory where
32 tasks finished, and which part of a task's memory filled it has not
been measured.
Nothing here reads ``spark.sql.shuffle.partitions``: that setting sizes
the SQL shuffles, which are not Python runners.

:func:`spread` is the one guard that widens a narrow input before a heavy
per-row stage, by the same width.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame

TASK_S = 0.3
EMD_PAIRS = int(TASK_S / 6.4e-6)
CROSS_PAIRS = 2_000_000
WAVES = 8


def task_width(spark, work: float | None, unit: float) -> int:
    """Tasks for a stage carrying ``work`` units, each task at least
    ``unit`` of them: ``clamp(ceil(work / unit), 1, WAVES x
    defaultParallelism)``.  Unknown work (``None``) gets one wave, one task
    per core."""
    dp = int(spark.sparkContext.defaultParallelism)
    if work is None:
        return dp
    return int(min(max(math.ceil(work / unit), 1), WAVES * dp))


# a plan line whose operator is wide: probing the partition count of such a
# plan under AQE executes its query stages.  `Repartition n, false` is
# coalesce() — narrow; `Repartition n, true` is an explicit shuffle.
_WIDE = re.compile(
    r"(?m)^[ :+\-]*(Aggregate|Join|Window|Sort"
    r"|RepartitionByExpression|RebalancePartitions|Deduplicate"
    r"|GlobalLimit|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas)\b"
    r"|Repartition \d+, true"
)


def _above_caches(plan: str) -> str:
    """The plan text without the subtree under each ``InMemoryRelation``
    (the cached plan, which a probe of the cache does not run)."""
    kept, skip = [], None
    for ln in plan.splitlines():
        indent = len(ln) - len(ln.lstrip(" :+-"))
        if skip is not None and indent > skip:
            continue
        skip = indent if "InMemoryRelation" in ln else None
        kept.append(ln)
    return "\n".join(kept)


def spread(df: DataFrame, rows: int | None = None, unit: float = 1) -> DataFrame:
    """Widen a narrow input before a heavy per-row stage.

    Scan partitioning is byte-sized, blind to per-row compute: a corpus or
    a dense histogram table that arrives as one small file runs every
    per-row expression or UDF on one core (measured 13.7 s single-task vs
    ~0.6 s spread for the winnowing hash at sf0.1; the grid join's
    per-record work at sf1 once ran as a single 456 s task).  The width is
    ``task_width(spark, rows, unit)``: a caller that knows the row count
    passes it with the rows one task must carry, and a tiny table stays
    narrow (72 media rows in 32 tasks measured +0.9-1.0 s); without a
    count the width is one task per core.  The input is round-robin
    repartitioned to the width when it has fewer partitions; otherwise, and
    at real scale with many file splits, nothing changes and no shuffle is
    added.

    The guard never executes an upstream chain: probing the partition
    count of a plan with a wide operator runs its query stages under AQE
    (measured +4 s per grid query on the sf0.1 bridge chains and +8 s on
    the pipeline_llm_prep capstone), so such a plan comes back untouched.
    The check reads the cache-substituted plan, so a cached frame, and a
    narrow projection of one, is probed on its in-memory relation.
    """
    plan = df._jdf.queryExecution().withCachedData().toString()
    if _WIDE.search(_above_caches(plan)):
        return df
    width = task_width(df.sparkSession, rows, unit)
    n = df.rdd.getNumPartitions()
    if n < width:
        return df.repartition(width)
    return df
