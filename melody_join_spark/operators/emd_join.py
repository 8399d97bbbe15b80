"""EMD similarity joins — threshold (range) and top-k (rank), Spark-first.

Reference query semantics (/root/reference/README.md:9-11,
src/com/iojin/melody/mr/normal/NEProcessReducer.java:195-266):
- threshold: all unordered pairs (a, b) with EMD(a, b) <= theta
- top-k: the k smallest-EMD pairs over the full self cross product

Strategies:

``bruteforce`` — the correctness oracle (BSP baseline semantics, J7,
bsp/BaselineBSP.java:274-345): cross join + ``rid < sid`` + pair-EMD
expression.  For d=1 histograms the pair EMD is a pure Spark SQL expression
over precomputed prefix-sum columns (zip_with + aggregate) — whole-stage
codegen, zero Python in the pair loop.

``cells`` — the scalable plan (MELODY J1's partition-then-prune reshaped for
Catalyst): records are assigned to 1-D grid cells of width theta on their
mean position (the Rubner/projection coordinate, a contraction of EMD:
|mean(a) - mean(b)| <= EMD(a, b)); a matching pair can differ by at most one
cell, so the cross join becomes a shuffle *equi-join* on cell id — native
pairs within a cell plus native x guest pairs with the neighbor cell.  Each
unordered pair is produced exactly once (same-cell via rid < sid; cross-cell
via the native-cell < guest-cell rule, the Spark equivalent of
QNEProcessMapper.shouldDistribute:371-395).

At scale this is one shuffle on an equi-key (AQE handles skewed cells), and
the per-pair EMD stays a codegen expression; cells with huge populations
degrade gracefully because the cheap |mean diff| <= theta predicate prunes
inside each cell before the EMD expression runs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..cache import persist, release_on_gc
from ..kernel.cascade import TIE_SLACK
from ._sqltext import sql_doubles
from ._width import CROSS_PAIRS, task_width

__all__ = [
    "pair_emd_expr",
    "with_mean_position",
    "emd_threshold_join",
    "emd_topk_join",
]


def pair_emd_expr(
    cum_a="cum_a", cum_b="cum_b", total_a="total_a", total_b="total_b",
    positions: np.ndarray | None = None,
):
    """Spark Column computing EMD_1d between two histogram records from
    prefix-sum + total columns (see operators/histograms.py for the exact
    integer-stable formulation).  ``positions`` (sorted bin positions) scales
    each CDF-step by its bin spacing; None = unit spacing."""
    ta, tb = F.col(total_a), F.col(total_b)
    diffs = F.zip_with(cum_a, cum_b, lambda x, y: F.abs(x * tb - y * ta))
    if positions is not None:
        dx = [*np.diff(np.asarray(positions, dtype=np.float64)), 0.0]
        diffs = F.zip_with(diffs, F.expr(sql_doubles(dx)), lambda d, s: d * s)
    num = F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)
    return num / (ta * tb)


def with_mean_position(df: DataFrame, positions: np.ndarray | None = None) -> DataFrame:
    """Add ``mpos`` = mean position of the normalized histogram = sum_k
    wn_k * x_k.  This is the 1-D Rubner (centroid) coordinate
    (DistanceUtil.getRubnerEmd, utils/DistanceUtil.java:184-230):
    |mpos_a - mpos_b| <= EMD(a, b)."""
    if positions is None:
        idx = F.transform(F.sequence(F.lit(0), F.size("w") - 1), lambda i: i.cast("double"))
    else:
        idx = F.expr(sql_doubles(np.asarray(positions)))
    dot = F.aggregate(
        F.zip_with("w", idx, lambda wv, x: wv * x), F.lit(0.0), lambda a, x: a + x
    )
    return df.withColumn("mpos", dot / F.col("total"))


def _pair_frame(hist: DataFrame, side: str) -> DataFrame:
    keep = [c for c in ("id", "cum", "total", "mpos", "cell") if c in hist.columns]
    return hist.select(*[F.col(c).alias(f"{c}_{side}") for c in keep])


def emd_threshold_join(
    hist: DataFrame,
    threshold: float,
    positions: np.ndarray | None = None,
    strategy: str = "cells",
    other: DataFrame | None = None,
) -> DataFrame:
    """All pairs with EMD <= threshold.

    ``hist`` must carry (id, w, total, cum) per operators/histograms.py.
    Self-join (``other=None``): unordered pairs, rid < sid.  Two-table
    (``other`` given): every (r in hist, s in other) qualifying pair —
    rid is hist's id, sid is other's; ids may overlap between tables.
    Returns DataFrame(rid, sid, emd).
    """
    if other is not None:
        # two-table R x S cells plan: cell width = threshold, so a
        # qualifying partner sits in the R row's cell +-1; R rows probe all
        # three cells via a 3-way explode, the join is a single equi-join
        # on cell, and each (r, s) pair meets exactly once (at s's cell).
        # Pure codegen like the self-join path.
        cw = float(threshold)
        # persist each side like the self-join path persists h: without the
        # materialization boundary, CollapseProject inlines the O(B^2) cum
        # expression into the per-PAIR emd expression — measured 7x slower
        hr = persist(
            with_mean_position(hist, positions).withColumn(
                "cell", F.floor(F.col("mpos") / F.lit(cw)).cast("long")
            )
        )
        hs = persist(
            with_mean_position(other, positions).withColumn(
                "cell", F.floor(F.col("mpos") / F.lit(cw)).cast("long")
            )
        )
        a = _pair_frame(hr, "a")
        b = _pair_frame(hs, "b")
        a = a.withColumn(
            "probe",
            F.explode(
                F.array(
                    F.col("cell_a") - 1, F.col("cell_a"), F.col("cell_a") + 1
                )
            ),
        )
        pairs = a.join(b, on=[a.probe == b.cell_b])
        return release_on_gc(
            _finish_threshold(pairs, threshold, positions), hr, hs
        )
    if strategy == "bruteforce":
        h = with_mean_position(hist, positions)
        # spread the cartesian across tasks (a small cached side otherwise
        # collapses to a handful of partitions); the N^2/2 pairs are not
        # counted here, so the width is one wave (task_width of unknown work)
        a = _pair_frame(h, "a").repartition(
            task_width(hist.sparkSession, None, CROSS_PAIRS)
        )
        b = _pair_frame(h, "b")
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
        return _finish_threshold(pairs, threshold, positions)

    if strategy != "cells":
        raise ValueError(f"unknown strategy {strategy!r}")

    h = with_mean_position(hist, positions)
    # cell width = threshold: matching pairs differ by at most one cell id
    h = h.withColumn("cell", F.floor(F.col("mpos") / F.lit(float(threshold))).cast("long"))
    # h feeds both sides of two joins; persist so the upstream (scan + agg +
    # O(B^2) cum expression) runs once.  A histogram row is ~8B + 16*B bytes —
    # tiny relative to the fact table it came from, so this holds at scale.
    # The count() is a materialization BARRIER, not a stat: the two joins
    # fan out into four exchange map stages that AQE materializes
    # concurrently, and concurrent first readers of an unmaterialized cache
    # RACE — each recomputed the whole upstream chain (four full media
    # decodes measured on the generate->join path, guide §5 caching).
    h = persist(h)
    h.count()
    a, b = _pair_frame(h, "a"), _pair_frame(h, "b")

    # same-cell pairs, dedup by id ordering
    same = a.join(b, on=[a.cell_a == b.cell_b, a.id_a < b.id_b])
    # neighbor-cell pairs: native cell c joined with guests from cell c+1;
    # each cross-cell pair computed exactly once (cell_a < cell_b)
    neigh = a.join(b, on=[a.cell_a + F.lit(1) == b.cell_b])

    res = _finish_threshold(same, threshold, positions).unionAll(
        _finish_threshold(neigh, threshold, positions)
    )
    # normalize pair order to rid < sid for output parity with the oracle
    return release_on_gc(
        res.select(
            F.least("rid", "sid").alias("rid"),
            F.greatest("rid", "sid").alias("sid"),
            "emd",
        ),
        h,
    )


def _finish_threshold(pairs: DataFrame, threshold: float, positions) -> DataFrame:
    """The pairs with EMD <= ``threshold``.  The Rubner prefilter
    |mean(a) - mean(b)| <= EMD(a, b) (DistanceUtil.getRubnerEmd:184-230), a
    cheap scalar predicate, runs before the O(B) pair expression.  The means
    are rounded one by one, so a pair whose EMD equals its mean gap (CDFs
    that never cross) can read its gap a few ulps above its exactly
    computed EMD; the prefilter admits ``TIE_SLACK`` more, so such a pair at
    exactly theta still reaches the exact filter."""
    gap = F.abs(F.col("mpos_a") - F.col("mpos_b"))
    emd = pair_emd_expr(positions=positions)
    return (
        pairs.where(gap <= F.lit(float(threshold) + TIE_SLACK))
        .withColumn("emd", emd)
        .where(F.col("emd") <= F.lit(float(threshold)))
        .select(F.col("id_a").alias("rid"), F.col("id_b").alias("sid"), "emd")
    )


def emd_topk_join(
    hist: DataFrame,
    k: int,
    positions: np.ndarray | None = None,
    strategy: str = "prune",
) -> DataFrame:
    """The k smallest-EMD pairs; returns (rank, rid, sid, emd), rank 1-based,
    ties broken by (emd, rid, sid) (JoinedPair.compareTo, utils/JoinedPair
    .java:45-58 orders by distance then ids).

    ``prune`` seeds an upper bound for the kth distance from the pairwise
    EMDs of a deterministic 60-row sample, 1,770 pairs (the reference's
    sample-seeded bound, QNEPreReducer.java:96-109 / HistUtil.getKEmd:
    641-652), runs the cell
    threshold join at that bound, then takes the global top-k — two passes,
    no cross product.  Falls back to bruteforce when the sample can't cover k
    pairs.
    """
    if strategy == "bruteforce":
        a = _pair_frame(hist, "a").repartition(
            task_width(hist.sparkSession, None, CROSS_PAIRS)
        )
        b = _pair_frame(hist, "b")
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
        scored = pairs.withColumn("emd", pair_emd_expr(positions=positions)).select(
            F.col("id_a").alias("rid"), F.col("id_b").alias("sid"), "emd"
        )
        return _rank_topk(scored, k)

    if strategy != "prune":
        raise ValueError(f"unknown strategy {strategy!r}")

    n_pairs_needed = k
    # three actions consume hist (seed sample, both cell-join sides):
    # persist once
    hist = persist(hist)
    # deterministic seed sample in xxhash64(id) order — stable across
    # runs/partitionings like the reference's seeded random sample
    # (NEPreMapper.java:130-132), but unbiased on id-clustered data where
    # the first ids are near-duplicates and loosen the kth bound (the
    # round-3 ND top-k lesson applied to the 1-D path; the bound stays
    # sound either way, only the join radius tightness changes)
    sample = hist.orderBy(F.xxhash64(F.col("id")), F.col("id")).limit(60)
    sa, sb = _pair_frame(sample, "a"), _pair_frame(sample, "b")
    spairs = (
        sa.crossJoin(sb)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("emd", pair_emd_expr(positions=positions))
    )
    seed_emds = [r.emd for r in spairs.select("emd").orderBy("emd").limit(n_pairs_needed).collect()]
    if len(seed_emds) < n_pairs_needed:
        return release_on_gc(
            emd_topk_join(hist, k, positions, strategy="bruteforce"), hist
        )
    bound = float(seed_emds[-1])

    cand = emd_threshold_join(hist, max(bound, 1e-12), positions, strategy="cells")
    return release_on_gc(_rank_topk(cand, k), hist)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    # distributed TakeOrdered first (per-partition top-k + tree merge), THEN
    # the unpartitioned ranking window runs over only k rows
    top = scored.orderBy("emd", "rid", "sid").limit(k)
    w = Window.orderBy(F.col("emd").asc(), F.col("rid").asc(), F.col("sid").asc())
    return top.withColumn("rank", F.row_number().over(w)).select("rank", "rid", "sid", "emd")
