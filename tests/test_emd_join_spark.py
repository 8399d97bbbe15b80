"""Spark operator tests: EMD joins vs the numpy kernel oracle on sf0.001.

Oracle-join test strategy per SURVEY.md §5: brute-force crossJoin semantics
(J7, BaselineBSP.join) must equal the pruned engine output for threshold and
top-k.
"""

import numpy as np
import pytest

from melody_join_spark.kernel import emd_1d, normalize
from melody_join_spark.operators.emd_join import (
    emd_threshold_join,
    emd_topk_join,
)
from melody_join_spark.plans.tpch_bridge import lineitem_histograms

SF = "/root/testdata/sf0.001"
THETA = 1.0


@pytest.fixture(scope="module")
def hist(spark):
    h = lineitem_histograms(spark, SF).cache()
    h.count()
    return h


@pytest.fixture(scope="module")
def numpy_oracle(hist):
    """Brute-force threshold pairs computed entirely in numpy."""
    rows = hist.select("id", "w").collect()
    ids = np.array([r.id for r in rows])
    W = np.array([normalize(np.array(r.w)) for r in rows])
    out = {}
    n = len(ids)
    cdf = np.cumsum(W, axis=1)
    for i in range(n):
        d = np.abs(cdf[i] - cdf[i + 1 :]).sum(axis=1)
        for j, e in zip(range(i + 1, n), d):
            a, b = int(ids[i]), int(ids[j])
            out[(min(a, b), max(a, b))] = float(e)
    return out


def test_bruteforce_matches_numpy(hist, numpy_oracle):
    got = {
        (r.rid, r.sid): r.emd
        for r in emd_threshold_join(hist, THETA, strategy="bruteforce").collect()
    }
    want = {p: e for p, e in numpy_oracle.items() if e <= THETA}
    assert set(got) == set(want)
    for p in got:
        assert got[p] == pytest.approx(want[p], abs=1e-9)


def test_cells_matches_bruteforce(hist, numpy_oracle):
    got = {
        (r.rid, r.sid): r.emd
        for r in emd_threshold_join(hist, THETA, strategy="cells").collect()
    }
    want = {p: e for p, e in numpy_oracle.items() if e <= THETA}
    assert set(got) == set(want)


@pytest.mark.parametrize("theta", [0.05, 2.5])
def test_cells_other_thresholds(hist, numpy_oracle, theta):
    got = set(
        (r.rid, r.sid)
        for r in emd_threshold_join(hist, theta, strategy="cells").collect()
    )
    want = {p for p, e in numpy_oracle.items() if e <= theta}
    assert got == want


def test_topk_strategies_agree(hist, numpy_oracle):
    k = 20
    bf = emd_topk_join(hist, k, strategy="bruteforce").collect()
    pr = emd_topk_join(hist, k, strategy="prune").collect()
    assert len(bf) == len(pr) == k
    # identical ranked lists under the deterministic (emd, rid, sid) order
    assert [(r.rank, r.rid, r.sid) for r in bf] == [(r.rank, r.rid, r.sid) for r in pr]
    # and the emd multiset matches the numpy oracle's k smallest
    want = sorted(numpy_oracle.values())[:k]
    got = sorted(r.emd for r in bf)
    assert np.allclose(got, want, atol=1e-9)


def test_topk_k_larger_than_pairs(spark, hist):
    small = hist.limit(4).cache()
    res = emd_topk_join(small, 100, strategy="prune").collect()
    assert len(res) == 6  # 4C2 pairs only


def test_pair_at_theta_whose_mean_gap_rounds_above_it(spark):
    """Histogram 2 is histogram 1 moved one bin right, so their EMD is
    exactly 1.0 = theta, and so is their mean gap; but the means 6/5 and
    11/5 round one by one and their gap reads 1.0000000000000002.  The
    mean-position screen of every strategy must still pass the pair, whose
    exactly computed EMD qualifies."""
    from melody_join_spark.operators.histograms import with_cum
    from pyspark.sql import functions as F

    h = with_cum(
        spark.createDataFrame(
            [(1, [0.0, 4.0, 1.0, 0.0]), (2, [0.0, 0.0, 4.0, 1.0])], "id long, w array<double>"
        ).withColumn("total", F.aggregate("w", F.lit(0.0), lambda a, x: a + x))
    )
    for strategy in ("bruteforce", "cells"):
        got = [tuple(r) for r in emd_threshold_join(h, THETA, strategy=strategy).collect()]
        assert got == [(1, 2, 1.0)], strategy
    got = [tuple(r) for r in emd_threshold_join(h, THETA, strategy="cells", other=h).collect()]
    assert sorted(got) == [(1, 1, 0.0), (1, 2, 1.0), (2, 1, 1.0), (2, 2, 0.0)]
