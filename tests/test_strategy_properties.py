"""Property test: every emd_join_nd threshold strategy equals the kernel.

The grid, pivot and bruteforce strategies form candidate groups in
different ways and verify them in one shared cascade runner.  On small
random histogram sets — duplicate rows, tied centroids, a single row —
each must return exactly the pairs of the kernel double loop (``emd_exact``
over all pairs, EMD <= theta + slack), with the same EMD values.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from melody_join_spark.kernel import emd_exact, ground_distance_matrix, normalize
from melody_join_spark.operators.emd_join_nd import emd_join_nd

BINS = np.array([[float(i), float(j)] for i in range(3) for j in range(3)])
COST = ground_distance_matrix(BINS, dimension=2)
SLACK = 1e-4  # build_config's default output slack
# distinct histograms sharing the centroid (1, 1): corners on either
# diagonal, and the centre bin alone
TIED = [
    [1, 0, 0, 0, 0, 0, 0, 0, 1],
    [0, 0, 1, 0, 0, 0, 1, 0, 0],
    [0, 0, 0, 0, 1, 0, 0, 0, 0],
]


@st.composite
def _histogram(draw):
    w = draw(st.lists(st.integers(0, 3), min_size=9, max_size=9))
    w[draw(st.integers(0, 8))] += 1  # nonzero mass
    return w


@st.composite
def _table(draw, pool):
    # rows are drawn from a small pool, so duplicate histograms are common
    picks = draw(st.lists(st.integers(0, len(pool) - 1), min_size=1, max_size=12))
    return [pool[p] for p in picks]


@st.composite
def _case(draw):
    pool = draw(st.lists(_histogram(), min_size=1, max_size=5))
    if draw(st.booleans()):
        pool = pool + TIED
    theta = draw(st.sampled_from([0.0, 0.2, 0.5, 1.0]))
    return draw(_table(pool)), draw(_table(pool)), theta


def _oracle(left, right, theta, self_join):
    L = normalize(np.array(left, dtype=np.float64))
    R = normalize(np.array(right, dtype=np.float64))
    out = {}
    for i in range(len(L)):
        for j in range(i + 1 if self_join else 0, len(R)):
            e = emd_exact(L[i], R[j], COST)
            if e <= theta + SLACK:
                out[(i + 1, j + 1)] = e
    return out


def _df(spark, rows):
    return spark.createDataFrame(
        [(i + 1, [float(x) for x in w]) for i, w in enumerate(rows)],
        "id long, w array<double>",
    )


def _check(df, expect):
    got = {(r.rid, r.sid): r.emd for r in df.collect()}
    assert set(got) == set(expect)
    for k, e in expect.items():
        assert got[k] == pytest.approx(e, abs=1e-9)


@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(case=_case())
def test_strategies_equal_kernel_double_loop(spark, case):
    left, right, theta = case
    h = _df(spark, left)
    expect = _oracle(left, left, theta, self_join=True)
    for strategy in ("grid", "pivot", "bruteforce"):
        _check(emd_join_nd(h, BINS, theta, strategy=strategy), expect)
    o = _df(spark, right)
    expect = _oracle(left, right, theta, self_join=False)
    for strategy in ("grid", "bruteforce"):
        _check(
            emd_join_nd(h, BINS, theta, strategy=strategy, other=o),
            expect,
        )
