"""The one task-width helper: properties, the runner's plan width, and the
big-input floor."""

from __future__ import annotations

import re
from types import SimpleNamespace

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from melody_join_spark.operators._width import EMD_PAIRS, WAVES, task_width

# the grid runner's candidate-pair estimate (sum of cnt x load over cells)
# on the sf0.1 d=3 lineitem histograms (5,793 rows, theta 0.4)
SF01_3D_GRID_WORK = 3_195_381


def _session(dp: int) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=dp))


@settings(max_examples=200, deadline=None)
@given(
    dp=st.integers(1, 256),
    unit=st.floats(1e-3, 1e7),
    a=st.floats(0, 1e12),
    b=st.floats(0, 1e12),
)
def test_task_width_is_bounded_and_monotone(dp, unit, a, b):
    spark = _session(dp)
    lo, hi = sorted((a, b))
    w_lo, w_hi = task_width(spark, lo, unit), task_width(spark, hi, unit)
    assert 1 <= w_lo <= WAVES * dp
    assert 1 <= w_hi <= WAVES * dp
    assert w_lo <= w_hi


def test_task_width_unknown_work_is_one_wave():
    assert task_width(_session(7), None, EMD_PAIRS) == 7


def test_sf01_3d_grid_work_keeps_every_core(spark):
    """Large work still spans every core: the sf0.1 d=3 grid estimate gets
    at least one task per core here and on a 32-core bench host."""
    for dp in (spark.sparkContext.defaultParallelism, 32):
        assert task_width(_session(dp), SF01_3D_GRID_WORK, EMD_PAIRS) >= dp


def test_small_grid_join_runner_stays_within_one_wave(spark):
    """A 900-row d=3 grid join's runner exchange has at most one task per
    core (it was spark.sql.shuffle.partitions).  Plan text only: the join
    itself never runs, only the driver-side grid statistics do."""
    from melody_join_spark.operators.emd_join_nd import JoinStats, emd_join_nd
    from melody_join_spark.plans.tpch_bridge import bin_points_3d

    bins = bin_points_3d()
    rng = np.random.default_rng(3)
    # mass around a random point of the lattice, so centroids spread out
    centers = rng.uniform(0, 2, size=(900, 3))
    d2 = ((bins[None, :, :] - centers[:, None, :]) ** 2).sum(axis=2)
    w = np.exp(-d2 / 0.5) + 0.01 * rng.random(d2.shape)
    hist = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(w)],
        "id long, w array<double>",
    )
    stats = JoinStats(spark.sparkContext)
    out = emd_join_nd(hist, bins, 0.4, strategy="grid", stats=stats)
    plan = out._jdf.queryExecution().executedPlan().toString()
    widths = [int(x) for x in re.findall(r"hashpartitioning\(grp#\d+L?, (\d+)\)", plan)]
    dp = spark.sparkContext.defaultParallelism
    assert widths and max(widths) <= dp, plan
    assert stats.snapshot()["runner_tasks"] == widths[0]
