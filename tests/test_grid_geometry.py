"""The quantile-grid geometry exists once: ``_grid_geometry`` derives the
grid in one aggregation job whether G is derived or given,
``_reachable_cells`` is the one per-dimension window expansion, and the
grid join's callers (the index included) use both instead of their own."""

from __future__ import annotations

import itertools
import pathlib
import re

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from melody_join_spark.operators.emd_join_nd import _build_grid_ctx, _reachable_cells

ROOT = pathlib.Path(__file__).resolve().parents[1]
OPS = ROOT / "melody_join_spark" / "operators"


@st.composite
def _windows(draw):
    """Boundaries and centroids on a half-integer lattice, so duplicate
    boundaries and centroids exactly one reach from a boundary are common."""
    d = draw(st.sampled_from([1, 2, 3]))
    grid = draw(st.integers(1, 5))
    half = st.integers(-6, 6).map(lambda x: x / 2.0)
    bnds = np.array(
        [sorted(draw(st.lists(half, min_size=grid - 1, max_size=grid - 1))) for _ in range(d)],
        dtype=np.float64,
    ).reshape(d, grid - 1)
    n = draw(st.integers(0, 5))
    C = np.array(
        draw(st.lists(st.lists(half, min_size=d, max_size=d), min_size=n, max_size=n)),
        dtype=np.float64,
    ).reshape(n, d)
    reach = draw(st.sampled_from([0.0, 0.5, 1.0, 2.5]))
    return C, bnds, reach


@settings(max_examples=200, deadline=None)
@given(case=_windows())
def test_reachable_cells_equal_brute_enumeration(case):
    """Cell j of a dimension spans [bnds[j-1], bnds[j]] (unbounded at the
    ends); a cell is reachable when that span comes within ``reach`` of the
    centroid on every dimension."""
    C, bnds, reach = case
    d, grid = bnds.shape[0], bnds.shape[1] + 1
    lo = np.concatenate([np.full((d, 1), -np.inf), bnds], axis=1)
    hi = np.concatenate([bnds, np.full((d, 1), np.inf)], axis=1)
    want = []
    for r, c in enumerate(C):
        for js in itertools.product(range(grid), repeat=d):
            if all(hi[k, j] >= c[k] - reach and lo[k, j] <= c[k] + reach for k, j in enumerate(js)):
                want.append((r, int(np.ravel_multi_index(js, (grid,) * d))))
    rows, cells = _reachable_cells(C, bnds, reach)
    assert np.all(np.diff(rows) >= 0)
    assert sorted(zip(rows.tolist(), cells.tolist())) == sorted(want)


def _jobs(sc, group: str, fn) -> int:
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_explicit_grid_runs_the_derived_grid_jobs(spark):
    """A caller-given G replaces only the derived G: the grid context runs
    the same jobs either way."""
    rng = np.random.default_rng(11)
    bins = np.array([[i, j] for i in range(3) for j in range(3)], dtype=np.float64)
    rec = spark.createDataFrame(
        [(i, [float(x) for x in rng.random(9) + 0.05]) for i in range(80)],
        "id long, w array<double>",
    ).withColumn("side", F.lit(0))

    def build(grid):
        ctx = _build_grid_ctx(rec, bins, None, grid)
        ctx.rec1.unpersist()

    sc = spark.sparkContext
    derived = _jobs(sc, "grid_ctx_derived", lambda: build(None))
    explicit = _jobs(sc, "grid_ctx_explicit", lambda: build(7))
    assert derived > 0
    assert explicit == derived


def test_grid_geometry_lives_in_one_place():
    """The quantile sketch is taken only in ``_grid_geometry`` and the index
    has no window math of its own: a second percentile aggregation or a
    second boundary search would bring back a second grid geometry."""
    hits = []
    for f in sorted(OPS.rglob("*.py")):
        src = f.read_text()
        fns = {m.start(): m.group(1) for m in re.finditer(r"^def (\w+)", src, re.M)}
        for m in re.finditer(r"percentile_approx", src):
            owner = max((p for p in fns if p < m.start()), default=None)
            if f.name != "emd_join_nd.py" or fns.get(owner) != "_grid_geometry":
                hits.append(f"{f.relative_to(ROOT)}:{src.count(chr(10), 0, m.start()) + 1}")
    assert not hits, hits
    assert "searchsorted" not in (OPS / "emd_index.py").read_text()
