"""ND EMD join: grid strategy == triangle bruteforce == kernel oracle.

The invariant chain: the triangle block join is J7/BSP-baseline semantics
(every pair, cascade + exact EMD); the grid strategy must produce the
identical result set; and on collinear bins the exact LP must equal the 1-D
closed form (DistanceUtil.get1dEmd, utils/DistanceUtil.java:40-79).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from melody_join_spark.kernel import emd_1d, emd_exact, normalize
from melody_join_spark.operators.emd_join_nd import (
    build_config,
    emd_join_nd,
    emd_topk_nd,
)

B = 9
D = 2
N = 60
THETA = 0.35


@pytest.fixture(scope="module")
def bins_2d():
    # 3x3 grid of bin locations in 2-D
    g = np.array([[i, j] for i in range(3) for j in range(3)], dtype=np.float64)
    return g


@pytest.fixture(scope="module")
def hist_df(spark, bins_2d):
    rng = np.random.default_rng(7)
    # clustered weights so some pairs are near and most are far
    base = rng.random((6, B))
    rows = []
    for i in range(N):
        w = base[i % 6] + 0.15 * rng.random(B)
        rows.append((i + 1, [float(x) for x in w]))
    return spark.createDataFrame(rows, "id long, w array<double>")


def _collect_pairs(df):
    return {
        (r.rid, r.sid): r.emd for r in df.collect()
    }


def _kernel_oracle(hist_rows, bins_2d, theta):
    ids = np.array([r[0] for r in hist_rows])
    W = normalize(np.array([r[1] for r in hist_rows], dtype=np.float64))
    from melody_join_spark.kernel import ground_distance_matrix

    cost = ground_distance_matrix(bins_2d, dimension=bins_2d.shape[1])
    out = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            e = emd_exact(W[i], W[j], cost)
            if e <= theta + 1e-4:
                a, b = int(ids[i]), int(ids[j])
                out[(min(a, b), max(a, b))] = e
    return out


def test_bruteforce_matches_kernel_oracle(spark, hist_df, bins_2d):
    rows = [(r.id, r.w) for r in hist_df.collect()]
    expect = _kernel_oracle(rows, bins_2d, THETA)
    got = _collect_pairs(
        emd_join_nd(hist_df, bins_2d, THETA, strategy="bruteforce")
    )
    assert set(got) == set(expect)
    for k in expect:
        assert got[k] == pytest.approx(expect[k], abs=1e-9)


def test_grid_matches_bruteforce(spark, hist_df, bins_2d):
    bf = _collect_pairs(
        emd_join_nd(hist_df, bins_2d, THETA, strategy="bruteforce")
    )
    for grid in (2, 4):
        gr = _collect_pairs(
            emd_join_nd(hist_df, bins_2d, THETA, strategy="grid", grid=grid)
        )
        assert set(gr) == set(bf), f"grid={grid}"
        for k in bf:
            assert gr[k] == pytest.approx(bf[k], abs=1e-9)


def test_topk_matches_bruteforce_ranking(spark, hist_df, bins_2d):
    k = 12
    top = emd_topk_nd(hist_df, bins_2d, k, strategy="grid", grid=3).collect()
    assert len(top) == k
    assert [r.rank for r in top] == list(range(1, k + 1))
    # oracle: all pairs sorted
    rows = [(r.id, r.w) for r in hist_df.collect()]
    allp = _kernel_oracle(rows, bins_2d, float("inf"))
    expect = sorted(allp.items(), key=lambda kv: (kv[1], kv[0]))[:k]
    got = [((r.rid, r.sid), r.emd) for r in top]
    assert [g[0] for g in got] == [e[0] for e in expect]
    np.testing.assert_allclose([g[1] for g in got], [e[1] for e in expect], atol=1e-9)


def test_collinear_bins_equal_1d_closed_form(spark):
    """LP solver on a line == cumsum closed form (and the whole grid plan
    preserves it)."""
    rng = np.random.default_rng(11)
    n, b = 40, 8
    line = np.array([[float(i)] for i in range(b)])
    rows = [(i + 1, [float(x) for x in rng.random(b)]) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, w array<double>")
    theta = 1.0
    got = _collect_pairs(emd_join_nd(df, line, theta, strategy="grid", grid=4))
    W = normalize(np.array([r[1] for r in rows]))
    ids = [r[0] for r in rows]
    expect = {}
    for i in range(n):
        for j in range(i + 1, n):
            e = emd_1d(W[i], W[j])
            if e <= theta + 1e-4:
                expect[(ids[i], ids[j])] = e
    assert set(got) == set(expect)
    for kpair, v in expect.items():
        assert got[kpair] == pytest.approx(v, abs=1e-8)


def test_pivot_matches_bruteforce(spark, hist_df, bins_2d):
    """MRSimJoin pivot strategy == triangle bruteforce (identical pair set)."""
    bf = _collect_pairs(
        emd_join_nd(hist_df, bins_2d, THETA, strategy="bruteforce")
    )
    pv = _collect_pairs(emd_join_nd(hist_df, bins_2d, THETA, strategy="pivot"))
    assert set(pv) == set(bf)
    for k in bf:
        assert pv[k] == pytest.approx(bf[k], abs=1e-9)


def test_pivot_fewer_records_than_pivots(spark, bins_2d):
    """An input with fewer records than the derived pivot count uses every
    record as a pivot; an empty input joins nothing."""
    from melody_join_spark.operators.emd_join_nd import _derive_pivots

    rows = [(i + 1, [float((i * j) % 4 + 1) for j in range(B)]) for i in range(5)]
    assert _derive_pivots(len(rows)) > len(rows)
    df = spark.createDataFrame(rows, "id long, w array<double>")
    got = _collect_pairs(
        emd_join_nd(df, bins_2d, 1.0, strategy="pivot")
    )
    expect = _kernel_oracle(rows, bins_2d, 1.0)
    assert expect
    assert got == pytest.approx(expect, abs=1e-9)
    empty = spark.createDataFrame([], "id long, w array<double>")
    assert emd_join_nd(empty, bins_2d, THETA, strategy="pivot").count() == 0


@pytest.mark.parametrize(
    "strategy, sides",
    [(s, "self") for s in ("grid", "pivot", "bruteforce")]
    + [
        (s, sides)
        for s in ("grid", "bruteforce")
        for sides in ("r_empty", "s_empty", "both_empty")
    ],
)
def test_empty_input_joins_nothing(spark, hist_df, bins_2d, strategy, sides):
    """An empty self-join input, or an empty side of a two-table join,
    yields no pairs under every strategy."""
    empty = spark.createDataFrame([], "id long, w array<double>")
    if sides == "self":
        out = emd_join_nd(empty, bins_2d, THETA, strategy=strategy)
    else:
        r = hist_df if sides == "s_empty" else empty
        s = hist_df if sides == "r_empty" else empty
        out = emd_join_nd(r, bins_2d, THETA, strategy=strategy, other=s)
    assert out.count() == 0


def test_pivot_collinear(spark):
    rng = np.random.default_rng(5)
    n, b = 30, 8
    line = np.array([[float(i)] for i in range(b)])
    rows = [(i + 1, [float(x) for x in rng.random(b)]) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, w array<double>")
    theta = 0.6
    got = _collect_pairs(emd_join_nd(df, line, theta, strategy="pivot"))
    W = normalize(np.array([r[1] for r in rows]))
    expect = {}
    for i in range(n):
        for j in range(i + 1, n):
            e = emd_1d(W[i], W[j])
            if e <= theta + 1e-4:
                expect[(rows[i][0], rows[j][0])] = e
    assert set(got) == set(expect)


def test_two_table_join_matches_kernel(spark, hist_df, bins_2d):
    """R x S variant: grid == bruteforce == kernel double loop."""
    rows = [(r.id, r.w) for r in hist_df.collect()]
    R_rows, S_rows = rows[:35], rows[35:]
    R = spark.createDataFrame(R_rows, "id long, w array<double>")
    S = spark.createDataFrame(S_rows, "id long, w array<double>")

    from melody_join_spark.kernel import ground_distance_matrix

    cost = ground_distance_matrix(bins_2d, dimension=bins_2d.shape[1])
    WR = normalize(np.array([r[1] for r in R_rows], dtype=np.float64))
    WS = normalize(np.array([r[1] for r in S_rows], dtype=np.float64))
    expect = {}
    for i, (rid, _) in enumerate(R_rows):
        for j, (sid, _) in enumerate(S_rows):
            e = emd_exact(WR[i], WS[j], cost)
            if e <= THETA + 1e-4:
                expect[(rid, sid)] = e

    for strat in ("bruteforce", "grid"):
        got = _collect_pairs(
            emd_join_nd(R, bins_2d, THETA, strategy=strat, other=S, grid=3)
        )
        assert set(got) == set(expect), strat
        for kpair in expect:
            assert got[kpair] == pytest.approx(expect[kpair], abs=1e-9)


def test_emd_knn_matches_kernel(spark, hist_df, bins_2d):
    from melody_join_spark.operators.emd_join_nd import emd_knn
    from melody_join_spark.kernel import ground_distance_matrix

    rows = [(r.id, r.w) for r in hist_df.collect()]
    queries = spark.createDataFrame(rows[:5], "id long, w array<double>")
    k = 4
    got = emd_knn(hist_df, queries, bins_2d, k=k).collect()
    cost = ground_distance_matrix(bins_2d, dimension=bins_2d.shape[1])
    W = normalize(np.array([r[1] for r in rows], dtype=np.float64))
    ids = [r[0] for r in rows]
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append(r)
    for qi in range(5):
        qid = ids[qi]
        ds = sorted(
            (emd_exact(W[qi], W[j], cost), ids[j])
            for j in range(len(ids))
            if ids[j] != qid
        )[:k]
        want = [nid for _, nid in ds]
        lst = sorted(by_q[qid], key=lambda r: r.rank)
        assert [r.nid for r in lst] == want
        np.testing.assert_allclose(
            [r.emd for r in lst], [d for d, _ in ds], atol=1e-9
        )


def test_dedupe_modes(spark):
    from melody_join_spark.operators.dedup import dedupe

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    for mode in ("exact", "bow"):
        out = dedupe(docs, mode=mode)
        m = out.count()
        assert m <= n
        # no surviving duplicate fingerprints
        from melody_join_spark.operators.text import fingerprint_bow, fingerprint_text

        fp = fingerprint_bow if mode == "bow" else fingerprint_text
        dups = (
            out.select(fp(F.col("text")).alias("fp"))
            .groupBy("fp")
            .count()
            .where(F.col("count") > 1)
            .count()
        )
        assert dups == 0
    near = dedupe(docs, mode="minhash", threshold=0.8)
    assert near.count() <= n


def test_join_stats_accumulators(spark, hist_df, bins_2d):
    """Pruning counters (TimerUtil parity) aggregate across tasks."""
    from melody_join_spark.operators.emd_join_nd import JoinStats

    stats = JoinStats(spark.sparkContext)
    res = emd_join_nd(hist_df, bins_2d, THETA, strategy="grid", grid=3, stats=stats)
    n = res.count()
    snap = stats.snapshot()
    assert snap["candidates"] > 0
    assert snap["exact_evaluated"] <= snap["candidates"]
    pruned = sum(v for k, v in snap.items() if k.startswith("pruned_"))
    assert pruned + snap["exact_evaluated"] == snap["candidates"]
    assert n <= snap["exact_evaluated"]


@pytest.mark.parametrize("strategy", ["grid", "pivot", "bruteforce"])
def test_join_stats_count_every_strategy(spark, hist_df, bins_2d, strategy):
    """Every threshold strategy runs through the shared cascade runner, so
    every one fills JoinStats: the emitted-pair counter equals the output
    row count and the exact stage is counted."""
    from melody_join_spark.operators.emd_join_nd import JoinStats

    stats = JoinStats(spark.sparkContext)
    res = emd_join_nd(hist_df, bins_2d, THETA, strategy=strategy, stats=stats)
    n = len(res.collect())
    snap = stats.snapshot()
    assert n > 0
    assert snap["result_pairs"] == n
    assert snap["exact_evaluated"] > 0


def test_duplicate_free_output(spark, hist_df, bins_2d):
    df = emd_join_nd(hist_df, bins_2d, THETA, strategy="grid", grid=4)
    n = df.count()
    nd = df.select("rid", "sid").distinct().count()
    assert n == nd
    assert df.where(F.col("rid") >= F.col("sid")).count() == 0


def test_cell_level_guest_pruning_active(spark, hist_df, bins_2d):
    """The Grid.getGuestWithDual-analog screens (empty/Rubner-bbox/normal/
    dual-range) must actually eliminate candidate guest replications, and
    eliminating them must not change the result set (grid == bruteforce is
    asserted elsewhere; here we assert the counters move)."""
    from melody_join_spark.operators.emd_join_nd import JoinStats

    stats = JoinStats(spark.sparkContext)
    res = emd_join_nd(hist_df, bins_2d, THETA, strategy="grid", grid=4, stats=stats)
    res.count()
    snap = stats.snapshot()
    assert snap["guest_considered"] > 0
    cell_pruned = (
        snap["guest_pruned_empty"]
        + snap["guest_pruned_rubner"]
        + snap["guest_pruned_normal"]
        + snap["guest_pruned_dual"]
    )
    assert cell_pruned > 0, snap
    assert snap["guest_replicas"] < snap["guest_considered"]


def test_join_releases_caches_on_gc(spark, hist_df, bins_2d):
    """Library contract (two-phase): dropping the result marks the
    operator's internal persist() handles releasable; the next operator
    invocation (or an explicit drain) actually unpersists them — so caches
    never die mid-query, and never accumulate across queries."""
    import gc

    from melody_join_spark import cache

    cache.drain(force=True)
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()  # caches owned by other fixtures
    res = emd_join_nd(hist_df, bins_2d, THETA, strategy="grid", grid=3)
    res.count()
    assert jsc.getPersistentRDDs().size() > base  # cache alive while result is
    del res
    gc.collect()
    # a second query's construction drains the first query's caches ...
    res2 = emd_join_nd(hist_df, bins_2d, THETA, strategy="grid", grid=4)
    res2.count()
    del res2
    gc.collect()
    # ... and the explicit drain releases everything the operators added
    cache.drain()
    assert jsc.getPersistentRDDs().size() == base


def test_topk_releases_caches_deterministically(spark, hist_df, bins_2d):
    import gc

    from melody_join_spark import cache

    cache.drain(force=True)
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()  # caches owned by other fixtures
    res = emd_topk_nd(hist_df, bins_2d, 5, strategy="grid", grid=3)
    assert res.count() == 5
    del res
    gc.collect()
    cache.drain()
    assert jsc.getPersistentRDDs().size() == base


def test_topk_single_join_pass(spark, hist_df, bins_2d, monkeypatch):
    """The exact-sampled kth ceiling makes the top-k probe single-pass: the
    k seed pairs qualify at the probe radius by construction, so exactly ONE
    _grid_join executes (round-2 VERDICT item 3 — the A6 count-ceiling
    analog; Grid.pruneCandidates:329-350)."""
    from melody_join_spark.operators import emd_join_nd as mod

    calls = {"n": 0}
    real = mod._grid_join

    def counting(ctx, theta, **kw):
        calls["n"] += 1
        return real(ctx, theta, **kw)

    monkeypatch.setattr(mod, "_grid_join", counting)
    top = emd_topk_nd(hist_df, bins_2d, 12, strategy="grid", grid=3).collect()
    assert len(top) == 12
    assert calls["n"] == 1, f"expected single-pass top-k, got {calls['n']} joins"


def test_hot_cell_salting_matches_bruteforce(spark, monkeypatch):
    """Adversarially skewed data: every record lands in ONE grid cell; a tiny
    cell cap forces that cell to split into block-pair sub-groups (round-2
    VERDICT item 4).  The salted plan must produce exactly the bruteforce
    pair set — each pair once — with no straggler task holding the cell."""
    import melody_join_spark.operators.emd_join_nd as EJ
    from melody_join_spark.operators.emd_join_nd import _salt_factors

    rng = np.random.default_rng(3)
    bins = np.array([[i, j] for i in range(3) for j in range(3)], dtype=np.float64)
    base = rng.random(9) + 0.5
    rows = [
        (i + 1, [float(x) for x in base + 0.01 * rng.random(9)])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id long, w array<double>")
    theta = 0.05
    bf = _collect_pairs(
        emd_join_nd(df, bins, theta, strategy="bruteforce")
    )
    assert _salt_factors(np.array([120]), 16)[0] > 1  # the cap really bites
    # unsalted (derived cap) parity on the skewed input
    gr2 = _collect_pairs(emd_join_nd(df, bins, theta, strategy="grid", grid=2))
    assert set(gr2) == set(bf)
    monkeypatch.setattr(EJ, "_derive_cell_cap", lambda n, width: 16)
    gr = _collect_pairs(emd_join_nd(df, bins, theta, strategy="grid", grid=2))
    assert set(gr) == set(bf)
    for k in bf:
        assert gr[k] == pytest.approx(bf[k], abs=1e-9)


def test_grid_matches_bruteforce_3d(spark):
    """d=3 at the reference's DEFAULT shape (data.dimension=3,
    melody-conf.properties:45-64): grid plan == triangle bruteforce on a
    3x3x3 lattice (27 bins), both strategies and the pivot variant."""
    bins = np.array(
        [[i, j, k] for i in range(3) for j in range(3) for k in range(3)],
        dtype=np.float64,
    )
    rng = np.random.default_rng(11)
    base = rng.random((5, 27))
    rows = [
        (i + 1, [float(x) for x in base[i % 5] + 0.2 * rng.random(27)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "id long, w array<double>")
    theta = 0.4
    bf = _collect_pairs(
        emd_join_nd(df, bins, theta, strategy="bruteforce")
    )
    assert bf  # non-trivial result set
    for strat, kw in (("grid", {"grid": 3}), ("pivot", {})):
        got = _collect_pairs(emd_join_nd(df, bins, theta, strategy=strat, **kw))
        assert set(got) == set(bf), strat
        for k in bf:
            assert got[k] == pytest.approx(bf[k], abs=1e-9)


def test_grid_matches_bruteforce_4d(spark):
    """d=4 breadth check: 2^4-bin lattice, grid plan == bruteforce (the
    engine is dimension-generic; the reference caps at its conf'd d)."""
    bins = np.array(
        [[i, j, k, l] for i in range(2) for j in range(2)
         for k in range(2) for l in range(2)],
        dtype=np.float64,
    )
    rng = np.random.default_rng(13)
    base = rng.random((4, 16))
    rows = [
        (i + 1, [float(x) for x in base[i % 4] + 0.25 * rng.random(16)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, w array<double>")
    theta = 0.35
    bf = _collect_pairs(
        emd_join_nd(df, bins, theta, strategy="bruteforce")
    )
    assert bf
    got = _collect_pairs(emd_join_nd(df, bins, theta, strategy="grid", grid=3))
    assert set(got) == set(bf)
    for k in bf:
        assert got[k] == pytest.approx(bf[k], abs=1e-9)


def test_auto_strategy_dispatch(spark, hist_df, bins_2d):
    """strategy='auto': tiny inputs -> bruteforce; arbitrary cost matrix ->
    pivot; result sets identical to explicit strategies."""
    theta = 0.35
    bf = _collect_pairs(
        emd_join_nd(hist_df, bins_2d, theta, strategy="bruteforce")
    )
    # 60 rows <= probe threshold -> auto = bruteforce path
    auto = _collect_pairs(emd_join_nd(hist_df, bins_2d, theta, strategy="auto"))
    assert set(auto) == set(bf)
    # arbitrary (non-Minkowski) cost matrix: auto must not hit the grid's
    # Minkowski requirement
    from melody_join_spark.kernel import ground_distance_matrix

    C = np.sqrt(ground_distance_matrix(bins_2d.ravel(), dimension=2, ground="l1"))
    got = _collect_pairs(emd_join_nd(hist_df, bins_2d, theta, strategy="auto", ground=C))
    exp = _collect_pairs(
        emd_join_nd(hist_df, bins_2d, theta, strategy="bruteforce", ground=C)
    )
    assert set(got) == set(exp)


def test_seed_invariance_of_result_sets(spark, hist_df, bins_2d):
    """SURVEY §5 determinism: the random elements (dual seed pairs,
    reduction groupings, pivot samples) affect only pruning POWER — the
    result set is identical across seeds for every strategy."""
    theta = 0.35
    base = {}
    for strat in ("grid", "pivot"):
        for seed in (1, 42, 1337):
            got = _collect_pairs(
                emd_join_nd(hist_df, bins_2d, theta, strategy=strat, seed=seed)
            )
            if strat not in base:
                base[strat] = got
            else:
                assert set(got) == set(base[strat]), (strat, seed)
                for kk in got:
                    assert got[kk] == pytest.approx(base[strat][kk], abs=1e-9)
    assert set(base["grid"]) == set(base["pivot"])


def test_emd_knn_distributed_matches_collected(
    spark, hist_df, bins_2d, monkeypatch
):
    """The cogrouped no-collect kNN path returns the broadcast path's exact
    result (same screened loop, different physical distribution)."""
    from melody_join_spark.operators import _probe
    from melody_join_spark.operators.emd_join_nd import emd_knn

    rows = [(r.id, r.w) for r in hist_df.collect()]
    queries = spark.createDataFrame(rows[:6], "id long, w array<double>")
    ref = {
        (r.qid, r.rank): (r.nid, round(r.emd, 9))
        for r in emd_knn(hist_df, queries, bins_2d, k=4,
                         distributed=False).collect()
    }
    got = {
        (r.qid, r.rank): (r.nid, round(r.emd, 9))
        for r in emd_knn(hist_df, queries, bins_2d, k=4,
                         distributed=True).collect()
    }
    assert got == ref and len(got) == 6 * 4
    monkeypatch.setattr(_probe, "COLLECT_ROWS", 2)
    with pytest.raises(ValueError, match="exceeds 2 rows.*distributed=True"):
        emd_knn(hist_df, queries, bins_2d, k=4, distributed=False)


def test_topk_drops_zero_mass_rows(spark, bins_2d):
    """An all-zero row has no EMD (the kernel scores it 0.0 against any
    histogram), so top-k drops it on entry on every path — here the
    bruteforce fallback of a table too small to seed k sample pairs."""
    rng = np.random.default_rng(5)
    rows = [(i + 1, [float(x) for x in rng.random(B) + 0.1]) for i in range(5)]
    df = spark.createDataFrame(rows + [(6, [0.0] * B)], "id long, w array<double>")
    top = emd_topk_nd(df, bins_2d, 20).collect()
    expect = _kernel_oracle(rows, bins_2d, float("inf"))
    assert len(top) == len(expect) == 10
    assert {(r.rid, r.sid): r.emd for r in top} == pytest.approx(expect, abs=1e-9)


def test_knn_drops_zero_mass_rows(spark):
    """A zero row in the database is never a neighbour, even of a query
    whose centroid it shares (bins symmetric about the origin, uniform
    query) and with k covering the whole database."""
    from melody_join_spark.operators.emd_join_nd import emd_knn

    bins = np.array(
        [[i, j] for i in (-1, 0, 1) for j in (-1, 0, 1)], dtype=np.float64
    )
    rng = np.random.default_rng(9)
    db = spark.createDataFrame(
        [(i + 1, [float(x) for x in rng.random(B) + 0.1]) for i in range(8)]
        + [(0, [0.0] * B)],
        "id long, w array<double>",
    )
    q = spark.createDataFrame([(100, [1.0] * B)], "id long, w array<double>")
    got = emd_knn(db, q, bins, k=9).collect()
    assert sorted(r.nid for r in got) == list(range(1, 9))
    assert min(r.emd for r in got) > 0


def test_emd_knn_line_bins_matches_kernel(spark):
    """kNN on line bins (d = 1, unsorted positions, sparse and duplicate
    rows) equals the emd_exact double loop, ties broken by id."""
    from melody_join_spark.operators.emd_join_nd import emd_knn

    pos = np.array([3.0, 0.0, 1.5, 0.5, 4.0, 2.0])
    rng = np.random.default_rng(11)
    pool = rng.random((5, pos.size)) * (rng.random((5, pos.size)) < 0.6)
    pool[:, 0] += 0.1  # nonzero mass
    rows = [(i + 1, [float(x) for x in pool[i % 5]]) for i in range(14)]
    db = spark.createDataFrame(rows, "id long, w array<double>")
    queries = spark.createDataFrame(rows[:4], "id long, w array<double>")
    k = 5
    got = emd_knn(db, queries, pos, k=k).collect()
    cost = np.abs(pos[:, None] - pos[None, :])
    W = normalize(np.array([r[1] for r in rows], dtype=np.float64))
    ids = [r[0] for r in rows]
    for qi in range(4):
        want = sorted(
            (emd_exact(W[qi], W[j], cost), ids[j])
            for j in range(len(ids))
            if j != qi
        )[:k]
        lst = sorted((r for r in got if r.qid == ids[qi]), key=lambda r: r.rank)
        assert [r.nid for r in lst] == [nid for _, nid in want]
        np.testing.assert_allclose([r.emd for r in lst], [e for e, _ in want], atol=1e-9)


def test_topk_degenerate_seed_falls_back_to_bruteforce(
    spark, hist_df, bins_2d, monkeypatch
):
    """If the seed sample cannot realize k finite exact EMDs (degenerate
    sample), the multi-step search leaves kth non-finite; the operator
    must fall back to the all-pairs oracle instead of raising on
    round(inf * 1e6) or launching a radius-inf grid join (round-4 ADVICE,
    emd_join_nd.py:1669).  Forced here by NaN-ing the seed solver (the
    driver-side cascade's exact stage; workers keep the real one); the
    fallback must still return the TRUE top-k over the real data."""
    import numpy as _np

    from melody_join_spark.kernel import EmdCascade

    def nan_solver(self, li, ri):
        return _np.full(len(li), _np.nan)

    monkeypatch.setattr(EmdCascade, "exact_pairs", nan_solver)
    k = 5
    top = emd_topk_nd(hist_df, bins_2d, k, strategy="grid", grid=3).collect()
    assert len(top) == k
    rows = [(r.id, r.w) for r in hist_df.collect()]
    allp = sorted(
        ((v, a, b) for (a, b), v in _kernel_oracle(rows, bins_2d, float("inf")).items())
    )
    for i, r in enumerate(top):
        assert r.emd == pytest.approx(allp[i][0], abs=1e-9)


def test_parallelism_floor_widens_without_reexecuting_upstream(
    spark, hist_df, bins_2d, monkeypatch
):
    """The stat-stage spread guard must (a) widen a narrow input up to its
    row-derived width so per-record Python kernels never run single-task
    on a small-but-dense table (one 12 MB parquet split held a measured
    456 s task at sf1 before the guard), and (b) probe the partition count
    on the MATERIALIZED centroid cache, never on the raw plan —
    rdd.getNumPartitions() on an un-executed AQE plan runs the whole
    upstream chain an extra time.  Guarded here with a counting pandas UDF
    upstream of a coalesce(1): every upstream row evaluation increments an
    accumulator, and one grid-ctx build must evaluate each row EXACTLY
    once."""
    from pyspark.sql import functions as F  # noqa: F811

    from melody_join_spark.operators._width import task_width
    from melody_join_spark.operators.emd_join_nd import (
        _build_grid_ctx,
        build_config,
    )

    acc = spark.sparkContext.accumulator(0)

    def counted(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    # mapInPandas is a relational node (one evaluation per pass over the
    # subtree), unlike a column UDF which Catalyst may inline into several
    # expressions of the same pass.  The repartition puts an AQE exchange
    # ABOVE the counter, mimicking the bench bridge chain: probing
    # rdd.getNumPartitions() on such a plan (instead of on the cache)
    # executes its shuffle-map stages — i.e. re-runs the counter — which
    # is exactly the regression this test pins.
    narrow = (
        hist_df.coalesce(1)
        .mapInPandas(counted, "id long, w array<double>")
        .repartition(2, "id")
        .withColumn("side", F.lit(0))
    )
    n = hist_df.count()
    cfg = build_config(
        np.atleast_2d(np.asarray(bins_2d, dtype=np.float64)), seed=42
    )
    # simulate the sf1 regime (many rows per task) on the tiny test table:
    # with the real rows-per-task unit a table this small would be LEFT
    # NARROW by design (see test_parallelism_floor_row_aware)
    import melody_join_spark.operators.emd_join_nd as EJ

    monkeypatch.setattr(EJ, "_GRID_ROWS", 1)
    ctx = _build_grid_ctx(
        narrow, np.asarray(bins_2d, dtype=np.float64), cfg, grid=3
    )
    target = task_width(spark, n, 1)
    assert ctx.rec1.rdd.getNumPartitions() >= min(target, n)
    assert acc.value == n, (
        f"upstream evaluated {acc.value} rows for {n} inputs — the floor "
        "probe re-executed the input plan"
    )
    ctx.rec1.unpersist()


def test_parallelism_floor_row_aware(spark, hist_df):
    """With a row count supplied, the guard keeps >= ``unit`` rows per
    task: a tiny table is LEFT NARROW (shattering 72 media rows into 32
    near-empty Arrow/UDF tasks measured +0.9-1.0 s, BENCHAB_r06), while a
    row count in the straggler regime still widens to the full cap of
    WAVES x defaultParallelism.  Without a row count the width is one task
    per core."""
    from melody_join_spark.operators._width import WAVES, spread
    from melody_join_spark.operators.emd_join_nd import _GRID_ROWS

    dp = spark.sparkContext.defaultParallelism
    cap = WAVES * dp
    cached = hist_df.coalesce(2).persist()
    try:
        n = cached.count()
        assert n < _GRID_ROWS * cap  # fixture is tiny
        narrow_kept = spread(cached, n, _GRID_ROWS)
        assert (
            narrow_kept.rdd.getNumPartitions()
            <= max(2, -(-n // _GRID_ROWS))
        )
        widened = spread(cached, _GRID_ROWS * cap, _GRID_ROWS)
        assert widened.rdd.getNumPartitions() >= cap
        # unknown row count: one task per core (straggler-safe)
        unknown = spread(cached)
        assert unknown.rdd.getNumPartitions() >= dp
    finally:
        cached.unpersist()


def test_spread_guard_never_probes_an_uncached_wide_chain(spark, hist_df):
    """The guard's partition probe executes the upstream plan when a wide
    operator sits above every cache, so such a chain must come back
    UNTOUCHED with no job run — a call site cannot silently pay an extra
    chain execution.  A narrow chain is probed without a job;
    directly-persisted frames AND narrow projections of persisted frames
    (whose own storageLevel reads NONE, so the guard reads the
    cache-substituted plan) are probed and widened even when the cached
    plan itself is wide."""
    from melody_join_spark import cache
    from melody_join_spark.operators._width import spread

    # earlier operators in the module (e.g. the distributed kNN) may hold
    # two-phase-released caches whose plan sameResults this projection —
    # the raw chain would then legitimately be cache-backed; re-establish
    # the test's premise first
    cache.release_caches(spark)
    tracker = spark.sparkContext.statusTracker()

    def jobs() -> int:
        return len(tracker.getJobIdsForGroup(None))

    wide = hist_df.repartition(3, "id").selectExpr("id", "w")  # un-persisted
    j0 = jobs()
    assert spread(wide, 10**9, 1) is wide
    raw = hist_df.selectExpr("id", "w")  # narrow, un-persisted
    spread(raw, 10**9, 1)
    assert jobs() == j0, "the guard executed an uncached chain"

    cached = hist_df.repartition(1, "id").persist()
    try:
        cached.count()
        assert spread(cached) is not None
        proj = cached.select("id", "w")
        widened = spread(proj, 10**9, 1)
        assert widened is not proj
        assert widened.rdd.getNumPartitions() > 1
    finally:
        cached.unpersist()


def test_every_emd_entry_point_drops_invalid_rows(spark, tmp_path):
    """A row joins nothing unless every weight is finite and >= 0 and the
    total is positive.  Rows 1-4 are valid and within the wide threshold
    of each other; row 5 has a negative weight, 6 a NaN, 7 an inf, 8 no
    mass.  Each must be dropped on entry, on either side of every EMD
    operator, never scored."""
    from melody_join_spark.operators.emd_index import emd_index_build, emd_index_search
    from melody_join_spark.operators.emd_join_nd import emd_knn
    from melody_join_spark.streaming import streaming_emd_join_nd

    bins = np.array([[0, 0], [1, 0], [0, 1], [1, 1]], dtype=np.float64)
    rng = np.random.default_rng(4)
    rows = [(i + 1, [float(x) for x in rng.random(4) + 0.1]) for i in range(4)] + [
        (5, [2.0, -1.0, 1.0, 1.0]),
        (6, [float("nan"), 1.0, 1.0, 1.0]),
        (7, [float("inf"), 1.0, 1.0, 1.0]),
        (8, [0.0] * 4),
    ]
    schema = "id long, w array<double>"
    hist = spark.createDataFrame(rows, schema)
    valid = [1, 2, 3, 4]
    theta = 10.0
    pairs = {(a, b) for a in valid for b in valid if a < b}
    for strategy in ("grid", "pivot", "bruteforce"):
        got = set(_collect_pairs(emd_join_nd(hist, bins, theta, strategy=strategy)))
        assert got == pairs, strategy

    knn = emd_knn(hist, hist, bins, k=5).collect()
    assert {(r.qid, r.nid) for r in knn} == {(a, b) for a in valid for b in valid if a != b}

    idx = emd_index_build(hist, bins, str(tmp_path / "invalid_idx"), grid=2)
    got = emd_index_search(idx, hist, theta).collect()
    assert {(r.qid, r.nid) for r in got} == {(a, b) for a in valid for b in valid if a != b}

    src = str(tmp_path / "invalid_stream")
    spark.createDataFrame([(i + 100, w) for i, w in rows], schema).write.parquet(src)
    q = (
        streaming_emd_join_nd(spark.readStream.schema(schema).parquet(src), hist, bins, theta)
        .writeStream.format("memory")
        .queryName("emd_nd_stream_invalid")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    got = {(r.rid, r.sid) for r in spark.sql("SELECT * FROM emd_nd_stream_invalid").collect()}
    assert got == {(a + 100, b) for a in valid for b in valid}


def test_dual_seeds_come_from_valid_rows(spark, monkeypatch):
    """The non-grid entry points seed their dual potentials from the first
    8 VALID rows: leading zero, NaN, inf and negative rows never reach
    ``build_config``, which then normalizes without a RuntimeWarning."""
    import warnings

    from melody_join_spark.operators import emd_join_nd as nd

    bins = np.array([[0, 0], [1, 0], [0, 1], [1, 1]], dtype=np.float64)
    rng = np.random.default_rng(6)
    bad = [[0.0] * 4, [float("nan"), 1.0, 1.0, 1.0], [float("inf"), 1.0, 1.0, 1.0],
           [2.0, -1.0, 1.0, 1.0]] * 2
    good = [[float(x) for x in rng.random(4) + 0.1] for _ in range(8)]
    hist = spark.createDataFrame(
        list(enumerate(bad + good)), "id long, w array<double>"
    ).coalesce(1)
    seeds = []
    real = nd.build_config

    def recording(*args, **kwargs):
        seeds.append(np.asarray(kwargs["seed_weights"]))
        return real(*args, **kwargs)

    monkeypatch.setattr(nd, "build_config", recording)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        nd.emd_join_nd(hist, bins, 1.0, strategy="bruteforce")
        nd.emd_knn(hist, hist, bins, k=2)
    assert len(seeds) == 2
    for sw in seeds:
        np.testing.assert_array_equal(sw, np.array(good))
