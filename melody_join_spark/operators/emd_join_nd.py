"""d-dimensional EMD similarity joins — the MELODY pruned plan on Spark.

This is the Spark-first rebuild of the reference's core join
(mr/normal/QuantileNormalEmd.java 4-phase MR pipeline, SURVEY.md §3.1),
re-expressed as one declarative plan:

phase 1+2 (preprocess/space)  -> narrow column expressions (centroids) +
                                 one percentile aggregation (quantile grid
                                 boundaries, QNEPreReducer.java:161-189)
phase 3 (process)             -> guest-cell enumeration UDF (Grid.
                                 getGuestWithDual:352-457 analog, using the
                                 bbox-clamp Rubner screen) -> explode ->
                                 _run_cascade: hash repartition on the cell
                                 group + one mapInPandas task per partition
                                 running the numpy filter cascade
                                 (EmdFilter.java:49-82 order) with exact
                                 EMD (transportation simplex) on survivors
phase 4 (aggregate, top-k)    -> orderBy(emd).limit(k)

Every threshold strategy (grid, pivot, bruteforce) verifies its candidate
groups through that one runner, ``_run_cascade``; a strategy supplies only
how rows are keyed into groups and a candidate generator that turns one
group into (left, right) row-index pairs: the grid's dim-0 centroid window
with native/guest dedup, the pivot plan's base/window anchors with its
LAESA screen, the bruteforce all-pairs block.

Partitioning is a *quantile* grid over the centroid (Rubner) coordinates:
cell boundaries are per-dimension percentiles, so cells are load-balanced by
construction (the reference's Grid.assignGrid greedy balancing, Grid.java:
611-641, becomes unnecessary).  Soundness of cell pruning: the Rubner bound
||cent(a) - cent(b)||_2 <= EMD(a, b) (DistanceUtil.getRubnerEmd:184-230)
implies a qualifying partner of record a lies within theta of cent(a), so
replicating a as a guest only to cells whose centroid-space bbox is within
theta (np.clip form of the 27-case analysis, DistanceUtil.java:232-417)
loses no pairs.

Each unordered pair is produced exactly once: same-cell pairs by id order;
cross-cell pairs only in the lower cell (guests are replicated only to cells
strictly below their native cell — the Spark equivalent of
QNEProcessMapper.shouldDistribute:371-395).

Scale: the only wide exchange is the hash repartition on the cell group
(G^d cells >> cores, balanced); all bound tables (grid boundaries, dual
potentials, reduction maps, ground matrix) are tiny driver-side objects
shipped by closure — the DistributedCache side files of the reference
(QuantileNormalEmd.java:141-145) with no files involved.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..cache import persist, release_on_gc
from ..kernel import (
    CascadeStats,
    DualPotentials,
    EmdCascade,
    ReductionMap,
    ground_distance_matrix,
    multistep,
    normalize,
    projection_positions,
    rubner_bound_to_bbox,
)
from ._probe import run_query_blocks
from ._sqltext import sql_double, sql_doubles
from ._width import EMD_PAIRS, TASK_S, spread, task_width

__all__ = [
    "NdJoinConfig",
    "JoinStats",
    "build_config",
    "emd_join_nd",
    "emd_topk_nd",
    "emd_knn",
]


class JoinStats:
    """Distributed pruning-effectiveness counters — parity with the
    reference's TimerUtil counters (eliminated / dualElimination /
    qnePairCounter, utils/TimerUtil.java:12-26, BASELINE.md).

    Spark accumulators aggregate per-task CascadeStats back to the driver;
    read ``snapshot()`` after an action on the join result.  A grid join
    on line bins (d = 1) under a Minkowski ground runs the 1-D operator's
    codegen cells plan, which fills no counters.  The
    ``guest_*`` counters track CELL-level elimination during guest
    enumeration (the Grid.getGuestWithDual screens, utils/Grid.java:352-457):
    how many candidate (record, cell) replications each screen removed
    before any row was shuffled."""

    FIELDS = (
        "candidates",
        "pruned_rubner",
        "pruned_normal",
        "pruned_projection",
        "pruned_dual",
        "pruned_reduction",
        "pruned_indmin",
        "exact_evaluated",
    )
    CELL_FIELDS = (
        "seed_ceiling_micro",  # emd_topk_nd kth seed ceiling, in 1e-6 EMD units
        "guest_considered",
        "guest_pruned_empty",
        "guest_pruned_rubner",
        "guest_pruned_normal",
        "guest_pruned_dual",
        "guest_replicas",
        "laesa_considered",  # pivot path, arbitrary cost: block pairs before
        "laesa_survivors",   # / after the pivot-space triangle screen
        "result_pairs",      # pairs the cascade emitted (= output rows)
        "runner_tasks",      # the cascade runner's task count (driver-side)
    )

    def __init__(self, sc):
        self.acc = {f: sc.accumulator(0) for f in self.FIELDS + self.CELL_FIELDS}

    def update(self, st) -> None:
        for f in self.FIELDS:
            self.acc[f].add(int(getattr(st, f)))

    def add(self, field: str, n: int) -> None:
        self.acc[field].add(int(n))

    def snapshot(self) -> dict[str, int]:
        return {f: self.acc[f].value for f in self.FIELDS + self.CELL_FIELDS}


@dataclass
class NdJoinConfig:
    """Driver-built, closure-shipped join state (all tiny).

    Mirrors the reference's side files: projection vectors (README.md:23-24),
    dual potentials (NEPreMapper cleanup -> dualPath), reduction matrices
    (NEProcessReducer.java:52-54) — computed once, shipped everywhere.
    """

    bin_points: np.ndarray          # (B, d)
    cost: np.ndarray                # (B, B) ground distance matrix
    proj_positions: list = field(default_factory=list)   # [(B,)] per vector
    duals: list = field(default_factory=list)            # [DualPotentials]
    reductions: list = field(default_factory=list)       # [ReductionMap]
    slack: float = 1e-4             # DistanceUtil.EPSILON output slack
    # Minkowski exponent of the ground distance, or None for an ARBITRARY
    # cost matrix (DistanceType parity).  None disables every centroid- and
    # projection-geometry screen (see EmdCascade.rubner_ord).
    rubner_ord: float | None = 2
    # Cached metric verdict for ``cost`` — computed ONCE on the driver
    # (build_config) and closure-shipped, so executors never re-run the
    # O(B^3) triangle check per cascade construction (ADVICE round 9).
    metric_cost: bool | None = None

    def is_metric(self) -> bool:
        """Metric verdict for the ground cost, cached on first use.

        ``build_config`` fills the cache eagerly on the driver; the lazy
        path exists only for configs constructed directly (tests)."""
        if self.metric_cost is None:
            from ..kernel.bounds import is_metric_cost

            self.metric_cost = (
                self.rubner_ord is not None or is_metric_cost(self.cost)
            )
        return self.metric_cost


def build_config(
    bin_points: np.ndarray,
    seed_weights: np.ndarray | None = None,
    n_proj: int | None = None,
    seed: int = 42,
    ground: str | np.ndarray = "l2",
) -> NdJoinConfig:
    """Build the broadcastable join config on the driver.

    ``seed_weights`` (>=2 rows of normalized weights) seed the dual
    potentials exactly as the reference seeds duals from cached record pairs
    (NEPreMapper.java:123-128); seeded rng makes runs reproducible
    (SURVEY.md §5 determinism note).

    ``ground`` selects the ground distance: ``'l1' | 'l2' | 'l3'``
    (Minkowski, DistanceType LONE/LTWO/LTHREE) or an explicit (B, B) cost
    matrix (ARBITRARY, DistanceUtil.java:440-474).  Minkowski grounds get
    the full screen stack (projections Hoelder-scaled to the chosen norm,
    Rubner in the matching p-norm); an arbitrary matrix keeps only the
    cost-matrix-generic stages (dual, reduction, IndMin, exact) — like the
    reference, whose grid/normal machinery is built on L2 geometry."""
    bin_points = _bins(bin_points)
    cost = ground_distance_matrix(
        bin_points.ravel(), dimension=bin_points.shape[1], ground=ground
    )
    minkowski = _minkowski(None, ground)
    d = bin_points.shape[1]
    rng = np.random.default_rng(seed)

    # screen budget auto-scales with what geometry offers: Minkowski
    # grounds get the full stack (Rubner/projection/normal/IndMin), so 2
    # duals + 1 reduction suffice; an ARBITRARY matrix keeps only the
    # cost-generic dual/reduction screens, so spend more of them — each
    # extra dual is one O(B) dot per pair vs an LP per unpruned survivor
    # (measured on the sf0.1 sqrt(L1) join: 6/2 cut exact LPs 466k -> 341k
    # and wall 20.2 -> 14.8 s; see ABCHECK_r05.md)
    num_duals = 2 if minkowski is not None else 6
    num_reductions = 1 if minkowski is not None else 2

    projs = []
    if n_proj is None:
        # default: one axis projection per dimension (the reference ships 3
        # vectors for its default d=3, melody-conf.properties:45-64), capped
        # at 4 — each projection costs an O(B) cascade stage per candidate
        n_proj = max(2, min(d, 4))
    if minkowski is None:
        n_proj = 0  # projection contraction needs a Minkowski ground
    elif d == 1:
        n_proj = 1  # every 1-D projection is the same line (up to sign)
    for k in range(n_proj):
        if k < d:
            v = np.zeros(d)
            v[k] = 1.0          # axis projections first (always useful)
        else:
            v = rng.standard_normal(d)
        projs.append(projection_positions(bin_points, v, ground=ground))

    duals = []
    if seed_weights is not None and len(seed_weights) >= 2:
        sw = np.atleast_2d(np.asarray(seed_weights, dtype=np.float64))
        sw = sw / sw.sum(axis=1, keepdims=True)
        n = len(sw)
        for k in range(num_duals):
            i, j = rng.choice(n, size=2, replace=False)
            if np.allclose(sw[i], sw[j]):
                continue
            duals.append(DualPotentials.from_seed_pair(sw[i], sw[j], cost))

    # 8-dimensional reductions, as the reference (NEProcessReducer.java:53)
    reductions = [
        ReductionMap(cost, reduced=min(8, cost.shape[0]), seed=seed + k)
        for k in range(num_reductions)
    ]
    cfg = NdJoinConfig(
        bin_points, cost, projs, duals, reductions, rubner_ord=minkowski
    )
    cfg.is_metric()  # fill the cached verdict driver-side before shipping
    return cfg


def _bins(bin_points) -> np.ndarray:
    """(B, d) float bin locations; a single row of B > 1 values is read as
    B positions on a line."""
    bp = np.atleast_2d(np.asarray(bin_points, dtype=np.float64))
    return bp.T if bp.shape[0] == 1 and bp.shape[1] > 1 else bp


def _minkowski(cfg: NdJoinConfig | None, ground) -> float | None:
    """The ground's Minkowski exponent — ``cfg``'s when given, else 1/2/3
    for 'l1'/'l2'/'l3' — or None for an explicit cost matrix."""
    if cfg is not None:
        return cfg.rubner_ord
    return {"l1": 1.0, "l2": 2.0, "l3": 3.0}.get(ground) if isinstance(ground, str) else None


def _seeded_config(
    frame: DataFrame, col: str, bin_points: np.ndarray, seed: int, ground
) -> NdJoinConfig:
    """:func:`build_config` with its dual potentials seeded from the first
    8 valid (``_valid_hist``) ``col`` weight rows of ``frame``."""
    rows = frame.where(_valid_hist(col)).select(col).limit(8).collect()
    sw = np.array([r[0] for r in rows], dtype=np.float64)
    return build_config(bin_points, seed_weights=sw, seed=seed, ground=ground)


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------

_PAIR_SCHEMA = StructType(
    [
        StructField("rid", LongType()),
        StructField("sid", LongType()),
        StructField("emd", DoubleType()),
    ]
)


def _cascade_for(weights: np.ndarray, cfg: NdJoinConfig) -> EmdCascade:
    return EmdCascade(
        weights=weights,
        cost=cfg.cost,
        bin_points=cfg.bin_points,
        proj_positions=cfg.proj_positions,
        duals=cfg.duals,
        reductions=cfg.reductions,
        rubner_ord=cfg.rubner_ord,
        metric_cost=cfg.metric_cost,
    )


def _stacked_cascade(cfg: NdJoinConfig, head: np.ndarray, rows) -> EmdCascade:
    """The one cascade prologue: a cascade over [head; rows], ``head`` the
    normalized rows every task holds (none, queries, pivots, a reference
    side), ``rows`` a partition's weight column, normalized here."""
    W = normalize(np.stack(rows).astype(np.float64))
    H = np.asarray(head, dtype=np.float64).reshape(-1, W.shape[1])
    return _cascade_for(np.vstack([H, W]) if len(H) else W, cfg)


def _lb_matrix(casc: EmdCascade, own: np.ndarray, cand: np.ndarray) -> np.ndarray:
    """The :meth:`EmdCascade.lower_bounds` matrix of the cascade rows ``own``
    x ``cand``, built in owner slices of about ``casc.CHUNK`` pairs."""
    LB = np.empty((own.size, cand.size))
    step = max(1, casc.CHUNK // max(cand.size, 1))
    for s in range(0, own.size, step):
        o = own[s : s + step]
        LB[s : s + o.size] = casc.lower_bounds(
            np.repeat(o, cand.size), np.tile(cand, o.size)
        ).reshape(o.size, cand.size)
    return LB


def _emit_pairs(ids, li, ri, emds, ordered: bool = False) -> pd.DataFrame:
    """ordered=False: unordered self-join pairs normalized to rid < sid.
    ordered=True: two-table pairs — rid is the left (R) id, sid the right."""
    rid = ids[li]
    sid = ids[ri]
    if ordered:
        return pd.DataFrame({"rid": rid, "sid": sid, "emd": emds})
    lo = np.minimum(rid, sid)
    hi = np.maximum(rid, sid)
    return pd.DataFrame({"rid": lo, "sid": hi, "emd": emds})


_NO_PAIRS = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))

# hash blocks of the all-pairs block join (``_block_bruteforce``): 36
# self-join groups, 64 two-table groups
_BLOCKS = 8


def _valid_hist(w_col: str):
    """Row filter for valid histograms: every weight finite and >= 0, and a
    positive total.  A zero-mass row has no EMD (the kernel would score it
    0.0 against everything), a negative weight is not mass, and a NaN or
    infinite weight makes every bound and EMD of its row NaN, so every EMD
    operator drops such rows on entry, as build_histograms' total > 0
    ingestion filter does.  Spark orders NaN above +inf, so ``x < inf``
    rejects NaN as well."""
    w = f"`{w_col}`"
    return F.expr(
        f"forall({w}, x -> x >= 0.0D AND x < CAST('Infinity' AS DOUBLE))"
        f" AND aggregate({w}, 0.0D, (a, x) -> a + x) > 0.0D"
    )


def _window_pairs(
    anchors: np.ndarray, pool: np.ndarray, key: np.ndarray, reach: float
) -> tuple[np.ndarray, np.ndarray]:
    """All (anchor, pool) pairs with |key[a] - key[p]| <= reach, from a
    sorted window on ``key`` (a centroid coordinate or a pivot distance —
    any 1-Lipschitz lower bound of the EMD): pairs outside the window never
    materialize, so a group costs O(n * window) candidates, not O(n^2).
    Vectorized window expansion, no per-anchor Python loop."""
    pool_sorted = pool[np.argsort(key[pool], kind="stable")]
    pks = key[pool_sorted]
    lo = np.searchsorted(pks, key[anchors] - reach, side="left")
    hi = np.searchsorted(pks, key[anchors] + reach, side="right")
    counts = hi - lo
    total = int(counts.sum())
    if total == 0:
        return _NO_PAIRS
    li = np.repeat(anchors, counts)
    offs = np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)
    return li, pool_sorted[np.repeat(lo, counts) + offs]


def _range_block(
    cfg: NdJoinConfig, theta: float
) -> Callable[[tuple, pd.DataFrame], pd.DataFrame]:
    """The threshold block of ``emd_index_search`` and
    ``streaming_emd_join_nd``: payload (ids, normalized weights) x one
    batch (id, w) -> (qid, nid, emd) within ``theta`` (+ slack).  The
    candidates, dim-0 centroid windows (any Minkowski Rubner bound implies
    them; the full cross under an arbitrary cost), stream through
    :meth:`EmdCascade.verify` in payload slices of about ``CHUNK`` pairs."""
    reach = theta + cfg.slack if cfg.rubner_ord is not None else np.inf

    def block(payload: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        hids, HW = payload
        nh = len(hids)
        casc = _stacked_cascade(cfg, HW, pdf["w"].to_numpy())
        key = casc.cents[:, 0]
        # sorted once, so each slice's window sort runs on sorted keys
        pool = nh + np.argsort(key[nh:], kind="stable")
        step = max(1, casc.CHUNK // pool.size)
        groups = (
            _window_pairs(np.arange(s, min(s + step, nh)), pool, key, reach)
            for s in range(0, nh, step)
        )
        out = [(*_NO_PAIRS, np.empty(0)), *casc.verify(groups, theta, slack=cfg.slack)]
        li, ri, emds = (np.concatenate(c) for c in zip(*out))
        return pd.DataFrame({"qid": hids[li], "nid": pdf["id"].to_numpy()[ri - nh], "emd": emds})

    return block


def _run_cascade(
    rows: DataFrame,
    cfg: NdJoinConfig,
    theta: float,
    width: int,
    candidates: Callable[
        [int, np.ndarray, dict, np.ndarray], tuple[np.ndarray, np.ndarray]
    ],
    stats: "JoinStats | None" = None,
    ordered: bool = False,
) -> DataFrame:
    """The partition-batched cascade runner behind every threshold strategy
    (grid, pivot, bruteforce) — they differ only in how they form candidate
    groups, never in how a group is verified.

    ``rows`` carries (id, w, grp) plus the columns the strategy's
    ``candidates(grp, idx, cols, cents) -> (li, ri)`` reads: ``idx`` are the
    group's row indices into the partition, ``cols`` the partition's
    columns as numpy arrays (array columns stacked to 2-D; ``w`` is
    normalized into the cascade instead), ``cents`` the cascade's centroid
    matrix.  Returned indices are partition rows.

    Hash partitioning on ``grp`` places every row of a group in exactly one
    partition, so per-GROUP pair generation is unchanged — but the cascade
    (np.unique row-grouping, support table, dual keys, every pruning stage
    and the batched exact solver) is built ONCE per partition, and the
    groups' candidates stream through :meth:`EmdCascade.verify`.  One
    pandas DataFrame and cascade per group pays Arrow + cascade-
    construction overhead per group (9,597 groups of a few rows each at
    sf0.1 3-d ~ 10 s of the 60 s join-stage CPU) and fragmented the exact
    stage's support classes below MIN_BATCH (scalar-LP fallback).  Every
    cascade stage is a sound per-pair screen: batching changes only WHERE
    a pair is pruned, never whether it survives.

    ``width`` is the task count, which each strategy derives from its
    candidate-pair estimate through :func:`._width.task_width`, so a task
    carries enough pairs to repay its fixed round trip.  It is set by an
    explicit hash repartition: the exact stage is CPU-quadratic per group
    but tiny in BYTES, so AQE's byte-based coalescing would pack groups
    (and salted sub-groups) back onto one task (measured:
    scripts/skew_bench.py).  A user-specified count is exempt from AQE
    coalescing and adds no exchange beyond the one grouping needs.  The
    width is added to ``stats`` as ``runner_tasks`` on the driver."""

    def run_partition(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [pdf for pdf in it if len(pdf)]
        if not pdfs:
            return
        allp = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
        casc = _stacked_cascade(cfg, (), allp["w"].to_numpy())
        cols = {}
        for c in allp.columns.drop("w"):
            v = allp[c].to_numpy()
            cols[c] = np.stack(v) if v.dtype == object else v
        grps = cols["grp"]
        order = np.argsort(grps, kind="stable")
        gs = grps[order]
        starts = np.flatnonzero(np.r_[True, gs[1:] != gs[:-1]])
        ends = np.r_[starts[1:], order.size]
        groups = (
            candidates(int(gs[s]), order[s:e], cols, casc.cents)
            for s, e in zip(starts, ends)
        )
        st = CascadeStats()
        n_out = 0
        for li, ri, emds in casc.verify(groups, theta, stats=st, slack=cfg.slack):
            if li.size:
                n_out += li.size
                yield _emit_pairs(cols["id"], li, ri, emds, ordered=ordered)
        if stats is not None:
            stats.update(st)
            stats.add("result_pairs", n_out)

    if stats is not None:
        stats.add("runner_tasks", width)
    return rows.repartition(width, "grp").mapInPandas(run_partition, _PAIR_SCHEMA)


# rows one task of a per-record stage must carry to repay its round trip
# (``_width.TASK_S``).  The grid's records pay the stat pass and then the
# guest-cell enumeration and replica explode, measured 0.3 s and 3.0 s for
# sf0.1's 5,793 d=3 records on one task (~0.57 ms a record); the pivot
# assignment is LP-bound, 6.7 s for them on one task (~1.16 ms a record).
_GRID_ROWS = int(TASK_S / 0.57e-3)
_PIVOT_ROWS = int(TASK_S / 1.16e-3)

# candidates per owner per round of each multi-step search
# (kernel.cascade.multistep): one pivot at a time for the nearest-pivot
# assignment; at least these many (or 2k) for a kNN query, whose owners
# need k solves before their bound tightens.  The top-k seed ceiling's one
# owner takes k a round: exactly the solves its first kth needs.
_PIVOT_CHUNK = 1
_KNN_CHUNK = 64


def _centroid_cols(hist: DataFrame, bin_points: np.ndarray, w_col: str) -> DataFrame:
    """Append cent_0..cent_{d-1} = normalized-weight centroid coordinates.
    Pure JVM expressions (no UDF): cent_k = sum_i w_i * bins[i, k] / total.
    ``hist`` holds valid rows only (``_valid_hist``), so the total is
    positive.  Both sums are left folds from 0.0."""
    w = f"`{w_col}`"
    cents = [
        F.expr(
            f"aggregate(zip_with({w}, {sql_doubles(bin_points[:, k])}, (x, c) -> x * c),"
            f" 0.0D, (a, x) -> a + x) / _tot AS cent_{k}"
        )
        for k in range(bin_points.shape[1])
    ]
    return hist.select(
        "*", F.expr(f"aggregate({w}, 0.0D, (a, x) -> a + x) AS _tot")
    ).select(*map(F.col, hist.columns), *cents)


def _stat_udf(cfg: NdJoinConfig):
    """Pandas UDF computing the per-record pruning-stat vector in one
    vectorized Arrow pass (the reference precomputes the same columns in its
    preprocess phase, mr/normal/NEPreMapper.java:90-140):

        st = [mu_p, sigma_p, err_p  for each projection p]
           + [key_q, ckey_q         for each dual q]

    These feed (a) the per-CELL stat aggregation that powers guest-cell
    screening and (b) nothing else — the in-cell cascade recomputes from
    weights because an Arrow array column round-trip costs more than the
    numpy refit on a cell-sized batch."""
    orders = []
    for pos in cfg.proj_positions:
        o = np.argsort(np.asarray(pos), kind="stable")
        orders.append((o, np.asarray(pos)[o]))
    dual_uv = [(dl.u, dl.v) for dl in cfg.duals]

    from ..kernel.normal import cdf_approx_error, fit_normal

    @F.pandas_udf(ArrayType(DoubleType()))
    def stats(w: pd.Series) -> pd.Series:
        W = normalize(np.stack(w.to_numpy()).astype(np.float64))
        cols = []
        for o, ps in orders:
            Ws = W[:, o]
            mu, sigma = fit_normal(Ws, ps)
            err = cdf_approx_error(Ws, ps, mu, sigma)
            cols += [mu, sigma, err]
        for u, v in dual_uv:
            cols += [W @ u, W @ v]
        S = np.stack(cols, axis=1)
        return pd.Series(list(S))

    return stats, 3 * len(orders) + 2 * len(dual_uv)


class _CellStats:
    """Dense per-cell screening tables, built from one groupBy(cell) agg and
    shipped by closure (G^d cells, all tiny — the analog of the reference's
    cell error/dual side files, mr/normal/NESpaceReducer.java:74-219).

    Arrays are indexed by cell id; absent cells keep cnt == 0."""

    def __init__(self, rows, d: int, n_proj: int, n_dual: int, ncells: int):
        self.cnt = np.zeros(ncells, dtype=np.int64)
        self.cmin = np.full((ncells, d), np.inf)
        self.cmax = np.full((ncells, d), -np.inf)
        self.mu_lo = np.zeros((n_proj, ncells))
        self.mu_hi = np.zeros((n_proj, ncells))
        self.sig_lo = np.zeros((n_proj, ncells))
        self.sig_hi = np.zeros((n_proj, ncells))
        self.err_max = np.zeros((n_proj, ncells))
        self.key_min = np.zeros((n_dual, ncells))
        self.ckey_min = np.zeros((n_dual, ncells))
        for r in rows:
            c = int(r["cell"])
            self.cnt[c] = r["cnt"]
            for k in range(d):
                self.cmin[c, k] = r[f"cmin_{k}"]
                self.cmax[c, k] = r[f"cmax_{k}"]
            for p in range(n_proj):
                self.mu_lo[p, c] = r[f"mu_lo_{p}"]
                self.mu_hi[p, c] = r[f"mu_hi_{p}"]
                self.sig_lo[p, c] = r[f"sig_lo_{p}"]
                self.sig_hi[p, c] = r[f"sig_hi_{p}"]
                self.err_max[p, c] = r[f"err_max_{p}"]
            for q in range(n_dual):
                self.key_min[q, c] = r[f"key_min_{q}"]
                self.ckey_min[q, c] = r[f"ckey_min_{q}"]


def _collect_cell_stats(
    rec: DataFrame, d: int, n_proj: int, n_dual: int, ncells: int
) -> _CellStats:
    aggs = [F.count("*").alias("cnt")]
    for k in range(d):
        aggs += [
            F.min(f"cent_{k}").alias(f"cmin_{k}"),
            F.max(f"cent_{k}").alias(f"cmax_{k}"),
        ]
    for p in range(n_proj):
        mu, sig, err = (F.element_at("st", 3 * p + i) for i in (1, 2, 3))
        aggs += [
            F.min(mu).alias(f"mu_lo_{p}"),
            F.max(mu).alias(f"mu_hi_{p}"),
            F.min(sig).alias(f"sig_lo_{p}"),
            F.max(sig).alias(f"sig_hi_{p}"),
            F.max(err).alias(f"err_max_{p}"),
        ]
    for q in range(n_dual):
        key, ckey = (F.element_at("st", 3 * n_proj + 2 * q + i) for i in (1, 2))
        aggs += [F.min(key).alias(f"key_min_{q}"), F.min(ckey).alias(f"ckey_min_{q}")]
    rows = rec.groupBy("cell").agg(*aggs).collect()
    return _CellStats(rows, d, n_proj, n_dual, ncells)


# ---------------------------------------------------------------------------
# grid (MELODY) strategy
# ---------------------------------------------------------------------------

# the fine quantile sketch every grid's cell boundaries interpolate from
_SKETCH = [i / 128.0 for i in range(1, 128)]


def _grid_geometry(
    rec0: DataFrame, d: int, grid: int | None, extra: tuple[F.Column, ...] = ()
) -> tuple[int, int, np.ndarray, np.ndarray | None, Row]:
    """The quantile grid of the centroid table ``rec0`` from ONE aggregation
    job — the reference's Percentile.evaluate preprocess
    (QNEPreReducer.java:161-189): the row count, a 127-point percentile
    sketch of each centroid column and 8 dual-seed rows (``min_by`` over
    ``xxhash64(id, salt)`` is one deterministic row per salt), plus the
    caller's ``extra`` aggregates.

    ``grid`` (G) defaults to ``_derive_grid(n, d)``; the (d, G-1) cell
    boundaries are the sketch linearly interpolated at i/G.  Boundaries and
    seeds are load-balancing and screen geometry, not semantics: any
    monotone boundary set and any seed rows give the same join output (the
    cell and dual screens are sound, the exact filter decides).

    Returns (n, G, boundaries, seed weights or None, the aggregate row)."""
    probs = sql_doubles(_SKETCH)
    row = rec0.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(f"percentile_approx(cent_{k}, {probs}, 10000)").alias(f"b{k}")
            for k in range(d)
        ],
        *[F.expr(f"min_by(w, xxhash64(id, {9000 + t}))").alias(f"sw{t}") for t in range(8)],
        *extra,
    ).collect()[0]
    n = int(row["n"])
    if grid is None:
        grid = _derive_grid(n, d)
    want = np.arange(1, grid) / grid
    # the sketches are null when there are no records; then any bounds do
    zeros = [0.0] * len(_SKETCH)
    bnds = np.stack(
        [
            np.interp(want, _SKETCH, np.asarray(row[f"b{k}"] or zeros, dtype=np.float64))
            for k in range(d)
        ]
    )
    seeds = [list(row[f"sw{t}"]) for t in range(8) if row[f"sw{t}"] is not None]
    return n, grid, bnds, np.array(seeds, dtype=np.float64) if seeds else None, row


def _reachable_cells(
    C: np.ndarray, bnds: np.ndarray, reach: float
) -> tuple[np.ndarray, np.ndarray]:
    """Every (row, cell) pair whose quantile cell lies within ``reach`` of
    the row's centroid on each dimension, rows ascending — the per-dim
    windows of the Rubner contraction, before any cell screen.

    ``C`` holds (n, d) centroids, ``bnds`` the (d, G-1) boundaries.  Cell j
    of a dimension spans [bnds[j-1], bnds[j]], unbounded at both ends, and
    cell ids are base-G with dimension 0 most significant, as in
    ``_cell_expr``.  Vectorized: two searchsorted calls per dimension give
    each row's index window (boundaries are sorted), then one mixed-radix
    decode expands the window combos — no per-row Python loop."""
    n, d = C.shape
    grid = bnds.shape[1] + 1
    jlo = np.empty((n, d), dtype=np.int64)
    counts = np.empty((n, d), dtype=np.int64)
    for k in range(d):
        jlo[:, k] = np.searchsorted(bnds[k], C[:, k] - reach, side="left")
        jhi = 1 + np.searchsorted(bnds[k], C[:, k] + reach, side="right")
        counts[:, k] = np.maximum(jhi - jlo[:, k], 0)
    total = counts.prod(axis=1)
    rows = np.repeat(np.arange(n), total)
    rem = np.arange(rows.size) - np.repeat(np.cumsum(total) - total, total)
    cells = np.zeros(rows.size, dtype=np.int64)
    mult = 1
    for k in range(d - 1, -1, -1):  # decode mixed radix, dim 0 most significant
        ck = counts[rows, k]
        cells += (jlo[rows, k] + rem % ck) * mult
        rem //= ck
        mult *= grid
    return rows, cells


def _cell_expr(bnds: np.ndarray, grid: int) -> F.Column:
    """Native cell id: per-dim index = #boundaries <= coord, base-``grid``
    encoded as ``(0 * grid + idx_0) * grid + idx_1 ...`` (LONG)."""
    cell = "0"
    for k in range(bnds.shape[0]):
        idx_k = "0"
        for b in bnds[k]:
            idx_k += f" + CASE WHEN cent_{k} >= {sql_double(b)} THEN 1 ELSE 0 END"
        cell = f"({cell}) * {grid} + ({idx_k})"
    return F.expr(f"CAST({cell} AS BIGINT)")


def _derive_grid(n: int, d: int) -> int:
    """Auto grid resolution from (N, d) — a 100 TB user will not retune
    per-dataset constants (round-4 VERDICT item 2).  G = N^(1/(d+1)) for
    d >= 2 and N^0.4 at d=1, fit AND swept against the sf0.1 bench family
    (ABCHECK_r05.md): at d=2 it gives 18 (parity with the hand-tuned 20,
    measured); at d=3 it gives 9, which the grid sweep showed BEATS the
    hand-tuned 16 (7.5-7.7 s vs 8.4 s min-of-3).  Total cells G^d then
    grow as N^(d/(d+1)) — sublinear in N, so per-cell occupancy still
    rises slowly while the closure-shipped cell-stat tables stay far below
    N and bounded by the 64^d clamp."""
    exp = 0.4 if d == 1 else 1.0 / (d + 1)
    return int(np.clip(round(float(max(n, 2)) ** exp), 3, 64))


def _derive_pivots(n: int) -> int:
    """Auto pivot count ~ sqrt(N)/3: fit to the tuned sf0.1 constant
    (24 at N=5793).  Arbitrary costs used to get ~2x the pivots (the LAESA
    triangle screen was their only strong pair filter); since the
    metric-verified IndMin cascade stage took over that screening work the
    measured optimum matches the Minkowski constant — sf0.1 sweep,
    min-of-2 interleaved, identical outputs: P=16 27.5s / P=24 13.6s /
    P=32 17.5s / P=48 17.7s / P=64 21.3s.  Each pivot costs ~one exact LP
    per record in the assignment stage (97.9% of (record, pivot) slots
    fall inside the window cut at the bench theta), so excess pivots now
    buy little and pay linearly."""
    return int(np.clip(round(np.sqrt(float(max(n, 4))) / 3.0), 8, 128))


def _derive_cell_cap(n: int, width: int) -> int:
    """Auto hot-cell salting cap: ~one equal slice of the record table per
    runner task (``width``, the cascade runner's task count), floored at
    200 (the measured skew_bench sweet spot — 8.3x max-task cut at sf0.1).
    Unskewed cells sit far below the cap and are never split; only
    genuinely hot cells shatter.  Salting changes only which sub-group
    computes a pair, never the candidate set."""
    return max(200, int(np.ceil(n / float(max(width, 1)))))


def emd_join_nd(
    hist: DataFrame,
    bin_points: np.ndarray,
    threshold: float,
    cfg: NdJoinConfig | None = None,
    strategy: str = "grid",
    grid: int | None = None,
    id_col: str = "id",
    w_col: str = "w",
    seed: int = 42,
    other: DataFrame | None = None,
    stats: "JoinStats | None" = None,
    ground: str | np.ndarray = "l2",
) -> DataFrame:
    """EMD threshold join -> DataFrame(rid, sid, emd).

    Self-join (``other=None``): all unordered pairs with EMD <= threshold
    (+cfg.slack); rid < sid.  Two-table (``other`` given): all (r in hist,
    s in other) pairs — the R x S generalization the reference lacks
    (its joins are self-joins only, SURVEY.md §2.3); rid is hist's id, sid
    is other's.

    ``hist``/``other``: (id long, w array<double>) — weights need not be
    normalized (normalized per-record in the kernel, HistUtil.normalizeArray
    parity).  ``strategy``: 'grid' (quantile-cell pruned plan), 'pivot'
    (MRSimJoin), 'bruteforce' (block join — the J7/BSP-baseline correctness
    oracle), or 'auto' (engine picks: bruteforce for tiny inputs, pivot for
    arbitrary cost matrices, grid otherwise — declare the query, let the
    engine choose the physical plan).

    ``ground``: 'l1' | 'l2' | 'l3' | explicit (B, B) cost matrix
    (DistanceType parity).  An arbitrary matrix supports 'bruteforce' and
    'pivot' (which needs it to be a metric, as the reference assumes); the
    grid strategy is centroid-geometry-based and requires Minkowski.
    """
    bin_points = _bins(bin_points)
    # for the grid strategy, cfg seeding is DEFERRED into _build_grid_ctx so
    # the seed sample reads the cached centroid table instead of re-running
    # the (possibly expensive) upstream plan one extra time
    if cfg is None and strategy != "grid":
        cfg = _seeded_config(hist, w_col, bin_points, seed, ground)
    theta = float(threshold)
    two_table = other is not None

    valid = _valid_hist(w_col)
    rec = hist.where(valid).select(
        F.col(id_col).cast("long").alias("id"),
        F.col(w_col).alias("w"),
        F.lit(0).alias("side"),
    )
    if two_table:
        rec = rec.unionByName(
            other.where(valid).select(
                F.col(id_col).cast("long").alias("id"),
                F.col(w_col).alias("w"),
                F.lit(1).alias("side"),
            )
        )

    held: list[DataFrame] = []  # the auto probe's cache, released with the result
    n_rows = None  # the record count, when a probe already took it
    if strategy == "auto":
        # physical-strategy pick, Catalyst-style: the caller states WHAT
        # (threshold join under this ground), the engine picks HOW.
        # - arbitrary cost matrix: the grid's geometric screens don't apply
        #   -> pivot (metric-generic) for self-joins, bruteforce otherwise
        # - tiny input: the grid's stats/boundaries jobs cost more than the
        #   O(n^2/blocks) block join they would save -> bruteforce
        # - else: the quantile-grid MELODY plan
        minkowski_g = _minkowski(cfg, ground)
        small_probe = 512
        # persist BEFORE the sizing probe: partitions the probe scans are
        # cached, so the chosen strategy reuses them instead of re-running
        # the upstream histogram build (ADVICE round-3: the same
        # unpersisted-double-execution class as dup_clusters/pivot)
        rec = persist(rec)
        held.append(rec)
        n_probe = rec.limit(small_probe + 1).count()
        if n_probe <= small_probe:
            strategy = "bruteforce"
            n_rows = n_probe
        elif minkowski_g is None:
            # the pivot plan's hyperplane windows assume the triangle
            # inequality — a non-metric matrix silently drops qualifying
            # pairs there, so auto only picks pivot for VERIFIED metrics
            # and falls back to the sound block join otherwise
            if two_table or (cfg is not None and not cfg.is_metric()):
                strategy = "bruteforce"
            else:
                strategy = "pivot"
        else:
            strategy = "grid"

    if strategy == "bruteforce":
        return release_on_gc(
            _block_bruteforce(
                rec, cfg, theta, two_table, stats=stats, n_rows=n_rows
            ),
            *held,
        )
    if strategy == "pivot":
        if two_table:
            raise ValueError("pivot strategy supports self-joins only")
        if cfg.rubner_ord is None:
            # refuse loudly instead of silently dropping pairs: the
            # hyperplane window rule (and the LAESA screens) are sound only
            # under the triangle inequality.  The reference assumes the
            # caller hands it a metric (MRSimJoinHD's partitioning has the
            # same unchecked precondition); a one-time O(B^3) check makes
            # the contract enforceable here.
            if not cfg.is_metric():
                raise ValueError(
                    "pivot strategy requires a METRIC ground cost "
                    "(symmetric, zero diagonal, triangle inequality) — "
                    "this matrix violates it; use strategy='bruteforce' "
                    "for a general cost matrix"
                )
        # persist: the pivot sample (orderBy+limit collect) and the
        # assignment mapInPandas each consume rec — without the boundary the
        # upstream (histogram build at sf-scale) executes twice
        rec = persist(rec)
        return release_on_gc(
            _pivot_join(
                rec, cfg, theta, num_pivots=_derive_pivots(rec.count()),
                seed=seed, stats=stats,
            ),
            rec,
        )
    if strategy != "grid":
        raise ValueError(f"unknown strategy {strategy!r}")
    if _minkowski(cfg, ground) is None:
        raise ValueError(
            "grid strategy requires a Minkowski ground ('l1'/'l2'/'l3'); "
            "use strategy='pivot' (metric cost) or 'bruteforce' for an "
            "arbitrary cost matrix"
        )

    if bin_points.shape[1] == 1:
        # Collinear bins: 1-D EMD is a closed form over prefix CDFs, fully
        # expressible as JVM codegen — delegate to the cells plan of the 1-D
        # operator (hash-checked emd_threshold_cells machinery) instead of
        # shipping arrays through a Python cascade.  Same semantics: the
        # cells plan filters emd <= passed threshold, so pass theta + slack
        # (cascade parity); every Minkowski p coincides with |x - y| on a
        # line.  Covers self- AND two-table joins; ``stats`` stays empty.
        from .emd_join import emd_threshold_join
        from .histograms import with_cum

        pos = bin_points[:, 0]
        order = np.argsort(pos, kind="stable")

        def _prep(side_df):
            h = side_df.select("id", "w")
            if not np.array_equal(order, np.arange(pos.size)):
                h = h.withColumn(
                    "w", F.array(*[F.col("w")[int(i)] for i in order])
                )
            return with_cum(
                h.withColumn(
                    "total", F.aggregate("w", F.lit(0.0), lambda a, x: a + x)
                )
            )

        slack = cfg.slack if cfg is not None else 1e-4
        if two_table:
            # persist the unioned record table BEFORE the side split: each
            # .where(side=...) otherwise re-executes BOTH sides' upstream
            # histogram builds (measured 2x the whole query)
            rec = persist(rec)
            out = emd_threshold_join(
                _prep(rec.where(F.col("side") == 0)),
                theta + slack,
                positions=pos[order],
                strategy="cells",
                other=_prep(rec.where(F.col("side") == 1)),
            )
            return release_on_gc(out, rec)
        return release_on_gc(
            emd_threshold_join(
                _prep(rec), theta + slack, positions=pos[order], strategy="cells"
            ),
            *held,
        )

    ctx = _build_grid_ctx(rec, bin_points, cfg, grid, seed=seed, ground=ground)
    out = _grid_join(ctx, theta, stats=stats, two_table=two_table)
    return release_on_gc(out, ctx.rec1, *held)


@dataclass
class _GridCtx:
    """Theta-independent grid state, built once and reusable across probe
    radii (emd_topk_nd's escalation loop): the cached record table with
    cell + stat columns, the quantile boundaries, and the per-cell screen
    tables.  Call ``rec1.unpersist()`` when done."""

    rec1: DataFrame
    bnds: np.ndarray
    cs: "_CellStats"
    cfg: NdJoinConfig


def _build_grid_ctx(
    rec: DataFrame,
    bin_points: np.ndarray,
    cfg: NdJoinConfig | None,
    grid: int | None,
    seed: int = 42,
    ground: str | np.ndarray = "l2",
) -> _GridCtx:
    d = bin_points.shape[1]
    # persist the centroid-annotated records BEFORE the driver-side jobs:
    # the geometry agg, the stat-column materialization and the cell-stat
    # collect would otherwise each re-execute the upstream plan (for the
    # bench bridge tables that is a 3-join + groupBy chain — measured ~40%
    # of the whole d=2 query before this cache)
    rec0 = persist(_centroid_cols(rec, bin_points, "w"))
    n_rec, grid, bnds, sw, _ = _grid_geometry(rec0, d, grid)  # materializes rec0
    if cfg is None:
        cfg = build_config(bin_points, seed_weights=sw, seed=seed, ground=ground)

    stat_udf, stat_len = _stat_udf(cfg)
    # the spread guard sits BETWEEN the caches, after rec0 is materialized
    # (the geometry agg above always scans it): the partition probe then
    # reads the in-memory relation without re-running the upstream plan.
    # rec1, the per-record stat pass, and the guest enumeration that reads
    # it are what need the width; rec0's cheap JVM aggregates do not.
    rec1 = persist(
        spread(rec0, n_rec, _GRID_ROWS)
        .withColumn("cell", _cell_expr(bnds, grid))
        .withColumn("st", stat_udf("w"))
    )

    # one agg over the (small) cell space: per-cell centroid bbox, per-cell
    # (mu, sigma, err) bboxes per projection, per-cell dual-key minima — the
    # reference's NESpaceReducer cell-stat side files (NESpaceReducer.java:
    # 74-219) as a broadcastable numpy table
    cs = _collect_cell_stats(rec1, d, len(cfg.proj_positions), len(cfg.duals), grid**d)
    rec0.unpersist()  # rec1 (a superset) is materialized now
    return _GridCtx(rec1, bnds, cs, cfg)


def _salt_factors(cnt: np.ndarray, cell_cap: int) -> np.ndarray:
    """Per-cell sub-block counts: cells whose native count exceeds cell_cap/2
    split into S blocks so a block-PAIR group holds ~2*cnt/S <= cell_cap
    rows.  Guest replication concentrates next to dense cells, so the native
    count is the driver (round-2 VERDICT item 4; the reference instead
    re-rounds oversized partitions through spill dirs,
    CloudJoinBaseReducer.java:150-272)."""
    return np.maximum(1, np.ceil(2.0 * cnt / float(cell_cap))).astype(np.int64)


def _grid_join(
    ctx: _GridCtx,
    theta: float,
    stats: "JoinStats | None" = None,
    two_table: bool = False,
) -> DataFrame:
    cfg, bnds, cs = ctx.cfg, ctx.bnds, ctx.cs
    d = bnds.shape[0]
    rec1 = ctx.rec1
    n_proj = len(cfg.proj_positions)
    n_dual = len(cfg.duals)

    # guest cells: every *occupied* cell strictly below the native cell that
    # survives three sound record-to-cell screens (Grid.getGuestWithDual:
    # 352-457): (1) Rubner distance to the cell's ACTUAL centroid bbox,
    # (2) the normal/EMD_BR bound over the cell's (mu, sigma) bbox per
    # projection, (3) the dual-key range bound.  Fully vectorized: the
    # candidate cells are ``_reachable_cells``' per-dim windows and every
    # screen is a numpy array op — no per-row Python loop.
    reach = theta + cfg.slack
    from ..kernel.normal import cell_normal_bound

    @F.pandas_udf(ArrayType(LongType()))
    def guest_cells(cent_struct: pd.DataFrame, st: pd.Series, native: pd.Series) -> pd.Series:
        C = cent_struct.to_numpy(dtype=np.float64)  # (n, d)
        nat = native.to_numpy(dtype=np.int64)
        n = nat.size
        if n == 0:
            return pd.Series([], dtype=object)
        S = np.stack(st.to_numpy())  # (n, stat_len)
        rep, cid = _reachable_cells(C, bnds, reach)
        if stats is not None:
            stats.add("guest_considered", rep.size)
        # dedup rule: guests go only to cells strictly below their native cell
        keep = cid < nat[rep]
        rep, cid = rep[keep], cid[keep]
        # screen 0: empty cells host no partners
        keep = cs.cnt[cid] > 0
        n_empty = int((~keep).sum())
        rep, cid = rep[keep], cid[keep]
        # screen 1: Rubner to the cell's actual centroid bbox (tighter than
        # the quantile-boundary bbox, esp. for unbounded edge cells), in the
        # ground distance's own p-norm
        keep = (
            rubner_bound_to_bbox(C[rep], cs.cmin[cid], cs.cmax[cid], ord=cfg.rubner_ord)
            <= reach
        )
        n_rub = int((~keep).sum())
        rep, cid = rep[keep], cid[keep]
        # screen 2: normal/EMD_BR bound per projection over the (mu, sigma) bbox
        n_norm = 0
        for p in range(n_proj):
            if rep.size == 0:
                break
            lb = cell_normal_bound(
                S[rep, 3 * p], S[rep, 3 * p + 1], S[rep, 3 * p + 2],
                cs.mu_lo[p, cid], cs.mu_hi[p, cid],
                cs.sig_lo[p, cid], cs.sig_hi[p, cid],
                cs.err_max[p, cid],
            )
            keep = lb <= reach
            n_norm += int((~keep).sum())
            rep, cid = rep[keep], cid[keep]
        # screen 3: dual-key ranges — min over cell members of the pair dual
        # bound max(key_r + ckey_b, key_b + ckey_r) is >= the screen value
        n_dualp = 0
        for q in range(n_dual):
            if rep.size == 0:
                break
            lb = np.maximum(
                S[rep, 3 * n_proj + 2 * q] + cs.ckey_min[q, cid],
                cs.key_min[q, cid] + S[rep, 3 * n_proj + 2 * q + 1],
            )
            keep = lb <= reach
            n_dualp += int((~keep).sum())
            rep, cid = rep[keep], cid[keep]
        if stats is not None:
            stats.add("guest_pruned_empty", n_empty)
            stats.add("guest_pruned_rubner", n_rub)
            stats.add("guest_pruned_normal", n_norm)
            stats.add("guest_pruned_dual", n_dualp)
            stats.add("guest_replicas", rep.size)
        # regroup survivors (rep stayed sorted through the boolean masks)
        edges = np.searchsorted(rep, np.arange(n + 1))
        return pd.Series([cid[edges[r]:edges[r + 1]] for r in range(n)])

    cent_struct = F.struct(*[F.col(f"cent_{k}") for k in range(d)])
    # single-read plan: each record explodes into 1 native + 0..k guest
    # entries in one pass over rec1 (no self-union, so the cached input is
    # scanned once by the final job)
    entries = F.concat(
        F.array(F.struct(F.col("cell").alias("c"), F.lit(True).alias("n"))),
        F.transform(
            guest_cells(cent_struct, F.col("st"), F.col("cell")),
            lambda g: F.struct(g.alias("c"), F.lit(False).alias("n")),
        ),
    )
    allrows = rec1.select(
        "id", "w", "side", F.explode(entries).alias("e")
    ).select(
        "id", "w", "side",
        F.col("e.c").alias("cell"),
        F.col("e.n").alias("native"),
    )

    # hot-cell salting: cells over the cap fan out into block-PAIR sub-groups
    # (the _block_bruteforce triangle applied per hot cell) so one group
    # holds ~_derive_cell_cap rows, never the whole cell.  Cold cells keep salt
    # factor 1 — the plan below degenerates to the unsalted one (sub == 0)
    # with no extra replication.
    #
    # The split factor keys off the cell's LOAD (natives + an upper estimate
    # of incoming guests), not the native count alone: when theta spans
    # multiple cells (clustered data, generous radius) guests dominate group
    # size and native-count salting under-splits — measured 2.4x straggler
    # residue in scripts/skew_bench.py's cluster shape.  Guests into cell j
    # are bounded at CELL granularity with the same Rubner bbox screen the
    # guest UDF applies per record: every higher occupied cell whose
    # centroid bbox lies within reach contributes its full count.  Driver-
    # side numpy over <= G^d occupied cells, chunked to stay O(m * 256 * d)
    # in memory.
    load = cs.cnt.astype(np.float64).copy()
    occ = np.flatnonzero(cs.cnt > 0)
    if occ.size > 1 and cfg.rubner_ord is not None:
        A_lo, A_hi = cs.cmin[occ], cs.cmax[occ]
        cnt_occ = cs.cnt[occ].astype(np.float64)
        guests_into = np.zeros(occ.size)
        for s0 in range(0, occ.size, 256):
            s1 = min(s0 + 256, occ.size)
            gap = np.maximum(
                A_lo[s0:s1, None, :] - A_hi[None, :, :],
                A_lo[None, :, :] - A_hi[s0:s1, None, :],
            )
            np.maximum(gap, 0.0, out=gap)
            dist = np.linalg.norm(gap, ord=cfg.rubner_ord, axis=2)  # (b, m)
            near = dist <= reach
            # guests into cell j (the chunk axis) come from higher cells i
            higher = occ[None, :] > occ[s0:s1, None]
            guests_into[s0:s1] = (near & higher) @ cnt_occ
        load[occ] += guests_into
    # runner width from the MELODY-Join cost model: a cell's natives meet
    # every row the cell hosts, so sum(cnt x load) bounds the candidate
    # pairs.  The per-cell counts are already collected, so it is free.
    width = task_width(rec1.sparkSession, float(cs.cnt @ load), EMD_PAIRS)
    salt = _salt_factors(load, _derive_cell_cap(int(cs.cnt.sum()), width))
    max_s = int(salt.max()) if salt.size else 1
    if max_s > 1:
        hot = {int(c): int(salt[c]) for c in np.flatnonzero(salt > 1)}
        smap = F.create_map(*[F.lit(x) for c, s in hot.items() for x in (c, s)])
        s_col = F.coalesce(smap[F.col("cell")], F.lit(1))
        b_col = F.pmod(F.xxhash64("id"), s_col)
        subs = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), s_col - F.lit(1)),
                lambda o: F.least(b_col, o) * max_s + F.greatest(b_col, o),
            )
        )
        allrows = allrows.select(
            "id", "w", "side", "cell", "native",
            b_col.alias("blk"), F.explode(subs).alias("sub"),
        )
    else:
        allrows = allrows.withColumn("blk", F.lit(0)).withColumn("sub", F.lit(0))
    grp_key = (F.col("cell") * (max_s * max_s) + F.col("sub")).alias("grp")
    allrows = allrows.select("id", "w", "side", "native", "blk", grp_key)

    def grid_pairs(key, idx, cols, cents):
        nat, blks, ids = cols["native"], cols["blk"], cols["id"]
        if two_table:
            # anchors: R rows; partners: S rows.  A pair is computed in the
            # lower of the two native cells, i.e. exactly when at least one
            # end is native here (never guest x guest).
            side = cols["side"]
            anchors = idx[side[idx] == 0]
            pool = idx[side[idx] == 1]
        else:
            anchors = idx[nat[idx]]
            pool = idx
        if anchors.size == 0 or pool.size == 0:
            return _NO_PAIRS
        # a qualifying partner lies within reach on EVERY centroid dim
        # (Rubner), so a dim-0 window loses no pair
        li, ri = _window_pairs(anchors, pool, cents[:, 0], reach)
        if two_table:
            # at least one native end (pair lives in the lower native cell)
            keep = nat[li] | nat[ri]
        else:
            # native partners once by id order; guest partners all (guests
            # never appear in their native cell, so no self/guest dups)
            keep = np.where(nat[ri], ids[ri] > ids[li], True)
        # salted cells: this sub-group owns exactly the pairs whose block
        # pair is (gi, gj) — each pair computed in one sub-group
        gi, gj = divmod(key % (max_s * max_s), max_s)
        keep &= (np.minimum(blks[li], blks[ri]) == gi) & (
            np.maximum(blks[li], blks[ri]) == gj
        )
        return li[keep], ri[keep]

    return _run_cascade(
        allrows, cfg, theta, width, grid_pairs, stats=stats, ordered=two_table
    )


# ---------------------------------------------------------------------------
# pivot (MRSimJoin) strategy
# ---------------------------------------------------------------------------

def _pivot_join(
    rec: DataFrame,
    cfg: NdJoinConfig,
    theta: float,
    num_pivots: int,
    seed: int,
    stats: "JoinStats | None" = None,
) -> DataFrame:
    """MRSimJoin re-expressed for Spark (SURVEY.md §2.3 J6, §3.2):

    1. P pivots sampled on the driver (InputSampler.RandomSampler analog,
       mrsim/generic/MRSimJoinHD.java:379-390) — deterministic seeded
       choice of P distinct records.
    2. One mapInPandas pass finds each record's nearest pivot = base
       partition (CloudJoinBaseMapper.map:81-196 solves all P exact EMDs
       instead): the multi-step search of
       :mod:`~melody_join_spark.kernel.cascade` with k = 1 under Minkowski
       grounds, a LAESA loop over the pivot-pivot distances under a metric
       cost matrix.  Generalized-hyperplane window rule: record e is
       replicated to window partition (i, j) when
       (d(e, P_far) - d(e, P_near)) / 2 <= theta (+slack) — the condition
       under which a qualifying partner can live across the boundary; only
       pivots whose lower bound admits that are solved exactly.
    3. Rows explode into their partition keys and run through the shared
       cascade runner (``_run_cascade``, min(P^2, the candidate-pair
       width) tasks); ``pivot_pairs`` generates the candidates: base partitions
       join all their own pairs; window partitions join base-i x base-j
       rows only.  Each qualifying pair appears exactly once (same base ->
       base partition; different bases i<j -> window (i,j), where the
       triangle inequality guarantees both ends satisfy the window rule).

    The reference's 32 MB spill-and-reround loop (CloudJoinBaseReducer.java:
    150-272) is unnecessary: Spark's shuffle spills, and partition counts
    scale with P^2 windows.
    """
    piv_rows = (
        rec.select("id", "w")
        .orderBy(F.pmod(F.xxhash64(F.col("id") + F.lit(seed)), F.lit(1 << 31)))
        .limit(int(num_pivots))
        .collect()
    )
    if not piv_rows:
        return rec.sparkSession.createDataFrame([], _PAIR_SCHEMA)
    # an input with fewer records than requested pivots has them all as pivots
    P = len(piv_rows)
    PV = normalize(np.array([r["w"] for r in piv_rows], dtype=np.float64))
    reach = theta + cfg.slack
    # pivot-pivot EMD matrix (arbitrary/metric costs only): P(P-1)/2 LPs on
    # the driver buy LAESA-style bounds everywhere downstream — the pivot
    # contract already requires a METRIC cost (hyperplane windows assume the
    # triangle inequality), so |d(r, p) - d(p, q)| lower-bounds d(r, q)
    PP = None
    if cfg.rubner_ord is None and P > 1:
        ii, jj = np.triu_indices(P, 1)
        es = _cascade_for(PV, cfg).exact_pairs(ii, jj)
        PP = np.zeros((P, P))
        PP[ii, jj] = es
        PP[jj, ii] = es

    def dists_part(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            # one cascade over [pivots; records]: exact EMD to a pivot is an
            # LP, so most pivots are screened by lower bounds first, where
            # the reference pays P LPs per record (CloudJoinBaseMapper:81-196)
            casc = _stacked_cascade(cfg, PV, pdf["w"].to_numpy())
            EX = np.full((n, P), np.nan)
            d_near = np.full(n, np.inf)
            if cfg.rubner_ord is not None:
                # the nearest pivot by the multi-step rule (k = 1), then
                # the window distances: exactness is only needed where
                # lb <= d_near + 2*reach — pivots beyond that can never
                # admit a cross-boundary match, so their slot stays +inf
                # and the JVM window rule drops them for free (the static
                # bounds do not tighten from solves)
                LB = _lb_matrix(casc, np.arange(P, P + n), np.arange(P))
                rr, jj, es = multistep(
                    LB, 1, lambda o, c: casc.exact_pairs(P + o, c), _PIVOT_CHUNK
                )
                EX[rr, jj] = es
                np.minimum.at(d_near, rr, es)
                rr, jj = np.nonzero((LB <= d_near[:, None] + 2.0 * reach) & np.isnan(EX))
                if rr.size:
                    EX[rr, jj] = casc.exact_pairs(P + rr, jj)
            else:
                # arbitrary (metric) cost: no centroid geometry, but the
                # pivot-pivot matrix gives LAESA bounds.  ONE loop covers
                # both the nearest-pivot search and the window distances:
                # round t solves each record's cheapest-lb unsolved pivot,
                # every solve tightens all its unsolved slots via
                # |d(r,p) - PP[p,q]| <= d(r,q), and a record stops when that
                # bound exceeds the DYNAMIC window cut d_near + 2*reach
                # (pivots past it can never admit a cross-boundary match).
                # Solving cheapest-first under the shrinking cut lets each
                # solved slot push later slots past the cut before they are
                # paid for — a few LPs per record, not the reference's n*P.
                rows_n = np.arange(n)
                LB = np.zeros((n, P))
                while True:
                    masked = np.where(np.isnan(EX), LB, np.inf)
                    jn_all = masked.argmin(axis=1)
                    lb_next = masked[rows_n, jn_all]
                    go = np.isfinite(lb_next) & (
                        lb_next <= d_near + 2.0 * reach
                    )
                    if not go.any():
                        break
                    rr = np.flatnonzero(go)
                    jn = jn_all[rr]
                    es = casc.exact_pairs(P + rr, jn)
                    EX[rr, jn] = es
                    d_near[rr] = np.minimum(d_near[rr], es)
                    if PP is not None:
                        # NB: fancy-indexed LB[rr] is a copy — assign back
                        LB[rr] = np.maximum(
                            LB[rr], np.abs(es[:, None] - PP[jn])
                        )
            # solved slots keep their exact value (more finite coordinates
            # for the join-time LAESA screen); unsolved slots have
            # lb > d_near + 2*reach, so the true distance fails the
            # hyperplane rule and +inf drops them for free.  A solved slot
            # whose exact exceeds the cut is equally dropped by the JVM
            # rule, so membership is unchanged.
            D = np.where(np.isnan(EX), np.inf, EX)
            base = D.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "w": pdf["w"],
                    "side": pdf["side"],
                    "base": base,
                    "dists": list(D),
                }
            )

    dist_schema = StructType(
        [
            StructField("id", LongType()),
            StructField("w", ArrayType(DoubleType())),
            StructField("side", LongType()),
            StructField("base", LongType()),
            StructField("dists", ArrayType(DoubleType())),
        ]
    )
    # spread the assignment stage: its input is usually a persisted frame
    # whose final AQE stage coalesced to very few partitions, but the
    # per-record work here is LP-bound (exact EMDs to pivots) — measured
    # 6.7 s on ONE task at sf0.1.  A round-robin repartition of the tiny
    # (id, w) rows costs nothing next to the work it parallelizes.
    n = rec.count()  # cached by the pivot sample above: metadata-cheap
    rec_in = spread(
        rec.select("id", "w", F.col("side").cast("long").alias("side")),
        n,
        _PIVOT_ROWS,
    )
    with_d = rec_in.mapInPandas(dists_part, dist_schema)
    # partition keys: base partition (b, b) always; window (i, j), i<j, when
    # the hyperplane rule admits a cross-boundary match with that pivot
    db = F.element_at("dists", F.col("base").cast("int") + 1)
    keys = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(P - 1)),
            lambda o: F.when(
                o == F.col("base"),
                F.col("base") * P + F.col("base"),
            ).when(
                (F.element_at("dists", o.cast("int") + 1) - db) / 2.0 <= reach,
                F.least(F.col("base"), o) * P + F.greatest(F.col("base"), o),
            ).otherwise(F.lit(-1)),
        ),
        lambda x: x >= 0,
    )
    # arbitrary costs keep the per-pivot exact distances: they are the only
    # strong pair screen available at join time (see pivot_pairs)
    carry = ["id", "w", "base"] + (["dists"] if cfg.rubner_ord is None else [])
    expanded = with_d.select(
        *carry, F.explode(F.array_distinct(keys)).alias("grp")
    )

    def pivot_pairs(key, idx, cols, cents):
        gi, gj = divmod(key, P)
        if gi == gj:
            anchors = pool = idx
        else:
            bases = cols["base"][idx]
            anchors = idx[bases == gi]
            pool = idx[bases == gj]
            if anchors.size == 0 or pool.size == 0:
                return _NO_PAIRS
        # sorted-window candidates replace the reference's QuickJoin
        # recursion for oversized base partitions (CloudJoinBaseReducer.java:
        # 277-436, leaf 5000): an oversized or skewed partition costs
        # O(n * window) candidates, not O(n^2)
        if cfg.rubner_ord is not None:
            # centroid dim-0 window: |d cent_0| <= reach is implied by the
            # Rubner bound for any Minkowski ground
            li, ri = _window_pairs(anchors, pool, cents[:, 0], reach)
        else:
            # arbitrary (metric) cost: no centroid geometry, but the same
            # window applies on the pivot-gi distance axis — every row of
            # this group carries an EXACT distance to pivot gi (group
            # admission required dists[gi] finite), and |d(a,P_gi) -
            # d(b,P_gi)| <= theta is necessary for any qualifying pair
            # (triangle inequality).  The remaining pivots then screen the
            # window's survivors: the full LAESA max lb(a,b) = max_p
            # |d(a,p) - d(b,p)| over pivots exact on BOTH sides, in
            # fixed-size chunks so the temporaries stay cache-warm.
            Dp = cols["dists"]  # (rows, P)
            if np.isfinite(Dp[idx, gi]).all():
                li, ri = _window_pairs(anchors, pool, Dp[:, gi], reach)
            else:
                # defensive: the admission rule guarantees finiteness, but a
                # full block enumeration stays correct if it ever breaks
                li = np.repeat(anchors, pool.size)
                ri = np.tile(pool, anchors.size)
            keep = np.empty(li.size, dtype=bool)
            step = max(1, (1 << 22) // max(P, 1))
            for s in range(0, li.size, step):
                dl, dr = Dp[li[s : s + step]], Dp[ri[s : s + step]]
                with np.errstate(invalid="ignore"):  # inf-inf slots masked
                    diffs = np.abs(dl - dr)
                diffs[~(np.isfinite(dl) & np.isfinite(dr))] = 0.0
                keep[s : s + step] = diffs.max(axis=1) <= reach
            if stats is not None:
                stats.add("laesa_considered", li.size)
                stats.add("laesa_survivors", int(keep.sum()))
            li, ri = li[keep], ri[keep]
        if gi == gj:
            ids = cols["id"]
            keep = ids[ri] > ids[li]  # unordered pairs once
            li, ri = li[keep], ri[keep]
        return li, ri

    # task count from the candidate pairs: an unordered pair is a candidate
    # in at most one group (its base partition, or the window of its two
    # bases), so n^2/2 bounds them, and no more tasks than the P^2 groups.
    # Round 10: one wave packed ~P^2/2 CPU-weighted groups into (cores)
    # bins by hash — measured ~50% parallel efficiency at sf0.1 (234.8
    # core-s of group work, 32 tasks, 15-19 s of join-stage wall vs the
    # 7.3 s ideal; worst group 6.8 s) — so large work takes the helper's
    # several waves.  Partition memory is bounded: one partition holds
    # ~P*P-th of the replicated rows.
    width = min(P * P, task_width(rec.sparkSession, n * n / 2.0, EMD_PAIRS))
    return _run_cascade(expanded, cfg, theta, width, pivot_pairs, stats=stats)


# ---------------------------------------------------------------------------
# block bruteforce join (oracle / fallback)
# ---------------------------------------------------------------------------

def _block_bruteforce(
    rec: DataFrame,
    cfg: NdJoinConfig,
    theta: float,
    two_table: bool = False,
    stats: "JoinStats | None" = None,
    n_rows: int | None = None,
) -> DataFrame:
    """All-pairs block join (J7 semantics, bsp/BaselineBSP.join:274-345).

    Self-join: records hash into ``_BLOCKS`` blocks; each unordered block
    pair (i <= j) is one candidate group — a triangle of B(B+1)/2 groups
    with B-fold replication, never a row-level cross join.  Two-table: the
    full B x B block grid, R rows fan out over rows of the grid, S rows over
    columns.  Its candidates are every pair of the block pair, independent
    of any geometric window, which keeps it the other strategies' oracle;
    the groups run through the shared cascade runner.  ``n_rows``, when the
    caller already counted the records, sizes the runner by its candidate
    pairs (at most n^2/2); without it the runner takes one wave."""
    P = _BLOCKS
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(P))
    rec = rec.withColumn("blk", blk)
    if two_table:
        groups = F.when(
            F.col("side") == 0,
            F.transform(F.sequence(F.lit(0), F.lit(P - 1)), lambda o: F.col("blk") * P + o),
        ).otherwise(
            F.transform(F.sequence(F.lit(0), F.lit(P - 1)), lambda o: o * P + F.col("blk"))
        )
    else:
        # record in block b participates in groups (min(b,o), max(b,o)) ∀ o
        groups = F.transform(
            F.sequence(F.lit(0), F.lit(P - 1)),
            lambda o: F.least(F.col("blk"), o) * P + F.greatest(F.col("blk"), o),
        )
    expanded = rec.select(
        "id", "w", "side", "blk", F.explode(F.array_distinct(groups)).alias("grp")
    )

    def block_pairs(key, idx, cols, cents):
        gi, gj = divmod(key, P)
        blks = cols["blk"][idx]
        if two_table:
            side = cols["side"][idx]
            left = idx[(side == 0) & (blks == gi)]
            right = idx[(side == 1) & (blks == gj)]
        elif gi == gj:
            order = idx[np.argsort(cols["id"][idx], kind="stable")]
            a, b = np.triu_indices(order.size, k=1)
            return order[a], order[b]
        else:
            left = idx[blks == gi]
            right = idx[blks == gj]
        return np.repeat(left, right.size), np.tile(right, left.size)

    # the B(B+1)/2 (two-table B^2) groups are few and equally sized, so
    # never more tasks than groups; every candidate pair is an entry of
    # one block pair
    n_groups = P * P if two_table else P * (P + 1) // 2
    work = None if n_rows is None else n_rows * n_rows / 2.0
    width = min(n_groups, task_width(rec.sparkSession, work, EMD_PAIRS))
    return _run_cascade(
        expanded, cfg, theta, width, block_pairs, stats=stats, ordered=two_table,
    )


# ---------------------------------------------------------------------------
# kNN lookup
# ---------------------------------------------------------------------------

def emd_knn(
    db: DataFrame,
    queries: DataFrame,
    bin_points: np.ndarray,
    k: int = 10,
    cfg: NdJoinConfig | None = None,
    id_col: str = "id",
    w_col: str = "w",
    seed: int = 42,
    ground: str | np.ndarray = "l2",
    distributed: bool | None = None,
) -> DataFrame:
    """k nearest database histograms per query under exact EMD ->
    (qid, nid, emd, rank); excludes identical-id matches and invalid rows
    (``_valid_hist``) on either side.

    The reference carries an unreachable kNN guest path (Grid.getGuestForKNN,
    utils/Grid.java:60-207, SURVEY.md §2.3 J5); this is the capability done
    Spark-first.  Small query sets (at most ``_probe.COLLECT_ROWS`` rows;
    the lookup contract) are collected + broadcast, and each database
    partition runs the multi-step k-nearest search of
    :mod:`~melody_join_spark.kernel.cascade` with the queries as owners,
    its rows as candidates and the cascade's Rubner + projection bounds.
    Per-partition top-k lists then merge through one small shuffle.

    Large query sets take the NO-collect block path (``distributed=None``
    decides from the size probe; True forces): queries and database rows
    hash into blocks that meet in ``cogroup().applyInPandas`` groups, sized
    by row count as described in
    :mod:`~melody_join_spark.operators._probe`; every (q-block, db-block)
    group runs the SAME multi-step search, and the global ranking
    window merges.  ``distributed=False`` on an oversized query set
    raises instead of silently bottlenecking the driver.
    """
    bin_points = _bins(bin_points)
    if cfg is None:
        cfg = _seeded_config(db, w_col, bin_points, seed, ground)

    valid = _valid_hist(w_col)
    q = queries.where(valid).select(
        F.col(id_col).alias("id"), F.col(w_col).alias("w")
    )

    def prep(qpdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        qids_ = qpdf["id"].to_numpy().astype(np.int64)
        return qids_, normalize(np.stack(qpdf["w"].to_numpy()).astype(np.float64))

    def knn_block(payload: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        """The multi-step search of one (query block, db block) pair: every
        query is an owner, every block row a candidate, all queries'
        rounds stacked into one exact call."""
        qids_, QW_ = payload
        nq = len(qids_)
        ids = pdf["id"].to_numpy()
        casc = _stacked_cascade(cfg, QW_, pdf["w"].to_numpy())
        LB = _lb_matrix(casc, np.arange(nq), np.arange(nq, nq + ids.size))
        LB[ids[None, :] == qids_[:, None]] = np.inf  # self-matches out
        own, cand, emd = multistep(
            LB, k, lambda o, c: casc.exact_pairs(o, nq + c), max(_KNN_CHUNK, 2 * k)
        )
        # each query's k smallest by (emd, nid)
        nid = ids[cand]
        o = np.lexsort((nid, emd, own))
        own, nid, emd = own[o], nid[o], emd[o]
        keep = np.arange(own.size) - np.searchsorted(own, own) < k
        return pd.DataFrame({"qid": qids_[own[keep]], "nid": nid[keep], "emd": emd[keep]})

    def rank(local: DataFrame) -> DataFrame:
        from pyspark.sql.window import Window

        w = Window.partitionBy("qid").orderBy(F.col("emd").asc(), F.col("nid").asc())
        return (
            local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "nid", "emd", "rank")
        )

    return run_query_blocks(
        q,
        db.where(valid).select(
            F.col(id_col).alias("id"), F.col(w_col).alias("w")
        ),
        ("id", "id"),
        prep,
        knn_block,
        "qid long, nid long, emd double",
        rank,
        unit=EMD_PAIRS,  # each entry pays the lower-bound screens
        distributed=distributed,
        op="emd_knn",
    )


# ---------------------------------------------------------------------------
# top-k
# ---------------------------------------------------------------------------

def emd_topk_nd(
    hist: DataFrame,
    bin_points: np.ndarray,
    k: int,
    cfg: NdJoinConfig | None = None,
    strategy: str = "grid",
    grid: int | None = None,
    id_col: str = "id",
    w_col: str = "w",
    seed: int = 42,
    ground: str | np.ndarray = "l2",
    stats: "JoinStats | None" = None,
) -> DataFrame:
    """k smallest-EMD pairs -> (rank, rid, sid, emd); ties by (emd, rid, sid)
    (JoinedPair.compareTo order, utils/JoinedPair.java:45-58).  Invalid
    rows (``_valid_hist``) are dropped on entry, as in :func:`emd_join_nd`.

    Sample-seeded bound (QNEPreReducer.java:96-109 / HistUtil.getKEmd:
    641-652): the kth smallest exact EMD among the pairs of a seeded
    hash-order sample of the rows (its size derived from N and k), found by
    the multi-step search of :mod:`~melody_join_spark.kernel.cascade`, is an
    upper bound for the global kth distance; the threshold join at that
    bound then covers the true top-k; orderBy(emd).limit(k) merges."""
    from pyspark.sql.window import Window

    bin_points = _bins(bin_points)
    if _minkowski(cfg, ground) is None and strategy == "grid":
        strategy = "bruteforce"  # arbitrary cost: no centroid grid geometry

    rec = hist.select(
        F.col(id_col).cast("long").alias("id"), F.col(w_col).alias("w")
    ).where(_valid_hist("w"))
    ctx = None
    rec_n = None
    if strategy == "grid":
        # build the theta-independent grid context FIRST (round 12, guide
        # §2.1): its fused count+boundaries agg supplies N for the
        # sample-size rule (the per-cell counts sum to it for free), its
        # cached rec1 serves the seed sample without re-running the
        # upstream chain, and cfg seeding happens inside against the cache.
        # The old order — cfg seed collect on the raw chain, persist+count
        # rec, sample rec, then build the ctx with its own count/boundary
        # jobs — paid three extra upstream-chain actions for the same
        # information.
        ctx = _build_grid_ctx(
            rec.withColumn("side", F.lit(0)),
            bin_points, cfg, grid, seed=seed, ground=ground,
        )
        cfg = ctx.cfg
        rec_n = int(ctx.cs.cnt.sum())
        sample_src = ctx.rec1
    else:
        if cfg is None:
            cfg = _seeded_config(hist, w_col, bin_points, seed, ground)
        rec = persist(rec)
        sample_src = rec

    # driver-side seed bound for the global kth distance (QNEPreReducer.java:
    # 96-109 / HistUtil.getKEmd:641-652 analog, upgraded by the batched
    # simplex): exact EMDs of MANY sampled pairs in one stacked solve — the
    # kth smallest among them is a sound AND tight ceiling for the global kth
    # distance, and the k sampled pairs realizing it are real pairs of the
    # dataset, so the single threshold join at that radius is GUARANTEED to
    # return >= k pairs.  This replaces round-2's density-guessed probe plus
    # escalation loop (an extra full join pass on a miss) with one pass —
    # the single-pass property the reference gets from per-cell rank
    # ceilings (Grid.pruneCandidates:329-350).

    # seeded hash-order sample, NOT first-N-by-id: on id-clustered data the
    # first ids are near-duplicates of each other, which loosens the kth
    # ceiling and inflates the exact stage of the one grid join (round-3
    # VERDICT wrong #2).  xxhash64(id, seed) is a deterministic shuffle of
    # the id space — same ceiling tightness as a uniform random sample,
    # stable across partitionings/reruns.
    # The sample size derives from N, not k alone: the seed must reach the
    # duplicate/near-duplicate tail of the TABLE for the kth ceiling to be
    # tight — the r5 k-only derivation (max(500, 15k)) resolved to 500 here
    # and cost +3 s on the sf0.1 d=3 bench (ceiling too loose, grid pass at
    # an inflated radius; within-process interleaved probe: 500 -> 9.0-9.8 s
    # vs 600/750 -> 6.2-6.9 s).  8*sqrt(N) reproduces the hand-tuned 600 at
    # sf0.1 (N=5793 -> 609) and scales the seed with the dup-tail mass; the
    # 4096 cap bounds the driver-side LB matrix (seeds^2/2 pairs) at any N.
    if rec_n is None:
        rec_n = rec.count()  # persisted above: cheap, reused by the sample
    sample_size = max(500, 15 * k, min(int(8.0 * rec_n**0.5), 4096))
    sample = (
        sample_src.select("id", "w")
        .orderBy(F.xxhash64(F.col("id"), F.lit(int(seed))), F.col("id"))
        .limit(max(sample_size, 4 * k))
        .collect()
    )
    SW = normalize(np.array([r["w"] for r in sample], dtype=np.float64))
    n = SW.shape[0]
    scored = None
    if n * (n - 1) // 2 < k:
        scored = _block_bruteforce(
            rec.withColumn("side", F.lit(0)), cfg, float("inf"),
            stats=stats, n_rows=rec_n,
        )
    else:
        # the ceiling is the kth-smallest EXACT EMD among the sample's
        # pairs: ONE owner whose candidates are all sample pairs, found by
        # the multi-step search (kernel.cascade) — the exact sample kth
        # with near-minimal LPs, so the single grid join runs at the
        # tightest radius any sample of this size can justify
        casc = _cascade_for(SW, cfg)
        iu0, iu1 = np.triu_indices(n, 1)
        _, _, vals = multistep(
            casc.lower_bounds(iu0, iu1)[None, :], k,
            lambda o, c: casc.exact_pairs(iu0[c], iu1[c]), k,
        )
        kth = np.sort(vals)[k - 1] if vals.size >= k else np.inf
        probe = max(float(kth), 1e-9)
        if not np.isfinite(probe):
            # degenerate sample (e.g. all-identical or NaN-mass rows) left
            # the multi-step search without k finite exact EMDs: there is
            # no finite ceiling, and round(inf * 1e6) / a radius-inf grid
            # join would both blow up — fall back to the all-pairs oracle,
            # which needs no radius (round-4 ADVICE, emd_join_nd.py:1669)
            scored = _block_bruteforce(
                rec.withColumn("side", F.lit(0)), cfg, float("inf"),
                stats=stats, n_rows=rec_n,
            )
    if scored is None:
        if stats is not None:
            # ceiling tightness is the whole game for the single join pass:
            # log it (micro-units; accumulators are ints) so seed-sampling
            # changes are A/B-comparable
            stats.add("seed_ceiling_micro", round(probe * 1e6))
        while True:
            if ctx is not None:
                # the quantile grid + cell screens are theta-independent:
                # built once above; the (defensive) re-probe loop reuses them
                cand = _grid_join(ctx, probe, stats=stats)
            else:
                cand = emd_join_nd(
                    rec, bin_points, probe, cfg=cfg, strategy=strategy,
                    grid=grid, stats=stats,
                )
            # ONE action (round 12): TakeOrdered answers both "are there
            # >= k pairs at this radius" (len(rows) == k) and "which are
            # the global top k" — the old persist + count() + collect
            # shape paid an extra job and a cache for the same information.
            rows = cand.orderBy("emd", "rid", "sid").limit(k).collect()
            if len(rows) >= k:
                break
            # unreachable by construction (the k seed pairs qualify at
            # probe); kept as a defensive escape hatch only
            probe = probe * 4 + 4 * cfg.slack
    else:
        # the global top-k is k rows by definition — merge on the driver
        rows = scored.orderBy("emd", "rid", "sid").limit(k).collect()
    # release every cache deterministically and return a local DataFrame so
    # no cached RDDs outlive the call
    spark = hist.sparkSession
    if ctx is not None:
        ctx.rec1.unpersist()
    if rec.is_cached:
        rec.unpersist()
    out = spark.createDataFrame(
        [(i + 1, r.rid, r.sid, float(r.emd)) for i, r in enumerate(rows)],
        "rank long, rid long, sid long, emd double",
    )
    return out.orderBy("rank")
