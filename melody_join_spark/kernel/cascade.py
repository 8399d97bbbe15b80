"""The EMD filter cascade — ordered cheap-to-expensive pruning.

Parity: EmdFilter.filter (utils/EmdFilter.java:49-82) and the MR reducer's
inline cascade (mr/normal/NEProcessReducer.java:195-266): projection bounds
first, then Rubner, then dual bounds, then reduction bounds, then the
independent-minimization bound, and only then the exact EMD.  Ordering cheap
bounds first is the single biggest performance lever of the engine
(SURVEY.md §4).

The cascade is evaluated on *blocks of candidate pairs* (numpy index arrays)
so each stage prunes vectorized before the next, strictly more expensive,
stage runs on the survivors.

A cascade is also the one exact-EMD and lower-bound oracle of every search
that is not a fixed-radius filter: :meth:`EmdCascade.exact_pairs` is its
exact stage (the line closed form, else the memoised batched LP) and
:meth:`EmdCascade.lower_bounds` the max of its Rubner and projection bounds.
:func:`multistep` runs the multi-step k-nearest rule over them (Seidl and
Kriegel; the verification step of MELODY-Join): each owner (a query, a
record choosing its pivot, the top-k seed sample) visits its candidates in
ascending lower-bound order, solves them exactly, and stops at the first
candidate whose bound is above its running kth exact value by more than
``TIE_SLACK``.  Every candidate that could enter the top k has a bound at
most its value, hence at most the kth, so it is solved.  A candidate whose
exact value ties the kth is solved too, so ties at the kth value are
complete: the slack covers its bound, which can round a few ulps above the
exact value it bounds (the Rubner and projection bounds were measured up to
6.1e-16 above it).  Solving one candidate at a time, no search with the
same bounds solves fewer.  Rounds batch the rule: each round solves every
active owner's next slice of candidates (the ones whose bound is at most
the kth plus the slack at the round's start) in one stacked exact call,
so the interpreter cost is per round, not per owner; a slice wider than
one trades a few extra solves for fewer calls.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field

import numpy as np

from .bounds import (
    DualPotentials,
    ReductionMap,
    dual_bound_pairs,
    indmin_bound_pairs,
    is_metric_cost,
    projection_bound_pairs,
    rubner_bound,
)
from .emd import emd_1d_pairs
from .emd_batch import emd_exact_pairs_memo, support_table
from .normal import cdf_approx_error, fit_normal, normal_bound_pairs

__all__ = ["EmdCascade", "CascadeStats", "multistep"]

# how far a lower bound may sit above the running kth value of a multi-step
# search and still be solved: far above floating-point rounding, far below
# any EMD gap that matters
TIE_SLACK = 1e-9


@dataclass
class CascadeStats:
    """Pruning-effectiveness counters; parity with TimerUtil's eliminated /
    dualElimination / qnePairCounter counters (utils/TimerUtil.java:12-26)."""

    candidates: int = 0
    pruned_projection: int = 0
    pruned_rubner: int = 0
    pruned_normal: int = 0
    pruned_dual: int = 0
    pruned_reduction: int = 0
    pruned_indmin: int = 0
    exact_evaluated: int = 0

    def merge(self, other: "CascadeStats") -> None:
        for f in self.__dataclass_fields__:
            setattr(self, f, getattr(self, f) + getattr(other, f))


@dataclass
class EmdCascade:
    """Precomputed per-dataset state for the filter cascade.

    ``weights`` (R, B) normalized rows; ``bin_points`` (B, d); ``cost``
    (B, B) ground matrix; ``proj_positions`` list of (B,) projected positions
    (one per projection vector); ``duals`` list of DualPotentials;
    ``reductions`` list of ReductionMap.
    """

    weights: np.ndarray
    cost: np.ndarray
    bin_points: np.ndarray
    proj_positions: list = field(default_factory=list)
    duals: list = field(default_factory=list)
    reductions: list = field(default_factory=list)
    cents: np.ndarray | None = None
    dual_keys: list = field(default_factory=list)
    reduced_weights: list = field(default_factory=list)
    use_normal: bool = True
    normal_stats: list = field(default_factory=list)
    # Minkowski exponent of the ground distance (1, 2 or 3), or None for an
    # ARBITRARY cost matrix (DistanceType parity, DistanceUtil.java:440-474).
    # None disables the centroid/Rubner stage and the d=1 CDF closed form
    # (both assume |x-y|-shaped geometry).  The netted IndMin bound
    # (surplus->deficit direct arcs after common-mass cancellation) is a
    # valid lower bound only for METRIC costs — for a general matrix the
    # full LP can route common mass more cheaply than any netted plan, so
    # the "bound" could exceed true EMD and falsely dismiss pairs (the
    # reference's getIndMinEmd, DistanceUtil.java:148-182, relaxes the
    # un-netted LP and stays sound; our netted form trades that generality
    # for vectorization) — so IndMin runs for Minkowski grounds and for
    # arbitrary matrices that PASS the one-time is_metric_cost check
    # (__post_init__), and stays off otherwise.  The dual / reduction /
    # exact stages are cost-matrix-generic.
    rubner_ord: float | None = 2
    # Precomputed metric verdict for the cost matrix (driver-side, see
    # is_metric_cost / NdJoinConfig.is_metric).  None = compute locally —
    # a fallback for direct construction only; operator code MUST pass the
    # cached verdict so executors don't re-run the O(B^3) check per
    # cascade construction (ADVICE round 9).
    metric_cost: bool | None = None

    def __post_init__(self):
        self.weights = np.asarray(self.weights, dtype=np.float64)
        if self.cents is None:
            self.cents = self.weights @ self.bin_points
        self.dual_keys = [d.keys(self.weights) for d in self.duals]
        self.reduced_weights = [r.reduce_weights(self.weights) for r in self.reductions]
        # per-projection normal fits + approximation errors (P4/P7): feed the
        # O(1)-per-pair normal bound stage (F4, HistUtil.getNormalEmd).
        # LAZY (round 11): the err fit integrates |F - Phi| per record —
        # ~3B math.erf evaluations per row per projection through a
        # python-loop vectorize (numpy has no erf) — which measured 22.5 s
        # of the 92 s sf0.1 3-d join-stage CPU, paid in EVERY per-group
        # cascade construction, while the stage pruned ZERO pairs there
        # (the Rubner screen sees the same centroid geometry first).  The
        # fits now happen inside _block(), only when a candidate block is big
        # enough to repay them (see the stage-2 gate); None = not fitted.
        self.normal_stats = None if self.use_normal else []
        self._normal_on = bool(self.use_normal and self.proj_positions)
        self._indmin_on = True
        self._reduction_on = True
        # netted-IndMin soundness gate: Minkowski grounds are metrics by
        # construction; an arbitrary matrix earns the stage by passing the
        # one-time O(B^3) metric check (symmetric, zero diagonal, triangle)
        # — precomputed on the driver when metric_cost is provided
        if self.metric_cost is not None:
            self._metric_cost = bool(self.metric_cost)
        else:
            self._metric_cost = self.rubner_ord is not None or is_metric_cost(self.cost)
        # row-group ids: identical (normalized) histograms share a group, so
        # the exact stage can memoize one LP per DISTINCT pair — dup-heavy
        # data (the LLM-dedup regime; 33% dup rate measured on the sf0.1 d=2
        # bridge tables) then pays ~half the LPs for the same results
        _, self.row_group = np.unique(self.weights, axis=0, return_inverse=True)
        self._n_groups = int(self.row_group.max()) + 1 if self.row_group.size else 0
        self._pair_memo: dict = {}
        # support table for the BATCHED exact stage (one stacked simplex per
        # support-shape class instead of one Python LP per pair)
        self._sup, self._cnt = support_table(self.weights)
        # lazily-built per-ReductionMap batch state (round 12): the
        # reduction stage solves an exact LP per surviving pair on the
        # REDUCED (<=8-bin) histograms — profiled at 15.2k scalar python
        # LPs = 3.4 s of the 6.7 s sf0.1 2-d join-stage python CPU.  The
        # same stacked-simplex + row-group memo machinery as the exact
        # stage applies: reduced rows collapse into few distinct groups
        # and few support classes, so the whole block solves in a handful
        # of batch calls.  (group ids, n_groups, support, counts, memo)
        self._red_state: list = [None] * len(self.reductions)
        # d=1 closed-form fast path (DistanceUtil.get1dEmd with real bins,
        # utils/DistanceUtil.java:57-79): exact EMD on a line is the area
        # between step CDFs — vectorized, no LP
        self._line = None
        bp = np.atleast_2d(self.bin_points)
        if bp.shape[1] == 1 and self.rubner_ord is not None:
            pos = bp[:, 0]
            order = np.argsort(pos, kind="stable")
            cdf = np.cumsum(self.weights[:, order], axis=1)
            self._line = (pos[order], cdf)

    def _fit_normal_stat(self, i: int):
        """Fit projection ``i``'s (mu, sigma, err) columns — the normal
        stage's per-record precompute, deferred out of __post_init__."""
        pos = self.proj_positions[i]
        order = np.argsort(pos, kind="stable")
        ps = np.asarray(pos)[order]
        Ws = self.weights[:, order]
        mu, sigma = fit_normal(Ws, ps)
        err = cdf_approx_error(Ws, ps, mu, sigma)
        return (mu, sigma, err)

    # minimum candidate-pairs-per-row before the normal stage's fit can
    # repay itself: the fit costs ~3B python-level erf calls per ROW
    # (~25 us/row/projection at B=27) while a normal-pruned pair saves
    # ~1-2 us of downstream screens — blocks smaller than this skip
    # straight to the (strictly tighter) projection bound, which prunes
    # every pair the normal bound would have (identical output either way:
    # skipping a sound lower-bound stage only shifts WHERE a pair is
    # pruned, never whether it survives to the exact stage)
    NORMAL_GATE = 16

    def _indmin_pairs(self, li: int, ri: int) -> float:
        """IndMin bound for one pair via sparse gathers: restrict the cost
        matrix to the pair's surplus x deficit support (histograms are
        sparse, so this is a ~|support|^2 gather, not B^2)."""
        D = self.weights[li] - self.weights[ri]
        sur = np.flatnonzero(D > 0.0)
        defi = np.flatnonzero(D < 0.0)
        if sur.size == 0 or defi.size == 0:
            return 0.0
        sub = self.cost[np.ix_(sur, defi)]
        fwd = D[sur] @ sub.min(axis=1)
        bwd = (-D[defi]) @ sub.min(axis=0)
        return max(float(fwd), float(bwd))

    CHUNK = 1 << 18  # 256k pairs per block: uniform, reusable temporaries

    def exact_pairs(self, li: np.ndarray, ri: np.ndarray) -> np.ndarray:
        """Exact EMD of the pairs (li[k], ri[k]): the vectorized closed form
        on a line, the batched LP otherwise."""
        if self._line is not None:
            pos, cdf = self._line
            return emd_1d_pairs(cdf, li, ri, positions=pos)
        # batched transportation simplex: identical rows (same row group)
        # short-circuit to 0, every distinct (group, group) pair solves
        # exactly once (memo), and the distinct pairs solve as STACKED
        # tableaus per support-shape class — O(pivots) interpreter cost,
        # not O(pairs * pivots)
        return emd_exact_pairs_memo(
            self.weights,
            self.cost,
            li,
            ri,
            self.row_group,
            self._pair_memo,
            sup=self._sup,
            cnt=self._cnt,
            n_groups=self._n_groups,
        )

    def lower_bounds(self, li: np.ndarray, ri: np.ndarray) -> np.ndarray:
        """Per pair, the max of the Rubner and the projection bounds — the
        static geometric bounds :func:`multistep` orders candidates by.
        Zero for an arbitrary cost matrix, which has neither.  Runs in
        ``CHUNK``-pair blocks, as :meth:`verify` does."""
        li = np.asarray(li, dtype=np.int64)
        ri = np.asarray(ri, dtype=np.int64)
        lb = np.zeros(li.size)
        for s in range(0, li.size, self.CHUNK):
            a, b = li[s : s + self.CHUNK], ri[s : s + self.CHUNK]
            out = lb[s : s + self.CHUNK]
            if self.rubner_ord is not None:
                out[:] = rubner_bound(self.cents[a], self.cents[b], ord=self.rubner_ord)
            for pos in self.proj_positions:
                np.maximum(out, projection_bound_pairs(self.weights, pos, a, b), out=out)
        return lb

    def verify(
        self,
        groups: Iterable[tuple[np.ndarray, np.ndarray]],
        threshold: float,
        stats: CascadeStats | None = None,
        slack: float = 1e-4,
    ) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray]]:
        """The one verifier: yields (left_idx, right_idx, emd) of the pairs
        of the candidate groups ``(li, ri)`` with exact EMD <= threshold +
        slack (slack parity: NEProcessReducer.java:261), block by block.

        The stages run on blocks of exactly ``CHUNK`` pairs (the last one
        shorter) cut from the groups' concatenation, which is never held
        whole: the blocks do not depend on the grouping, and the stages'
        O(chunk * B) temporaries keep one shape the allocator reuses (one
        huge allocation measured ~40x the same bytes through a warm pool
        where first touch is slow, without transparent huge pages)."""
        st = stats if stats is not None else CascadeStats()
        thr = threshold + slack
        held, n = [], 0
        for li, ri in groups:
            held.append((np.asarray(li, dtype=np.int64), np.asarray(ri, dtype=np.int64)))
            n += held[-1][0].size
            if n >= self.CHUNK:
                li, ri = (np.concatenate(c) for c in zip(*held))
                cut = n - n % self.CHUNK
                for s in range(0, cut, self.CHUNK):
                    yield self._block(li[s : s + self.CHUNK], ri[s : s + self.CHUNK], thr, st)
                held, n = [(li[cut:], ri[cut:])], n - cut
        if n:
            yield self._block(*(np.concatenate(c) for c in zip(*held)), thr, st)

    def run(
        self,
        left_idx: np.ndarray,
        right_idx: np.ndarray,
        threshold: float,
        stats: CascadeStats | None = None,
        slack: float = 1e-4,
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """:meth:`verify` of one candidate list, survivors concatenated."""
        outs = [(np.empty(0, dtype=np.int64),) * 2 + (np.empty(0),)]
        outs += self.verify([(left_idx, right_idx)], threshold, stats=stats, slack=slack)
        return tuple(np.concatenate(col) for col in zip(*outs))

    def _block(
        self, li: np.ndarray, ri: np.ndarray, thr: float, st: CascadeStats
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """The stages, cheap to expensive, on one block of at most ``CHUNK``
        pairs; survivors have exact EMD <= ``thr``."""
        st.candidates += li.size

        # 1. Rubner centroid bound first: with precomputed centroids it is
        # O(d) per pair vs the projection bound's O(B) — cheapest screen.
        # (The reference's EmdFilter runs projections first because it has no
        # precomputed centroid column; the cascade ORDER cheap->expensive is
        # the invariant being preserved, EmdFilter.java:49-82.)
        if li.size and self.rubner_ord is not None:
            lb = rubner_bound(self.cents[li], self.cents[ri], ord=self.rubner_ord)
            keep = lb <= thr
            st.pruned_rubner += int((~keep).sum())
            li, ri = li[keep], ri[keep]

        # 2. normal-approximation bounds (O(1) per pair on per-record
        # (mu, sigma, err) columns — HistUtil.getNormalEmd semantics): a
        # cheaper approximation of each projection bound, run first.
        # GATED + ADAPTIVE (round 11): the fits are the cascade's priciest
        # precompute (see __post_init__) and only repay themselves when the
        # block brings far more pairs than the group has rows — small
        # blocks skip to the projection stage unfitted.  Big blocks fit
        # ONE projection and probe; the stage keeps running (and fits the
        # remaining projections) only when the probe shows it pruning —
        # the indmin/reduction self-disable idiom.
        if li.size and self._normal_on and (
            self.normal_stats is not None
            or li.size >= self.NORMAL_GATE * self.weights.shape[0]
        ):
            if self.normal_stats is None:
                self.normal_stats = [self._fit_normal_stat(0)]
            mu, sigma, err = self.normal_stats[0]
            probe_n = min(8192, li.size)
            lb = normal_bound_pairs(mu, sigma, err, li[:probe_n], ri[:probe_n])
            keep_p = lb <= thr
            probe_pruned = int((~keep_p).sum())
            if probe_pruned < max(1, probe_n // 200) and li.size > probe_n:
                self._normal_on = False  # not earning its keep
                keep = np.ones(li.size, dtype=bool)
                keep[:probe_n] = keep_p
            else:
                lb_rest = normal_bound_pairs(
                    mu, sigma, err, li[probe_n:], ri[probe_n:]
                )
                keep = np.concatenate([keep_p, lb_rest <= thr])
            st.pruned_normal += int((~keep).sum())
            li, ri = li[keep], ri[keep]
            if self._normal_on and li.size:
                while len(self.normal_stats) < len(self.proj_positions):
                    self.normal_stats.append(
                        self._fit_normal_stat(len(self.normal_stats))
                    )
                for mu, sigma, err in self.normal_stats[1:]:
                    if li.size == 0:
                        break
                    lb = normal_bound_pairs(mu, sigma, err, li, ri)
                    keep = lb <= thr
                    st.pruned_normal += int((~keep).sum())
                    li, ri = li[keep], ri[keep]

        # 3. projection bounds (cumsum dot, O(B) per pair)
        for pos in self.proj_positions:
            if li.size == 0:
                break
            lb = projection_bound_pairs(self.weights, pos, li, ri)
            keep = lb <= thr
            st.pruned_projection += int((~keep).sum())
            li, ri = li[keep], ri[keep]

        # 3. dual-feasibility bounds (dot products on precomputed keys)
        for key, ckey in self.dual_keys:
            if li.size == 0:
                break
            lb = dual_bound_pairs(key, ckey, li, ri)
            keep = lb <= thr
            st.pruned_dual += int((~keep).sum())
            li, ri = li[keep], ri[keep]

        # 4. independent-minimization bound (F8, DistanceUtil.getIndMinEmd:
        # 148-182 / NEProcessReducer.java:195-266 cascade order): each
        # pair's net surplus must travel at least to its cheapest deficit
        # bin.  Runs BEFORE the reduction stage (cheap->expensive invariant:
        # O(B^2) masked mins vs an LP per pair).  ADAPTIVE: the stage
        # self-disables when a probe block prunes <0.5% of survivors — on
        # workloads where Rubner/normal/projection/dual already caught
        # everything indmin can see, paying O(B^2) per pair for nothing is
        # the wrong trade.  Skipped on the d=1 fast path — there the final
        # stage is already a vectorized closed form.  The netted form needs
        # an optimal plan that ships no common mass, which any METRIC
        # ground guarantees — so it runs for Minkowski grounds AND for
        # arbitrary matrices that pass the one-time is_metric_cost check
        # (the reference's getIndMinEmd relaxes the un-netted LP instead
        # and stays general; the netted form trades that for vectorization,
        # see rubner_ord docstring).
        if (
            self._line is None
            and li.size
            and self._indmin_on
            and self._metric_cost
        ):
            if self.cost.shape[0] <= 64:
                # dense vectorized path: one masked-min pass per block
                PROBE_V = 8192
                probe_n = min(PROBE_V, li.size)
                lb = indmin_bound_pairs(self.weights, self.cost, li[:probe_n], ri[:probe_n])
                keep_p = lb <= thr
                probe_pruned = int((~keep_p).sum())
                if probe_pruned < max(1, probe_n // 200) and li.size > probe_n:
                    self._indmin_on = False  # not earning its keep
                    keep = np.ones(li.size, dtype=bool)
                    keep[:probe_n] = keep_p
                else:
                    lb_rest = indmin_bound_pairs(
                        self.weights, self.cost, li[probe_n:], ri[probe_n:]
                    )
                    keep = np.concatenate([keep_p, lb_rest <= thr])
            else:
                # wide histograms: sparse per-pair gathers beat a dense
                # (K, B, B) temporary
                PROBE = 1024
                keep = np.ones(li.size, dtype=bool)
                probe_n = min(PROBE, li.size)
                for k in range(probe_n):
                    if self._indmin_pairs(li[k], ri[k]) > thr:
                        keep[k] = False
                probe_pruned = int((~keep[:probe_n]).sum())
                if probe_pruned < max(1, probe_n // 200) and li.size > probe_n:
                    self._indmin_on = False  # not earning its keep
                else:
                    for k in range(probe_n, li.size):
                        if self._indmin_pairs(li[k], ri[k]) > thr:
                            keep[k] = False
            st.pruned_indmin += int((~keep).sum())
            li, ri = li[keep], ri[keep]

        # 5. reduction bounds (small exact LP per surviving pair, BATCHED —
        # round 12: one stacked simplex per reduced support class with a
        # reduced-row-group memo replaces the scalar python LP loop, same
        # values to solver tolerance, see __post_init__).  Skipped on the
        # d=1 fast path: there the projection bound IS the exact EMD and
        # the final stage is a vectorized closed form, so an LP-grade
        # bound can only lose (measured: 100k wasted LPs = 40 s at sf0.1).
        # ADAPTIVE like the indmin stage: after the earlier screens, the
        # reduction bound often catches almost nothing (measured 5 prunes
        # out of 15k LP-priced probes on the sf0.1 d=2 workload) — probe a
        # block and self-disable when it isn't earning its keep.
        if self._line is None and self._reduction_on:
            PROBE_R = 1024
            for j, (rmap, rw) in enumerate(
                zip(self.reductions, self.reduced_weights)
            ):
                if li.size == 0:
                    break
                if self._red_state[j] is None:
                    _, rgrp = np.unique(rw, axis=0, return_inverse=True)
                    rsup, rcnt = support_table(rw)
                    ng = int(rgrp.max()) + 1 if rgrp.size else 0
                    self._red_state[j] = (rgrp, ng, rsup, rcnt, {})
                rgrp, ng, rsup, rcnt, rmemo = self._red_state[j]
                probe_n = min(PROBE_R, li.size)
                lb_p = emd_exact_pairs_memo(
                    rw, rmap.reduced_cost, li[:probe_n], ri[:probe_n],
                    rgrp, rmemo, sup=rsup, cnt=rcnt, n_groups=ng,
                )
                keep_p = lb_p <= thr
                probe_pruned = int((~keep_p).sum())
                if probe_pruned < max(1, probe_n // 200) and li.size > probe_n:
                    self._reduction_on = False  # not earning its keep
                    keep = np.ones(li.size, dtype=bool)
                    keep[:probe_n] = keep_p
                else:
                    lb_r = emd_exact_pairs_memo(
                        rw, rmap.reduced_cost, li[probe_n:], ri[probe_n:],
                        rgrp, rmemo, sup=rsup, cnt=rcnt, n_groups=ng,
                    )
                    keep = np.concatenate([keep_p, lb_r <= thr])
                st.pruned_reduction += int((~keep).sum())
                li, ri = li[keep], ri[keep]
                if not self._reduction_on:
                    break

        # 6. exact EMD on survivors
        emds = self.exact_pairs(li, ri)
        st.exact_evaluated += li.size
        keep = emds <= thr
        return li[keep], ri[keep], emds[keep]


def multistep(
    LB: np.ndarray,
    k: int,
    exact: Callable[[np.ndarray, np.ndarray], np.ndarray],
    chunk: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The multi-step k-nearest search (module docstring) for every owner
    (row) of the (owners, candidates) lower-bound matrix ``LB`` at once.

    ``+inf`` (or NaN) in ``LB`` excludes an entry.  ``exact(owners,
    candidates)`` returns the exact values of those entries.  Each round
    solves, in one ``exact`` call, every active owner's next ``chunk``
    entries in bound order whose bound is at most the owner's running kth
    value plus ``TIE_SLACK`` (``+inf`` until k are solved; a NaN value never
    tightens it).
    Returns the solved (owner, candidate, value) triples, owner-major; the
    k smallest values of an owner are its exact k nearest."""
    LB = np.asarray(LB, dtype=np.float64)
    n_own, n_cand = LB.shape
    order = np.argsort(LB, axis=1, kind="stable")
    LBs = np.take_along_axis(LB, order, axis=1)
    end = np.isfinite(LBs).sum(axis=1)  # excluded entries sort last
    ptr = np.zeros(n_own, dtype=np.int64)
    best = np.full((n_own, k), np.inf)  # each owner's k smallest so far
    kth = np.full(n_own, np.inf)
    steps = np.arange(chunk)
    owners, cands, values = [], [], []
    live = np.flatnonzero(end > 0)
    while live.size:
        cols = ptr[live, None] + steps
        take = (cols < end[live, None]) & (
            LBs[live[:, None], np.minimum(cols, n_cand - 1)] <= kth[live, None] + TIE_SLACK
        )
        cnt = take.sum(axis=1)  # a prefix of the slice: LBs rows ascend
        live, cnt = live[cnt > 0], cnt[cnt > 0]
        if not live.size:
            break
        own = np.repeat(live, cnt)
        offs = np.arange(own.size) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        cand = order[own, ptr[own] + offs]
        vals = np.asarray(exact(own, cand), dtype=np.float64)
        owners.append(own)
        cands.append(cand)
        values.append(vals)
        ptr[live] += cnt
        new = np.full((live.size, chunk), np.inf)
        new[np.repeat(np.arange(live.size), cnt), offs] = vals
        merged = np.concatenate([best[live], new], axis=1)
        merged.partition(k - 1, axis=1)
        best[live] = merged[:, :k]
        kth[live] = best[live].max(axis=1)
        live = live[ptr[live] < end[live]]
    if not owners:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty, np.empty(0)
    return np.concatenate(owners), np.concatenate(cands), np.concatenate(values)
