"""Direct timings of the public ``melody_join_spark.kernel`` functions, for
the traced melody_d3 run only, on a seeded sample of that workload's own
histogram rows.
"""

from __future__ import annotations

import time

import numpy as np

from workloads import MELODY_THETA

KERNEL_ROWS = 400
EXACT_PAIRS = 2000
BOUND_PAIRS = 20000
REPEATS = 3


def _median_time(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def kernel_metrics(seed: int, W: np.ndarray) -> dict[str, float]:
    """Per-call costs of the exact LP, the cascade and the bounds on a
    seeded subsample of the histogram rows ``W``."""
    from melody_join_spark.kernel import (
        EmdCascade,
        dual_bound_pairs,
        emd_exact_pairs,
        indmin_bound_pairs,
        normalize,
        projection_bound_pairs,
        rubner_bound,
    )
    from melody_join_spark.operators.emd_join_nd import build_config
    from melody_join_spark.plans.tpch_bridge import bin_points_3d

    rng = np.random.default_rng([seed, 4])
    W = normalize(W[np.sort(rng.choice(len(W), min(KERNEL_ROWS, len(W)), replace=False))])
    li, ri = np.triu_indices(len(W), k=1)
    cfg = build_config(bin_points_3d(), seed_weights=W[:8], seed=42, ground="l2")

    def cascade():
        EmdCascade(
            weights=W,
            cost=cfg.cost,
            bin_points=cfg.bin_points,
            proj_positions=cfg.proj_positions,
            duals=cfg.duals,
            reductions=cfg.reductions,
            rubner_ord=cfg.rubner_ord,
            metric_cost=cfg.metric_cost,
        ).run(li, ri, MELODY_THETA, slack=cfg.slack)

    ex = rng.choice(li.size, min(EXACT_PAIRS, li.size), replace=False)
    bd = rng.choice(li.size, min(BOUND_PAIRS, li.size), replace=False)
    bl, br = li[bd], ri[bd]
    cents = W @ cfg.bin_points
    keys = [d.keys(W) for d in cfg.duals]

    def bounds():
        rubner_bound(cents[bl], cents[br], ord=cfg.rubner_ord)
        for pos in cfg.proj_positions:
            projection_bound_pairs(W, pos, bl, br)
        for key, ckey in keys:
            dual_bound_pairs(key, ckey, bl, br)
        indmin_bound_pairs(W, cfg.cost, bl, br)

    return {
        "kernel.exact_lp_us": 1e6
        * _median_time(lambda: emd_exact_pairs(W, cfg.cost, li[ex], ri[ex]))
        / ex.size,
        "kernel.cascade_us_per_candidate": 1e6 * _median_time(cascade) / li.size,
        "kernel.bounds_us_per_pair": 1e6 * _median_time(bounds) / bl.size,
    }
