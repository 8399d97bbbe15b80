"""Pure-numpy EMD kernel library (no Spark imports).

Stage-0 of the build plan (SURVEY.md §7): exact EMD, 1-D fast paths, the
lower/upper-bound family, and the filter cascade.  The Spark operators in
``melody_join_spark.operators`` call into these from Arrow-batched pandas
UDFs.
"""

from .ground import bins_matrix, ground_distance_matrix
from .emd_batch import (
    emd_exact_batch,
    emd_exact_pairs,
    emd_exact_pairs_memo,
)
from .emd import (
    EPSILON,
    emd_1d,
    emd_1d_pairs,
    emd_exact,
    emd_exact_with_duals,
    normalize,
    prefix_cdf,
)
from .bounds import (
    DualPotentials,
    ReductionMap,
    centroids,
    dual_bound_pairs,
    greedy_flow_upper,
    indmin_bound,
    indmin_bound_pairs,
    is_metric_cost,
    projection_bound_pairs,
    projection_positions,
    reduction_bound,
    rubner_bound,
    rubner_bound_to_bbox,
)
from .cascade import CascadeStats, EmdCascade, multistep
from .normal import (
    cdf_approx_error,
    cell_normal_bound,
    fit_normal,
    hough,
    normal_bound_pairs,
    normal_w1,
)

__all__ = [
    "EPSILON",
    "bins_matrix",
    "ground_distance_matrix",
    "emd_1d",
    "emd_1d_pairs",
    "emd_exact",
    "emd_exact_with_duals",
    "emd_exact_batch",
    "emd_exact_pairs",
    "emd_exact_pairs_memo",
    "normalize",
    "prefix_cdf",
    "DualPotentials",
    "ReductionMap",
    "centroids",
    "dual_bound_pairs",
    "greedy_flow_upper",
    "indmin_bound",
    "indmin_bound_pairs",
    "is_metric_cost",
    "projection_bound_pairs",
    "projection_positions",
    "reduction_bound",
    "rubner_bound",
    "rubner_bound_to_bbox",
    "CascadeStats",
    "EmdCascade",
    "multistep",
    "cdf_approx_error",
    "cell_normal_bound",
    "fit_normal",
    "hough",
    "normal_bound_pairs",
    "normal_w1",
]
