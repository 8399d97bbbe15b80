"""Persisted EMD grid index: build once, range-query many times.

The reference joins two ephemeral datasets per job; a production similarity
service instead indexes the corpus ONCE and serves point/batch lookups
against it (the IVF lifecycle in ``similarity.py``, here for exact-EMD
range search).  Spark-first shape:

- **build**: the join's quantile grid (`emd_join_nd._grid_geometry`: one
  aggregation job for the boundaries, the dual-seed rows and, here, a
  full-data digest) assigns each record its centroid cell; the records
  materialize to parquet PARTITIONED BY cell, plus a tiny manifest (bin
  points, quantile boundaries, ground, dual-seed weights).  The join config
  rebuilds DETERMINISTICALLY from the manifest at load (same seeded
  `build_config` path as the join), so no python objects are ever pickled
  to disk.
- **search**: the queries' reachable cells are the join's guest-cell
  windows (`emd_join_nd._reachable_cells` over the stored boundaries, the
  same Rubner contraction), unioned; the scan carries a literal
  ``cell IN (...)`` filter, so a disk-backed index reads ONLY the
  reachable partitions (PartitionFilters — the EMD analog of
  `ivf_search`'s probed lists, plan-asserted in tests/test_plans.py).
  The scanned rows meet the broadcast queries in one mapInPandas running
  `emd_join_nd._range_block`, the threshold block shared with
  `streaming_emd_join_nd` (the lookup contract; `emd_knn`/`emd_join_nd`
  remain the scale paths for huge query sides).

Reference parity note: the reference has no persisted-index surface at all
(SURVEY.md §2.1 — every job re-reads histogram text); this generalizes its
stage 1-2 artifacts (NEPreMapper side files) into a reusable on-disk index.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import persist
from ..kernel import normalize
from ._probe import broadcast_blocks, lookup_rows
from .emd_join_nd import (
    NdJoinConfig,
    _bins,
    _cell_expr,
    _centroid_cols,
    _grid_geometry,
    _range_block,
    _reachable_cells,
    _valid_hist,
    build_config,
)

__all__ = ["EmdIndex", "emd_index_build", "emd_index_load", "emd_index_search"]


class EmdIndex:
    """A built index: cell-partitioned record relation + grid geometry +
    the deterministic config recipe."""

    def __init__(
        self,
        records: DataFrame,
        bnds: np.ndarray,
        cfg: NdJoinConfig,
        grid: int,
    ):
        self.records = records  # (id, w, cent_0..d-1, cell)
        self.bnds = bnds        # (d, grid-1) quantile boundaries
        self.cfg = cfg
        self.grid = grid


def emd_index_build(
    hist: DataFrame,
    bin_points: np.ndarray,
    path: str,
    grid: int = 8,
    id_col: str = "id",
    w_col: str = "w",
    seed: int = 42,
    ground: str = "l2",
) -> EmdIndex:
    """Index ``hist`` under the quantile grid and persist to ``path``:
    ``<path>/v_<build_id>/records`` (parquet PARTITIONED BY cell) +
    ``.../manifest`` (bin points, boundaries, dual-seed weights, ground,
    grid), committed by atomically flipping ``<path>/CURRENT``.  Minkowski
    grounds only (the grid needs centroid geometry, like the join)."""
    if not isinstance(ground, str):
        raise ValueError("emd_index_build requires a Minkowski ground")
    bin_points = _bins(bin_points)
    d = bin_points.shape[1]
    spark = hist.sparkSession

    rec = hist.where(_valid_hist(w_col)).select(
        F.col(id_col).cast("long").alias("id"), F.col(w_col).alias("w")
    )
    rec0 = persist(_centroid_cols(rec, bin_points, "w"))
    # the join's geometry job, with a full-data digest folded in (round-6
    # ADVICE, emd_index.py:149): the boundaries and the 8 seed rows are
    # DERIVED summaries — appending rows to a large or duplicate-heavy table
    # can leave both unchanged, and a manifest keyed only on them would
    # short-circuit the rebuild and silently serve stale records.  The
    # order-independent count + sum of per-row xxhash64(id, w) guarantees
    # the build id moves whenever the data does, while genuinely-identical
    # inputs still short-circuit.  The sum runs in decimal(38,0) so it
    # never wraps/overflows regardless of row count.  The seeds are stored
    # in the manifest so load() rebuilds the IDENTICAL config.
    n, grid, bnds, sw, row = _grid_geometry(
        rec0, d, grid,
        extra=(F.sum(F.xxhash64("id", "w").cast("decimal(38,0)")).alias("digest"),),
    )
    manifest = {
        "grid": grid,
        "d": d,
        "seed": seed,
        "ground": ground,
        "bin_points": bin_points.tolist(),
        "bnds": bnds.tolist(),
        "seed_weights": [] if sw is None else sw.tolist(),
        "data_digest": [n, str(row["digest"])],
    }
    # build id = digest of the manifest (params + data-derived boundaries/
    # seeds): records + manifest land together under a versioned subdir and
    # become visible only when the CURRENT pointer flips — a crash mid-build
    # leaves the previous build fully intact instead of pairing new cell
    # assignments with a stale manifest (round-4 ADVICE, emd_index.py:126).
    # Same inputs -> same id, so rebuilds are idempotent.
    build_id = hashlib.md5(
        json.dumps(manifest, sort_keys=True).encode()
    ).hexdigest()[:12]
    manifest["build_id"] = build_id
    vdir = f"{path}/v_{build_id}"

    # idempotent rebuild: if CURRENT already points at this exact build_id
    # (same params + same data-derived boundaries/seeds) the committed
    # build IS the requested one — rewriting mode('overwrite') into the
    # very directory CURRENT references would un-commit it mid-write and a
    # crash would leave CURRENT dangling (round-5 ADVICE, emd_index.py:146)
    cur = os.path.join(_local_root(path), "CURRENT")
    if os.path.exists(cur):
        with open(cur) as fh:
            if fh.read().strip() == build_id:
                rec0.unpersist()
                return emd_index_load(spark, path)

    # hash-partition on the cell before the partitioned write: each task
    # then holds whole cells and writes one file per non-empty cell, where
    # a round-robin layout wrote one file per (task, cell) and every search
    # opened them all
    out = rec0.withColumn("cell", _cell_expr(bnds, grid)).repartition("cell")
    out.write.mode("overwrite").partitionBy("cell").parquet(f"{vdir}/records")
    rec0.unpersist()
    spark.createDataFrame(
        [(json.dumps(manifest),)], "manifest string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{vdir}/manifest")
    # atomic commit (POSIX rename; on object stores substitute a conditional
    # put of the pointer object)
    root = _local_root(path)
    tmp = os.path.join(root, ".CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(build_id)
    os.replace(tmp, os.path.join(root, "CURRENT"))
    return emd_index_load(spark, path)


def _local_root(path: str) -> str:
    """Driver-local filesystem root for the CURRENT pointer.

    The pointer commit uses POSIX rename, which only exists on a local
    (or file:) path.  A non-file scheme (hdfs://, s3a://...) would
    silently read/write a bogus driver-local path — the load would fall
    back to the legacy flat layout and the build would "commit" a pointer
    Spark never sees — so refuse loudly (round-5 ADVICE, emd_index.py:155).
    Object-store deployments should route the pointer through Hadoop FS /
    a conditional put; the parquet payloads themselves are scheme-agnostic.
    """
    if path.startswith("file:"):
        return path[len("file:"):]
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme:
        raise ValueError(
            f"emd_index: CURRENT-pointer commit requires a local or file: "
            f"index path; got scheme {scheme!r} ({path}). Route the pointer "
            "through Hadoop FS APIs for object stores."
        )
    return path


def emd_index_load(spark: SparkSession, path: str) -> EmdIndex:
    """Load an index persisted by :func:`emd_index_build`: resolve the
    CURRENT pointer to the committed versioned subdir, verify the embedded
    build id, and rebuild the join config deterministically from the
    manifest.  Falls back to the pre-versioned flat layout if no pointer
    exists."""
    cur = os.path.join(_local_root(path), "CURRENT")
    build_id = None
    base = path
    if os.path.exists(cur):
        with open(cur) as fh:
            build_id = fh.read().strip()
        base = f"{path}/v_{build_id}"
    m = json.loads(
        spark.read.parquet(f"{base}/manifest").first()["manifest"]
    )
    if build_id is not None and m.get("build_id") != build_id:
        raise ValueError(
            f"emd_index_load: CURRENT points at build {build_id} but the "
            f"manifest there claims {m.get('build_id')!r} — index is "
            "inconsistent; rebuild."
        )
    bin_points = np.array(m["bin_points"], dtype=np.float64)
    cfg = build_config(
        bin_points,
        seed_weights=np.array(m["seed_weights"], dtype=np.float64),
        seed=int(m["seed"]),
        ground=m["ground"],
    )
    bnds = np.array(m["bnds"], dtype=np.float64)
    return EmdIndex(
        spark.read.parquet(f"{base}/records"), bnds, cfg, int(m["grid"])
    )


def emd_index_search(
    index: EmdIndex,
    queries: DataFrame,
    threshold: float,
    id_col: str = "id",
    w_col: str = "w",
) -> DataFrame:
    """Range search: every (qid, nid, emd) with EMD <= threshold (+slack),
    id-equal matches and invalid queries (``_valid_hist``) excluded.  The
    reachable-cell union of all queries becomes a literal ``cell IN (...)`` scan filter —
    partition pruning on the disk-backed index — then ONE mapInPandas runs
    the shared threshold block (``_range_block``) against the broadcast
    query block.  Query sets over
    ``_probe.COLLECT_ROWS`` rows are rejected (use ``emd_join_nd(other=...)`` /
    ``emd_knn(distributed=True)`` for table-scale query sides)."""
    cfg, bnds = index.cfg, index.bnds
    q = queries.where(_valid_hist(w_col)).select(
        F.col(id_col).alias("id"), F.col(w_col).alias("w")
    )
    qpdf = lookup_rows(
        q, False, "emd_index_search",
        "Use emd_join_nd(other=...) or emd_knn(distributed=True) for "
        "table-scale query sides.",
    )
    qids = qpdf["id"].to_numpy().astype(np.int64)
    # the reshape keeps an empty query set two-dimensional
    W0 = np.array(qpdf["w"].tolist(), dtype=np.float64)
    QW = normalize(W0.reshape(-1, cfg.bin_points.shape[0]))
    qc = QW @ cfg.bin_points

    reach = float(threshold) + cfg.slack
    probe_cells = np.unique(_reachable_cells(qc, bnds, reach)[1]).tolist()

    pruned = index.records.where(F.col("cell").isin(probe_cells))
    return broadcast_blocks(
        pruned.select("id", "w"),
        (qids, QW),
        _range_block(cfg, float(threshold)),
        "qid long, nid long, emd double",
    ).where(F.col("qid") != F.col("nid"))
