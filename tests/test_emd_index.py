"""Persisted EMD grid index: build/load/search lifecycle (the exact-EMD
analog of the IVF index; reference has no persisted-index surface)."""

import contextlib
import io

import numpy as np
import pytest
from pyspark.sql import functions as F

from melody_join_spark.operators import _probe
from melody_join_spark.operators.emd_index import (
    emd_index_build,
    emd_index_load,
    emd_index_search,
)
from melody_join_spark.operators.emd_join_nd import emd_join_nd
from melody_join_spark.plans.tpch_bridge import bin_points_2d, lineitem_histograms_2d

SF = "/root/testdata/sf0.001"


def test_index_build_search_matches_join(spark, tmp_path, monkeypatch):
    hist = lineitem_histograms_2d(spark, SF).select("id", "w")
    path = str(tmp_path / "emd_index")
    idx = emd_index_build(hist, bin_points_2d(), path, grid=6)

    theta = 0.8
    queries = hist.where(F.col("id") % 7 == 0)
    got = {
        (r.qid, r.nid): r.emd
        for r in emd_index_search(idx, queries, theta).collect()
    }
    # oracle: the bruteforce join restricted to pairs touching a query id
    bf = emd_join_nd(hist, bin_points_2d(), theta, strategy="bruteforce")
    qids = {r.id for r in queries.collect()}
    want = {}
    for r in bf.collect():
        if r.rid in qids:
            want[(r.rid, r.sid)] = r.emd
        if r.sid in qids:
            want[(r.sid, r.rid)] = r.emd
    assert set(got) == set(want) and len(want) > 0
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)

    # reload from disk -> identical result (config rebuilds from manifest)
    idx2 = emd_index_load(spark, path)
    got2 = {
        (r.qid, r.nid): r.emd
        for r in emd_index_search(idx2, queries, theta).collect()
    }
    assert got2 == got

    # partition pruning: the cell IN (...) literal reaches the scan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        emd_index_search(idx2, queries.limit(3), theta).explain("formatted")
    plan = buf.getvalue()
    scan_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell" in scan_line

    # oversized query sets are rejected, not collected
    monkeypatch.setattr(_probe, "COLLECT_ROWS", 4)
    with pytest.raises(ValueError, match="exceeds 4 rows"):
        emd_index_search(idx2, hist, theta)


def test_index_versioned_commit_and_staleness_detection(spark, tmp_path):
    """Build commits records+manifest under a versioned subdir and flips
    <path>/CURRENT atomically; a pointer/manifest mismatch is refused at
    load (round-4 ADVICE, emd_index.py:126)."""
    import os

    hist = lineitem_histograms_2d(spark, SF).select("id", "w")
    path = str(tmp_path / "emd_index")
    emd_index_build(hist, bin_points_2d(), path, grid=5)
    with open(os.path.join(path, "CURRENT")) as fh:
        build_id = fh.read().strip()
    assert os.path.isdir(os.path.join(path, f"v_{build_id}", "records"))
    # idempotent rebuild from the same inputs: same build id, same pointer
    emd_index_build(hist, bin_points_2d(), path, grid=5)
    with open(os.path.join(path, "CURRENT")) as fh:
        assert fh.read().strip() == build_id
    # a second build with different params commits a NEW version and
    # leaves the old one intact on disk (crash-safe history)
    emd_index_build(hist, bin_points_2d(), path, grid=6)
    with open(os.path.join(path, "CURRENT")) as fh:
        build_id2 = fh.read().strip()
    assert build_id2 != build_id
    assert os.path.isdir(os.path.join(path, f"v_{build_id}", "records"))
    idx = emd_index_load(spark, path)
    assert idx.grid == 6
    # corrupt the pointer -> loud inconsistency error, not silent serving
    with open(os.path.join(path, "CURRENT"), "w") as fh:
        fh.write(build_id)
    os.rename(
        os.path.join(path, f"v_{build_id}"),
        os.path.join(path, f"v_{build_id}.bak"),
    )
    os.rename(
        os.path.join(path, f"v_{build_id2}"),
        os.path.join(path, f"v_{build_id}"),
    )
    with pytest.raises(ValueError, match="inconsistent"):
        emd_index_load(spark, path)


def test_index_idempotent_rebuild_and_scheme_guard(spark, tmp_path):
    """Round-6 ADVICE fixes: (a) rebuilding with identical inputs must NOT
    rewrite the committed v_<id> directory CURRENT points at (a crash
    mid-rewrite would leave CURRENT dangling) — it short-circuits to
    load(); (b) non-file path schemes are refused loudly instead of the
    pointer being silently read/written on the driver's local disk."""
    import os

    hist = lineitem_histograms_2d(spark, SF).select("id", "w")
    path = str(tmp_path / "emd_idem")
    idx = emd_index_build(hist, bin_points_2d(), path, grid=5)
    with open(os.path.join(path, "CURRENT")) as fh:
        build_id = fh.read().strip()
    vdir = os.path.join(path, f"v_{build_id}", "records")
    mtimes = {
        f: os.stat(os.path.join(vdir, f)).st_mtime_ns
        for f in os.listdir(vdir)
        if not f.startswith(".")
    }
    idx2 = emd_index_build(hist, bin_points_2d(), path, grid=5)
    mtimes2 = {
        f: os.stat(os.path.join(vdir, f)).st_mtime_ns
        for f in os.listdir(vdir)
        if not f.startswith(".")
    }
    assert mtimes2 == mtimes, "idempotent rebuild rewrote the live build"
    # and the short-circuited index is the same index
    assert idx2.grid == idx.grid and np.array_equal(idx2.bnds, idx.bnds)

    # a changed input (different grid) IS a new build: new version dir
    emd_index_build(hist, bin_points_2d(), path, grid=6)
    with open(os.path.join(path, "CURRENT")) as fh:
        assert fh.read().strip() != build_id

    # scheme guard: build and load both refuse non-file schemes loudly
    with pytest.raises(ValueError, match="scheme"):
        emd_index_build(hist, bin_points_2d(), "s3a://bucket/idx", grid=5)
    with pytest.raises(ValueError, match="scheme"):
        emd_index_load(spark, "hdfs://nn/idx")
    # file: prefix stays accepted (local URI form)
    idx3 = emd_index_load(spark, "file:" + path)
    assert idx3.grid == 6

def test_index_rebuild_detects_appended_data(spark, tmp_path):
    """Round-6 ADVICE (emd_index.py:149): the rebuild short-circuit must
    key on the DATA, not only on derived summaries.  Appending a row whose
    weights duplicate an existing row leaves the hash-ordered seed sample
    unchanged (identical sort keys, identical w) and can leave the approx
    quantile boundaries unchanged — the full-data digest (count + order-
    independent xxhash sum) must still force a NEW committed build that
    contains the appended row."""
    import json
    import os

    hist = lineitem_histograms_2d(spark, SF).select("id", "w")
    path = str(tmp_path / "emd_digest")
    emd_index_build(hist, bin_points_2d(), path, grid=5)
    with open(os.path.join(path, "CURRENT")) as fh:
        build1 = fh.read().strip()
    m1 = json.loads(
        spark.read.parquet(f"{path}/v_{build1}/manifest").first()["manifest"]
    )
    assert "data_digest" in m1 and m1["data_digest"][0] == hist.count()

    dup = hist.limit(1).select(
        (F.col("id") + 1_000_000_000).alias("id"), "w"
    )
    emd_index_build(
        hist.unionByName(dup), bin_points_2d(), path, grid=5
    )
    with open(os.path.join(path, "CURRENT")) as fh:
        build2 = fh.read().strip()
    m2 = json.loads(
        spark.read.parquet(f"{path}/v_{build2}/manifest").first()["manifest"]
    )
    assert build2 != build1  # stale build NOT served
    assert m2["data_digest"] != m1["data_digest"]
    idx = emd_index_load(spark, path)
    assert idx.records.where(F.col("id") >= 1_000_000_000).count() == 1


def test_index_search_drops_zero_mass_queries(spark, tmp_path):
    """A zero-mass query matches nothing.  Its centroid (the origin, for
    bins symmetric about it) lies inside every indexed row's reach here, and
    the exact stage would score it 0.0 against each of them."""
    bins = np.array([[i, j] for i in (-1, 0, 1) for j in (-1, 0, 1)], dtype=np.float64)
    rng = np.random.default_rng(5)
    hist = spark.createDataFrame(
        [(i + 1, [float(x) for x in rng.random(9) + 0.1]) for i in range(8)],
        "id long, w array<double>",
    )
    idx = emd_index_build(hist, bins, str(tmp_path / "zero_idx"), grid=2)
    queries = spark.createDataFrame(
        [(100, [0.0] * 9), (101, [1.0] * 9)], "id long, w array<double>"
    )
    got = emd_index_search(idx, queries, 5.0).collect()
    assert {r.qid for r in got} == {101}
    assert sorted(r.nid for r in got) == list(range(1, 9))
