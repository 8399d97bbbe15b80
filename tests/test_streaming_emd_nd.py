"""Stream-static d=2 EMD join: streaming micro-batches through the filter
cascade must equal the kernel brute force over the same stream x ref pairs."""

from __future__ import annotations

import numpy as np
import pytest

from melody_join_spark.kernel import normalize
from melody_join_spark.kernel.emd import emd_exact
from melody_join_spark.plans.tpch_bridge import (
    bin_points_2d,
    lineitem_histograms_2d,
)
from melody_join_spark.streaming import streaming_emd_join_nd

SF_DIR = "/root/testdata/sf0.001"
THETA = 1.0  # ~p15 of the stream x ref EMD distribution: selective, nonempty


def test_streaming_emd_join_nd_matches_kernel(spark, tmp_path):
    hist = lineitem_histograms_2d(spark, SF_DIR).select("id", "w").orderBy("id")
    rows = hist.collect()
    assert len(rows) >= 10, "need enough histograms for a meaningful split"
    ref_rows, stream_rows = rows[:8], rows[8:40]

    ref = spark.createDataFrame(ref_rows, hist.schema)
    src = str(tmp_path / "hist_stream")
    spark.createDataFrame(stream_rows, hist.schema).repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema("id long, w array<double>")
        .option("maxFilesPerTrigger", 1)  # several micro-batches, not one
        .parquet(src)
    )
    q = (
        streaming_emd_join_nd(stream, ref, bin_points_2d(), THETA)
        .writeStream.format("memory")
        .queryName("emd_nd_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    got = {
        (r.rid, r.sid): r.emd
        for r in spark.sql("SELECT * FROM emd_nd_stream").collect()
    }

    pts = bin_points_2d()
    C = np.linalg.norm(pts[:, None, :] - pts[None, :, :], axis=2)
    RW = {r["id"]: normalize(np.asarray(r["w"])[None])[0] for r in ref_rows}
    SW = {r["id"]: normalize(np.asarray(r["w"])[None])[0] for r in stream_rows}
    exp = {}
    for sid_, rw in RW.items():
        for rid_, sw in SW.items():
            e = emd_exact(sw, rw, C)
            if e <= THETA + 1e-4:
                exp[(rid_, sid_)] = e

    assert set(got) == set(exp)
    for k, v in exp.items():
        assert abs(got[k] - v) < 1e-9
    assert len(exp) > 0, "trivial test: no qualifying pairs"


def test_streaming_emd_join_nd_drops_zero_mass_rows(spark, tmp_path):
    """Zero-mass rows on either side join nothing (the exact stage would
    score them 0.0 against every row their centroid reaches); every other
    stream x ref pair is within the wide threshold."""
    bins = np.array([[i, j] for i in (-1, 0, 1) for j in (-1, 0, 1)], dtype=np.float64)
    rng = np.random.default_rng(3)
    schema = "id long, w array<double>"
    ref = spark.createDataFrame(
        [(i + 1, [float(x) for x in rng.random(9) + 0.1]) for i in range(3)]
        + [(0, [0.0] * 9)],
        schema,
    )
    src = str(tmp_path / "zero_stream")
    spark.createDataFrame(
        [(10 + i, [float(x) for x in rng.random(9) + 0.1]) for i in range(3)]
        + [(99, [0.0] * 9)],
        schema,
    ).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_emd_join_nd(stream, ref, bins, 5.0)
        .writeStream.format("memory")
        .queryName("emd_nd_stream_zero")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    got = {(r.rid, r.sid) for r in spark.sql("SELECT * FROM emd_nd_stream_zero").collect()}
    assert got == {(s, r) for s in (10, 11, 12) for r in (1, 2, 3)}


def test_streaming_emd_join_nd_arbitrary_cost_matches_kernel(spark, tmp_path):
    """An explicit metric cost matrix (sqrt of the L1 lattice distance) has
    no centroid geometry, so every stream x ref pair is a candidate; the
    join must still equal the kernel brute force."""
    hist = lineitem_histograms_2d(spark, SF_DIR).select("id", "w").orderBy("id")
    rows = hist.collect()
    ref_rows, stream_rows = rows[:8], rows[8:40]
    pts = bin_points_2d()
    C = np.sqrt(np.abs(pts[:, None, :] - pts[None, :, :]).sum(axis=2))
    RW = {r["id"]: normalize(np.asarray(r["w"])[None])[0] for r in ref_rows}
    SW = {r["id"]: normalize(np.asarray(r["w"])[None])[0] for r in stream_rows}
    emds = {(s, r): emd_exact(sw, rw, C) for s, sw in SW.items() for r, rw in RW.items()}
    theta = float(np.quantile(list(emds.values()), 0.3))
    exp = {k: v for k, v in emds.items() if v <= theta + 1e-4}

    src = str(tmp_path / "hist_stream_arb")
    spark.createDataFrame(stream_rows, hist.schema).repartition(2).write.parquet(src)
    stream = spark.readStream.schema("id long, w array<double>").parquet(src)
    ref = spark.createDataFrame(ref_rows, hist.schema)
    q = (
        streaming_emd_join_nd(stream, ref, pts, theta, ground=C)
        .writeStream.format("memory")
        .queryName("emd_nd_stream_arb")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    got = {(r.rid, r.sid): r.emd for r in spark.sql("SELECT * FROM emd_nd_stream_arb").collect()}
    assert set(got) == set(exp) and 0 < len(exp) < len(emds)
    for k, v in exp.items():
        assert abs(got[k] - v) < 1e-9


def test_streaming_emd_join_nd_empty_reference_side(spark, tmp_path):
    """An empty reference side, or one whose every row is invalid, joins
    nothing: each micro-batch returns no rows instead of failing."""
    bins = np.array([[i, j] for i in (-1, 0, 1) for j in (-1, 0, 1)], dtype=np.float64)
    schema = "id long, w array<double>"
    rng = np.random.default_rng(5)
    src = str(tmp_path / "empty_ref_stream")
    spark.createDataFrame(
        [(i, [float(x) for x in rng.random(9) + 0.1]) for i in range(4)], schema
    ).write.parquet(src)
    refs = {
        "emd_nd_stream_no_ref": spark.createDataFrame([], schema),
        "emd_nd_stream_invalid_ref": spark.createDataFrame(
            [(1, [0.0] * 9), (2, [float("nan")] + [1.0] * 8)], schema
        ),
    }
    for name, ref in refs.items():
        q = (
            streaming_emd_join_nd(spark.readStream.schema(schema).parquet(src), ref, bins, 5.0)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=120)
        assert q.exception() is None, name
        assert spark.sql(f"SELECT * FROM {name}").count() == 0, name
