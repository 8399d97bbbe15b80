"""SQL-text literals and the grid expressions built from them: exact to the
bit, and equal to the numpy definitions they stand for."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from melody_join_spark.operators._sqltext import sql_double, sql_doubles
from melody_join_spark.operators.emd_join_nd import (
    _cell_expr,
    _centroid_cols,
    _grid_geometry,
    _valid_hist,
)

VALUES = [
    0.1, 1e-05, 5e-324, -0.0, 1.7976931348623157e308,
    float("inf"), float("-inf"), float("nan"),
]


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_doubles_round_trip_bit_for_bit(spark):
    row = spark.range(1).select(
        *[F.expr(sql_double(v)).alias(f"c{i}") for i, v in enumerate(VALUES)],
        F.expr(sql_doubles(VALUES)).alias("arr"),
    ).first()
    assert [_bits(row[f"c{i}"]) for i in range(len(VALUES))] == list(map(_bits, VALUES))
    assert list(map(_bits, row["arr"])) == list(map(_bits, VALUES))


def test_centroids_and_cells_match_numpy(spark):
    rng = np.random.default_rng(7)
    bins = rng.normal(size=(9, 3))
    w = rng.exponential(size=(40, 9)) * (rng.random((40, 9)) < 0.7)
    w[0] = 0.0  # zero mass: dropped
    hist = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(40), "w": [list(r) for r in w]})
    )
    grid = 4
    rec = _centroid_cols(hist.where(_valid_hist("w")), bins, "w")
    _, _, bnds, _, _ = _grid_geometry(rec, 3, grid)
    out = rec.withColumn("cell", _cell_expr(bnds, grid)).orderBy("id").toPandas()
    assert out["id"].tolist() == list(range(1, 40))

    cents = np.empty((39, 3))
    for i, r in enumerate(w[1:]):
        tot = 0.0
        for x in r:
            tot = tot + x
        for k in range(3):
            dot = 0.0
            for x, c in zip(r, bins[:, k]):
                dot = dot + x * c
            cents[i, k] = dot / tot
    got = out[[f"cent_{k}" for k in range(3)]].to_numpy()
    assert got.tobytes() == cents.tobytes()

    cell = np.zeros(39, dtype=np.int64)
    for k in range(3):
        cell = cell * grid + np.searchsorted(bnds[k], got[:, k], side="right")
    assert out["cell"].tolist() == cell.tolist()
