"""Generate pipeline: media -> histograms -> EMD join, end to end."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from melody_join_spark.operators.emd_join_nd import emd_join_nd
from melody_join_spark.operators.multimodal import MEDIA_SCHEMA, fake_decode_image
from melody_join_spark.plans.generate import generate_histograms, generate_to_text
from melody_join_spark.sources.histogram_text import read_histogram_text


@pytest.fixture()
def media_df(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("mem://"), F.col("doc_id")).alias("path"),
        F.lit("image").alias("modality"),
        F.encode("text", "utf-8").alias("content"),
        F.length("text").cast("long").alias("content_length"),
        F.lit("{}").alias("meta"),
    )


def test_generate_histograms_deterministic(spark, media_df):
    h1 = generate_histograms(spark, media=media_df, bins=12, fake=True)
    rows = {r.id: r.w for r in h1.collect()}
    assert len(rows) == 40
    for w in rows.values():
        assert len(w) == 12
        assert sum(w) == pytest.approx(1.0, abs=1e-9)
    # deterministic: same content -> same histogram (fake decoder is seeded
    # by content bytes)
    h2 = {r.id: r.w for r in generate_histograms(spark, media=media_df, bins=12, fake=True).collect()}
    assert rows == h2


def test_generate_feeds_join_and_text_roundtrip(spark, media_df, tmp_path):
    hist = generate_histograms(spark, media=media_df, bins=12, fake=True)
    line = np.arange(12, dtype=np.float64).reshape(-1, 1)
    res = emd_join_nd(hist, line, 2.0, strategy="grid", grid=4)
    bf = emd_join_nd(hist, line, 2.0, strategy="bruteforce")
    got = {(r.rid, r.sid): r.emd for r in res.collect()}
    exp = {(r.rid, r.sid): r.emd for r in bf.collect()}
    assert set(got) == set(exp)

    # reference text-format round trip
    out = str(tmp_path / "hist_text")
    generate_to_text(hist, out)
    back = read_histogram_text(spark, out)
    orig = {r.id: np.array(r.w) for r in hist.collect()}
    rt = {r.id: np.array(r.w) for r in back.collect()}
    assert set(rt) == set(orig)
    for k in orig:
        np.testing.assert_allclose(rt[k], orig[k], atol=1e-12)
