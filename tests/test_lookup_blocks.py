"""The lookup operators' shared query-block runner
(``melody_join_spark/operators/_probe.py``): the size probe is the collect,
so a small query side's upstream chain runs once, and an empty query side
is answered, not crashed on."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from melody_join_spark.operators.emd_index import emd_index_build, emd_index_search
from melody_join_spark.operators.emd_join_nd import emd_knn
from melody_join_spark.operators.similarity import cosine_topk, ivf_build, ivf_search

NQ = 6


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(4)
    return spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )


@pytest.fixture(scope="module")
def hist(spark):
    rng = np.random.default_rng(5)
    return spark.createDataFrame(
        [(i, [float(x) for x in rng.random(6)]) for i in range(60)],
        "id long, w array<double>",
    )


BINS = np.random.default_rng(6).random((6, 2))


def counted(spark, rows, schema, id_col):
    """A query side built from ``rows`` behind a filter UDF that counts its
    row evaluations (a filter, so no count() can prune it away)."""
    acc = spark.sparkContext.accumulator(0)

    def keep(_):
        acc.add(1)
        return True

    src = spark.createDataFrame(rows, schema)
    return src.where(F.udf(keep, BooleanType())(F.col(id_col))), acc


@pytest.fixture(scope="module")
def lookups(spark, emb, hist, tmp_path_factory):
    """name -> (query rows, query schema, id column, operator on queries)."""
    q_emb = emb.orderBy("vec_id").limit(NQ).collect()
    q_hist = hist.where(F.col("id") < NQ).collect()
    idx = ivf_build(emb, nlist=8)
    path = str(tmp_path_factory.mktemp("emd_index"))
    eidx = emd_index_build(hist, BINS, path, grid=3)
    return {
        "emd_knn": (q_hist, hist.schema, "id",
                    lambda q: emd_knn(hist, q, BINS, k=3)),
        "cosine_topk": (q_emb, emb.schema, "vec_id",
                        lambda q: cosine_topk(emb, q, k=3)),
        "ivf_search": (q_emb, emb.schema, "vec_id",
                       lambda q: ivf_search(idx, q, k=3, nprobe=2)),
        "emd_index_search": (q_hist, hist.schema, "id",
                             lambda q: emd_index_search(eidx, q, 0.3)),
    }


OPS = ["emd_knn", "cosine_topk", "ivf_search", "emd_index_search"]


@pytest.mark.parametrize("name", OPS)
def test_lookup_runs_query_chain_once(spark, lookups, name):
    """A lookup evaluates every query row once while its plan is built and
    not again when the result runs: the probe's rows are the payload."""
    rows, schema, id_col, op = lookups[name]
    q, acc = counted(spark, rows, schema, id_col)
    out = op(q)
    assert acc.value == NQ
    assert out.count() > 0
    assert acc.value == NQ


@pytest.mark.parametrize("name", OPS)
def test_lookup_on_empty_query_side(spark, lookups, name):
    _, schema, _, op = lookups[name]
    assert op(spark.createDataFrame([], schema)).count() == 0
