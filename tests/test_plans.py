"""Physical-plan assertions: the properties the 100 TB story depends on.

Catalyst must see through our operator compositions: small dims broadcast,
filters reach the parquet scan, aggregations pre-aggregate map-side, scans
read only referenced columns.  These tests pin those properties so a future
refactor that silently degrades a plan (e.g. to a sort-merge join or a
full-column scan) fails loudly.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from melody_join_spark.operators.events import event_window_agg, load_events
from melody_join_spark.operators.text import text_features
from melody_join_spark.plans.tpch_bridge import lineitem_histograms

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_histogram_build_broadcasts_dims(spark):
    plan = plan_of(lineitem_histograms(spark, SF))
    # customer/orders reduction joins into the fact scan must be broadcast,
    # never a shuffled sort-merge join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # nation filter is pushed into the customer parquet scan
    assert "PushedFilters: [" in plan and "c_nationkey" in plan


def test_histogram_build_partial_aggregation(spark):
    plan = plan_of(lineitem_histograms(spark, SF))
    # map-side partial agg before the exchange: two HashAggregate nodes
    assert plan.count("HashAggregate") >= 2


def test_text_features_no_shuffle(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(text_features(docs))
    assert "Exchange" not in plan  # pure row-local expressions
    # all-JVM: no Python evaluation anywhere (higher-order exprs keep the
    # Project outside whole-stage codegen, but never touch Python workers)
    assert "EvalPython" not in plan


def test_text_features_column_pruning(spark):
    # cached plan fragments (other modules cache this table) would replace
    # the scan with an all-column InMemoryRelation and hide the pruning
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    slim = text_features(docs).select("doc_id", "quality")
    plan = plan_of(slim)
    # scan must read only the referenced source columns
    assert "ReadSchema" in plan
    read_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in read_line and "doc_id" in read_line
    assert "source" not in read_line and "lang" not in read_line


def test_event_window_agg_partial(spark):
    ev = load_events(spark, SF)
    plan = plan_of(event_window_agg(ev))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_emd_pair_expression_stays_codegen(spark):
    """The 1-D pair-EMD expression must live inside whole-stage codegen —
    no Python evaluation in the pair loop."""
    from melody_join_spark.operators.emd_join import emd_threshold_join

    hist = lineitem_histograms(spark, SF)
    plan = plan_of(emd_threshold_join(hist, 1.0, strategy="cells"))
    assert "EvalPython" not in plan  # pair EMD is a JVM expression
    # the cells plan joins on an equi-key, never a cartesian product
    assert "CartesianProduct" not in plan


def test_nd_collinear_delegation_is_pure_codegen(spark):
    """d=1 ND grid joins delegate to the 1-D cells plan: the physical plan
    must contain NO Python evaluation (no Arrow/pandas UDF nodes) — the
    whole join stays in JVM whole-stage codegen."""
    import numpy as np

    from melody_join_spark.operators.emd_join_nd import emd_join_nd

    hist = lineitem_histograms(spark, SF)
    bins = np.arange(16, dtype=np.float64).reshape(-1, 1)
    plan = plan_of(emd_join_nd(hist.select("id", "w"), bins, 0.5, strategy="grid"))
    assert "EvalPython" not in plan  # covers Batch- and ArrowEvalPython
    assert "FlatMapGroupsInPandas" not in plan
    # ... while the d>=2 grid plan legitimately carries the pandas cascade
    bins2 = np.array([[float(i), float(j)] for i in range(4) for j in range(4)])
    plan2 = plan_of(emd_join_nd(hist.select("id", "w"), bins2, 0.5, strategy="grid"))
    assert "EvalPython" in plan2 or "FlatMapGroupsInPandas" in plan2


@pytest.mark.parametrize("strategy", ["grid", "pivot", "bruteforce"])
def test_nd_strategies_share_partition_runner(spark, strategy):
    """Every d>=2 threshold strategy verifies its groups in one
    partition-batched mapInPandas runner, never a per-group
    groupBy().applyInPandas (one pandas frame and cascade per group)."""
    import numpy as np

    from melody_join_spark.operators.emd_join_nd import emd_join_nd

    hist = lineitem_histograms(spark, SF).select("id", "w")
    bins2 = np.array([[float(i), float(j)] for i in range(4) for j in range(4)])
    plan = plan_of(emd_join_nd(hist, bins2, 0.5, strategy=strategy))
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_quality_filter_scan_shaped(spark):
    """quality_filter is a pure scan-side projection: no shuffle, no Python."""
    from melody_join_spark.operators.text import quality_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(quality_filter(docs))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_corpus_stats_partial_agg(spark):
    """corpus_stats: one partial+final aggregation on the tiny lang key."""
    from melody_join_spark.operators.text import corpus_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(corpus_stats(docs))
    assert plan.count("HashAggregate") >= 2
    # exactly one Exchange NODE (formatted output names each node twice:
    # once in the tree, once in the details section)
    assert plan.count("Exchange") <= 2
    assert "EvalPython" not in plan


def test_corpus_prep_ops_scan_shaped(spark):
    """chunk/redact/sample are shuffle-free, Python-free scan projections;
    sample_corpus' hash filter and redact's column pruning reach the scan."""
    from melody_join_spark.operators.corpus import (
        chunk_documents,
        redact_pii,
        sample_corpus,
        split_corpus,
    )

    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        chunk_documents(docs),
        redact_pii(docs),
        sample_corpus(docs, {"src0": 0.5}),
        split_corpus(docs),
    ):
        plan = plan_of(df)
        assert "Exchange" not in plan
        assert "EvalPython" not in plan
    # redact reads only (doc_id, text)
    plan = plan_of(redact_pii(docs))
    read_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "doc_id" in read_line and "text" in read_line
    assert "source" not in read_line


def test_two_table_collinear_delegation_python_free(spark):
    """The R x S collinear join delegates to pure codegen (no Python stage,
    no nested loop): the two-table analog of the self-join delegation."""
    import numpy as np

    from melody_join_spark.operators.emd_join_nd import emd_join_nd

    r = spark.createDataFrame(
        [(i, [float(i % 4 + 1), 2.0, 1.0]) for i in range(30)],
        "id long, w array<double>",
    )
    s = spark.createDataFrame(
        [(i, [1.0, float(i % 3 + 1), 2.0]) for i in range(30)],
        "id long, w array<double>",
    )
    bins = np.arange(3, dtype=np.float64).reshape(-1, 1)
    df = emd_join_nd(r, bins, 0.4, other=s, strategy="grid")
    plan = plan_of(df)
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert "NestedLoop" not in plan


def test_lookup_family_distributed_plans_collect_free(spark):
    """Round-3 VERDICT item 1: the large-query-set paths of the lookup
    family must not materialize the query side on the driver.  The plan of
    each distributed variant shows the cogrouped / mapInPandas operators
    and NO CollectLimit (and building the plan itself runs no collect —
    distributed=True skips even the sizing probe)."""
    import numpy as np

    from melody_join_spark.operators.emd_join_nd import emd_knn
    from melody_join_spark.operators.similarity import (
        cosine_topk,
        ivf_build,
        ivf_search,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
    )

    p = plan_of(cosine_topk(emb, qs, k=5, q_id_col="qid", q_vec_col="qv",
                            distributed=True))
    assert "FlatMapCoGroupsInPandas" in p
    assert "CollectLimit" not in p

    idx = ivf_build(emb, nlist=8)
    p = plan_of(ivf_search(idx, qs, k=5, q_id_col="qid", q_vec_col="qv",
                           distributed=True))
    assert "MapInPandas" in p  # probe assignment runs on executors
    assert "CollectLimit" not in p

    rng = np.random.default_rng(7)
    bins = rng.random((8, 2))
    hist = spark.createDataFrame(
        [(i, [float(x) for x in rng.random(8)]) for i in range(40)],
        "id long, w array<double>",
    )
    p = plan_of(emd_knn(hist, hist, bins, k=3, distributed=True))
    assert "FlatMapCoGroupsInPandas" in p
    assert "CollectLimit" not in p


def test_cogroup_pin_adds_no_extra_exchange(spark):
    """The explicit repartition(n, keys) on both cogroup children must be
    REUSED by CoGroup's clustering requirement — exactly one hash exchange
    per side, none stacked on top (the task-count pin is free)."""
    import re

    from melody_join_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    plan = plan_of(
        cosine_topk(emb, qs, k=3, q_id_col="qid", q_vec_col="qv", distributed=True)
    )
    tree = plan.split("(1) ")[0]
    # exchanges feeding the cogroup: count exchanges in the EXECUTED part
    # of the plan — subtrees under an InMemoryRelation are the cached
    # query-side build (materialized exactly once, including its spread
    # repartition) and are excluded: the guard is about per-branch cost,
    # and a cache's one-time exchange is the opposite of a stacked one.
    # The ranking window adds one more — so <= 3 total, and no adjacent
    # Exchange-over-Exchange anywhere outside the cache.
    lines = tree.splitlines()
    kept, skip_indent = [], None
    for ln in lines:
        indent = len(ln) - len(ln.lstrip(" :+-"))
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "InMemoryRelation" in ln:
            skip_indent = indent
            continue
        kept.append(ln)
    executed = "\n".join(kept)
    n_ex = executed.count("Exchange")
    assert n_ex <= 3, tree
    # no exchange stacked directly on another exchange anywhere
    assert not re.search(
        r"Exchange[^\n]*\n[^\n]*Exchange[^\n]*\n[^\n]*Exchange", executed
    )


def test_ivf_cosine_pairs_plan_shape(spark):
    """The IVF pair path's 100-TB property: NO cartesian product anywhere,
    and the wide shuffle moves only the N*nprobe assignment rows into ONE
    groupBy(list_id) — vectors are never re-joined per candidate pair (the
    LSH route's join-back shape).  Pin it."""
    from melody_join_spark.operators.similarity import ivf_cosine_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = ivf_cosine_pairs(emb, 0.9, nlist=8, nprobe=2)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, (
        "IVF pairs should verify inside the list group, not join vectors "
        "back per candidate"
    )
    # one exchange for the groupBy(list_id) group shuffle (plus AQE reads)
    assert "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan
