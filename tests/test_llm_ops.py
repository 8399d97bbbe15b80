"""LLM-pipeline operator tests: dedup family, similarity search, text
features — exact variants vs their own brute-force semantics, sketch
variants (minhash/simhash/LSH) vs their exact twins on sf0.001."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from melody_join_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
    simhash64,
)
from melody_join_spark.operators.similarity import (
    ivf_topk,
    cosine_pairs,
    cosine_topk,
    lsh_cosine_pairs,
)
from melody_join_spark.operators.text import text_features

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    df.unpersist()  # don't leak module caches into other test files


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()


def test_text_features_columns_and_ranges(docs):
    rows = text_features(docs).collect()
    assert len(rows) == docs.count()
    for r in rows[:50]:
        assert r.n_tokens_ws > 0
        assert 0.0 <= r.quality <= 1.0
        assert 0.0 <= r.stopword_ratio <= 1.0
        assert len(r.fp_text) == 32 and len(r.fp_bow) == 32


def test_exact_dedup_groups(docs):
    groups = exact_dedup_groups(docs).collect()
    # every reported group is a genuine bow-duplicate set
    from melody_join_spark.operators.text import fingerprint_bow

    fps = docs.select(
        F.col("doc_id"), fingerprint_bow(F.col("text")).alias("fp")
    ).collect()
    by_fp = {}
    for r in fps:
        by_fp.setdefault(r.fp, []).append(r.doc_id)
    want = {fp: ids for fp, ids in by_fp.items() if len(ids) > 1}
    assert {g.fp for g in groups} == set(want)
    for g in groups:
        assert g.group_size == len(want[g.fp])
        assert g.keep_id == min(want[g.fp])


def _python_jaccard_ngram(rows, n, threshold):
    def grams(t):
        t = t.lower()
        return {t[i : i + n] for i in range(max(len(t) - n + 1, 1))}

    gs = {r.doc_id: grams(r.text) for r in rows}
    ids = sorted(gs)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(gs[a] & gs[b])
            if inter == 0:
                continue
            j = inter / (len(gs[a]) + len(gs[b]) - inter)
            if j >= threshold:
                out[(a, b)] = j
    return out


def test_jaccard_pairs_vs_python(docs):
    want = _python_jaccard_ngram(docs.collect(), 5, 0.8)
    got = {
        (r.rid, r.sid): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.8, ngram=5).collect()
    }
    assert set(got) == set(want)
    for p, j in got.items():
        assert j == pytest.approx(want[p], abs=1e-12)


def test_minhash_lsh_matches_exact(docs):
    exact = set(
        (r.rid, r.sid) for r in jaccard_pairs(docs, threshold=0.8, ngram=5).collect()
    )
    lsh = set(
        (r.rid, r.sid)
        for r in minhash_lsh_pairs(docs, threshold=0.8, shingle=5).collect()
    )
    # verification makes output a subset of exact; recall should be total at
    # j >= 0.8 with 32x4 bands
    assert lsh == exact


def test_simhash_determinism_and_symmetry(docs):
    a = {r.id: r.simhash for r in simhash64(docs).collect()}
    b = {r.id: r.simhash for r in simhash64(docs).collect()}
    assert a == b
    pairs = simhash_pairs(docs, max_hamming=3).collect()
    for r in pairs[:100]:
        assert bin((a[r.rid] ^ a[r.sid]) & (2**64 - 1)).count("1") == r.hamming


def test_cosine_pairs_vs_numpy(emb):
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    iu = np.triu_indices(len(ids), k=1)
    want = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j]))): S[i, j]
        for i, j in zip(*iu)
        if S[i, j] >= 0.25
    }
    got = {(r.rid, r.sid): r.cosine for r in cosine_pairs(emb, 0.25).collect()}
    assert set(got) == set(want)
    for p in got:
        assert got[p] == pytest.approx(want[p], abs=1e-9)


def test_lsh_cosine_subset(emb):
    exact = set((r.rid, r.sid) for r in cosine_pairs(emb, 0.25).collect())
    lsh = set((r.rid, r.sid) for r in lsh_cosine_pairs(emb, 0.25).collect())
    # verification guarantees soundness even where recall is weak
    assert lsh <= exact


def test_lsh_cosine_recall_near_dup_regime(spark):
    """Recall must be ~total in the near-duplicate regime (cos >= 0.9) the
    operator targets: base vectors + small perturbations."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((60, 32))
    pert = base + 0.12 * rng.standard_normal((60, 32))  # cos ~0.96
    V = np.vstack([base, pert])
    rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = set((r.rid, r.sid) for r in cosine_pairs(emb, 0.9).collect())
    lsh = set((r.rid, r.sid) for r in lsh_cosine_pairs(emb, 0.9).collect())
    assert exact, "fixture should produce near-dup pairs"
    assert lsh <= exact
    assert len(lsh) >= 0.95 * len(exact)


def test_cumsum_is_strict_left_fold():
    """ivf_cosine_pairs' blocked in-list verify relies on np.cumsum's
    running total being a STRICT LEFT FOLD — bit-identical to Spark's
    F.aggregate(zip_with(...)) accumulation that cosine_pairs and the
    spec fixture use.  Pin the property so a numpy implementation change
    (e.g. pairwise accumulation) fails loudly here instead of as a
    one-ulp oracle hash mismatch."""
    rng = np.random.default_rng(3)
    X = rng.standard_normal((200, 64)) * rng.uniform(0.1, 50, size=(200, 1))
    Y = rng.standard_normal((200, 64))
    dots = np.cumsum(X * Y, axis=1)[:, -1]
    for i in range(200):
        acc = 0.0
        for a, b in zip(X[i].tolist(), Y[i].tolist()):
            acc += a * b
        assert dots[i] == acc


def test_ivf_cosine_pairs_subset_exact_values(emb):
    """IVF-candidate pairs (round-5 VERDICT next #4): output must be a
    SUBSET of the exact pair set (candidates approximate, verify exact),
    and every emitted cosine must match the exact path's value."""
    from melody_join_spark.operators.similarity import ivf_cosine_pairs

    exact = {
        (r.rid, r.sid): r.cosine for r in cosine_pairs(emb, 0.25).collect()
    }
    ivf = {
        (r.rid, r.sid): r.cosine
        for r in ivf_cosine_pairs(emb, 0.25, nlist=16, nprobe=4).collect()
    }
    assert set(ivf) <= set(exact)
    for p, c in ivf.items():
        assert c == pytest.approx(exact[p], abs=1e-12)


def test_ivf_cosine_pairs_recall_near_dup_regime(spark):
    """Recall in the near-duplicate regime the dedup route targets
    (cos >= 0.9, planted perturbation pairs): near-identical vectors land
    in the same nearest lists, so probe overlap recovers ~all pairs."""
    from melody_join_spark.operators.similarity import ivf_cosine_pairs

    rng = np.random.default_rng(11)
    base = rng.standard_normal((60, 32))
    pert = base + 0.12 * rng.standard_normal((60, 32))  # cos ~0.96
    V = np.vstack([base, pert])
    rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = set((r.rid, r.sid) for r in cosine_pairs(emb, 0.9).collect())
    ivf = set(
        (r.rid, r.sid)
        for r in ivf_cosine_pairs(emb, 0.9, nlist=8, nprobe=2).collect()
    )
    assert exact, "fixture should produce near-dup pairs"
    assert ivf <= exact
    assert len(ivf) >= 0.95 * len(exact)


def test_derive_lsh_banding_properties():
    """The N-derived banding must (a) grow rows with N so expected bucket
    occupancy stays bounded (the 100k blowup class), (b) respect the
    clamps, (c) spend more bands at lower thresholds (flatter collision
    curve), and (d) reproduce the fixture/gate specs at the committed
    scale points."""
    from melody_join_spark.operators.similarity import _derive_lsh_banding

    r1, _ = _derive_lsh_banding(2_000, 0.95)
    r2, _ = _derive_lsh_banding(100_000, 0.95)
    r3, _ = _derive_lsh_banding(10_000_000, 0.95)
    assert r1 <= r2 <= r3 <= 16 and r1 >= 4
    _, b_low = _derive_lsh_banding(20_000, 0.25)
    _, b_high = _derive_lsh_banding(20_000, 0.95)
    assert b_low >= b_high and 2 <= b_high <= 64
    # committed scale points (SCALE.md / fixture): pin the resolved specs
    assert _derive_lsh_banding(500, 0.25) == (4, 39)      # sf0.01 fixture
    assert _derive_lsh_banding(100_000, 0.95) == (11, 13)  # 100k table


def test_ivf_cosine_pairs_hot_list_block_decomposition(spark):
    """A hot inverted list (all vectors in one list — collapsed data) must
    decompose into block-pair groups instead of one quadratic straggler
    task, and the decomposition must cover every in-list pair EXACTLY once
    with unchanged cosines: forcing list_cap far below the list size has
    to reproduce the un-decomposed output bit for bit."""
    from melody_join_spark.operators.similarity import ivf_cosine_pairs

    rng = np.random.default_rng(17)
    base = rng.standard_normal(16)
    V = base + 0.05 * rng.standard_normal((90, 16))  # one tight cluster
    rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    whole = {
        (r.rid, r.sid): r.cosine
        for r in ivf_cosine_pairs(
            emb, 0.5, nlist=4, nprobe=2, list_cap=4096
        ).collect()
    }
    blocked = {
        (r.rid, r.sid): r.cosine
        for r in ivf_cosine_pairs(
            emb, 0.5, nlist=4, nprobe=2, list_cap=16
        ).collect()
    }
    assert whole and blocked == whole  # exact same pairs AND same doubles


def test_dedupe_embeddings_ivf_route(docs, emb):
    """method='ivf' drops a subset of what exact drops (sound candidates),
    keeping everything exact keeps."""
    from melody_join_spark.operators.dedup import dedupe_embeddings

    kept_exact = {
        r.doc_id
        for r in dedupe_embeddings(docs, emb, threshold=0.95).collect()
    }
    kept_ivf = {
        r.doc_id
        for r in dedupe_embeddings(
            docs, emb, threshold=0.95, method="ivf"
        ).collect()
    }
    assert kept_exact <= kept_ivf


def test_cosine_topk_vs_numpy(emb):
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    qs = emb.orderBy("vec_id").limit(5)
    got = cosine_topk(emb, qs, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append(r)
    order = np.argsort(ids)
    for qid, lst in by_q.items():
        qi = order[np.searchsorted(ids[order], qid)]
        scores = S[qi].copy()
        scores[qi] = -np.inf  # exclude self
        top = np.argsort(-scores)[:3]
        want_ids = [int(ids[t]) for t in top]
        assert [r.nid for r in sorted(lst, key=lambda r: r.rank)] == want_ids


def test_ivf_topk_recall_vs_exact(emb):
    """IVF with generous probes recovers most of the exact top-k."""
    qs = emb.orderBy("vec_id").limit(8)
    exact = cosine_topk(emb, qs, k=5, round_to=6).collect()
    ivf = ivf_topk(emb, qs, k=5, nlist=16, nprobe=8, round_to=6).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r.qid, set()).add(r.nid)
    got = {}
    for r in ivf:
        got.setdefault(r.qid, set()).add(r.nid)
    assert set(got) == set(ex)
    hits = sum(len(ex[q] & got[q]) for q in ex)
    total = sum(len(ex[q]) for q in ex)
    assert hits / total >= 0.8, f"recall {hits}/{total}"
    # IVF cosines are exact for returned neighbors (only the candidate set
    # is approximate)
    exact_vals = {(r.qid, r.nid): r.cosine for r in exact}
    for r in ivf:
        if (r.qid, r.nid) in exact_vals:
            assert r.cosine == pytest.approx(exact_vals[(r.qid, r.nid)], abs=1e-6)


def test_dup_clusters_matches_union_find(spark):
    """Label propagation == classic union-find on random sparse graphs,
    including isolated nodes and multi-hop chains (transitivity)."""
    from melody_join_spark.operators.dedup import dup_clusters

    rng = np.random.default_rng(23)
    ids = list(range(60))
    edges = []
    for _ in range(45):
        a, b = rng.choice(60, size=2, replace=False)
        edges.append((int(min(a, b)), int(max(a, b))))
    edges = sorted(set(edges))
    # chain component exercising diameter > 1 propagation
    edges += [(70, 71), (71, 72), (72, 73), (73, 74)]
    ids += [70, 71, 72, 73, 74, 99]  # 99 stays isolated

    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in ids}

    pairs = spark.createDataFrame(edges, "rid long, sid long")
    ids_df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {
        r.id: r.cluster_id
        for r in dup_clusters(pairs, ids=ids_df, id_col="id").collect()
    }
    assert got == expected
    assert got[99] == 99  # isolated node maps to itself
    assert got[74] == 70  # 5-node chain collapses to its min id


def test_dup_clusters_star_survives_chains(spark, monkeypatch):
    """The distributed star rounds converge in O(log n) rounds on an
    adversarial 120-node chain (diameter 119 >> the 25-round cap), where
    min-label propagation would need diameter rounds."""
    from melody_join_spark.operators import dedup
    from melody_join_spark.operators.dedup import dup_clusters

    monkeypatch.setattr(dedup, "_DRIVER_EDGES", 0)  # force the star rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "rid long, sid long"
    )
    got = {r.id: r.cluster_id for r in dup_clusters(chain).collect()}
    assert got == {i: 0 for i in range(120)}


# ---------------------------------------------------------------------------
# winnowing fingerprints (rolling hash, MOSS scheme)
# ---------------------------------------------------------------------------

def _python_winnow(text, k=7, w=4, base=31):
    """Independent pure-python winnowing spec (no shared code with the
    operator): polynomial k-gram codepoint hash, min per window of w."""
    if len(text) < k:
        return []
    hs = [
        sum(ord(text[i + j]) * base ** (k - 1 - j) for j in range(k))
        for i in range(len(text) - k + 1)
    ]
    if len(hs) <= w:
        fps = {min(hs)}
    else:
        fps = {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}
    return sorted(fps)


@pytest.mark.parametrize("impl", ["arrow", "sql"])
def test_winnow_fingerprints_vs_python(spark, docs, impl):
    from melody_join_spark.operators.text import winnow_fingerprints

    got = {
        r.doc_id: list(r.fps)
        for r in winnow_fingerprints(docs, k=7, w=4, impl=impl).collect()
    }
    for r in docs.collect():
        assert got[r.doc_id] == _python_winnow(r.text, k=7, w=4), r.doc_id


def test_winnow_arrow_equals_sql_impl(spark, docs):
    """The fast Arrow path and the oracle-parity SQL expression are
    bit-identical (including unicode codepoints and short-doc rules)."""
    from melody_join_spark.operators.text import winnow_fingerprints

    extra = spark.createDataFrame(
        [(9001, "héllo wörld ünïcode — çhars beyond ascii repeated héllo wörld")],
        "doc_id long, text string",
    )
    base = docs.select("doc_id", "text").unionByName(extra)
    a = {
        r.doc_id: list(r.fps)
        for r in winnow_fingerprints(base, impl="arrow").collect()
    }
    s = {
        r.doc_id: list(r.fps)
        for r in winnow_fingerprints(base, impl="sql").collect()
    }
    assert a == s


@pytest.mark.parametrize("impl", ["arrow", "sql"])
def test_winnow_short_document_edges(spark, impl):
    from melody_join_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame(
        [(0, ""), (1, "abc"), (2, "abcdefg"), (3, "abcdefghij")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: list(r.fps)
        for r in winnow_fingerprints(df, k=7, w=4, impl=impl).collect()
    }
    assert rows[0] == [] and rows[1] == []          # shorter than k
    assert rows[2] == _python_winnow("abcdefg")      # exactly one shingle
    assert rows[3] == _python_winnow("abcdefghij")   # fewer shingles than w


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing guarantee: any shared substring of length >= w + k - 1
    yields at least one shared fingerprint."""
    from melody_join_spark.operators.text import winnow_fingerprints

    rng = np.random.default_rng(7)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    shared = "".join(rng.choice(list(alpha), size=30))  # >= w + k - 1 = 10
    rows = []
    for i in range(20):
        pre = "".join(rng.choice(list(alpha), size=int(rng.integers(0, 40))))
        suf = "".join(rng.choice(list(alpha), size=int(rng.integers(0, 40))))
        rows.append((i, pre + shared + suf))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r.doc_id: set(r.fps) for r in winnow_fingerprints(df, k=7, w=4).collect()}
    common = set.intersection(*fps.values())
    assert common, "every doc embeds the same 30-char run; overlap required"


def test_winnow_pairs_matches_python_and_plan_is_jvm(spark, docs):
    from melody_join_spark.operators.dedup import winnow_pairs

    res = winnow_pairs(
        docs, threshold=0.2, min_common=2, max_df_frac=0.5
    )
    # the sql impl keeps a fully Python-free plan (oracle-parity reference
    # path); the default arrow impl trades that for ~100x per-doc throughput
    sql_res = winnow_pairs(
        docs, threshold=0.2, min_common=2, max_df_frac=0.5, impl="sql"
    )
    plan = sql_res._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # independent python spec of the whole pipeline (operator default k/w)
    from melody_join_spark.operators.text import WINNOW_K, WINNOW_W

    n_docs = docs.count()
    fps = {
        r.doc_id: _python_winnow(r.text, k=WINNOW_K, w=WINNOW_W)
        for r in docs.collect()
    }
    from collections import Counter

    df_counts = Counter(fp for v in fps.values() for fp in v)
    kept = {fp for fp, c in df_counts.items() if c <= 0.5 * n_docs}
    sets = {i: set(v) & kept for i, v in fps.items()}
    want = {}
    ids = sorted(sets)
    for x, a in enumerate(ids):
        for b in ids[x + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter < 2:
                continue
            sim = round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
            if sim >= 0.2:
                want[(a, b)] = (inter, sim)
    got = {(r.doc_a, r.doc_b): (r.n_common, r.sim) for r in res.collect()}
    assert got == want


def test_dup_clusters_auto_equals_star_and_falls_back(spark, monkeypatch):
    """The driver union-find labels identically to the distributed star
    rounds, which take over when the edge list exceeds ``_DRIVER_EDGES``."""
    from melody_join_spark.operators import dedup
    from melody_join_spark.operators.dedup import dup_clusters

    rng = np.random.default_rng(11)
    edges = sorted(
        {
            (int(min(a, b)), int(max(a, b)))
            for a, b in rng.choice(300, size=(200, 2))
            if a != b
        }
    )
    pairs = spark.createDataFrame(edges, "rid long, sid long")
    ids = spark.range(0, 320).select(F.col("id").alias("doc_id"))
    auto = {
        r.id: r.cluster_id
        for r in dup_clusters(pairs, ids=ids, id_col="doc_id").collect()
    }
    assert len(auto) == 320  # every id labeled, isolated ones by themselves
    monkeypatch.setattr(dedup, "_DRIVER_EDGES", 10)
    star = {
        r.id: r.cluster_id
        for r in dup_clusters(pairs, ids=ids, id_col="doc_id").collect()
    }
    assert star == auto


def test_ivf_build_persist_search(spark, tmp_path):
    """The production ANN lifecycle: build once (persisted, lists
    partitioned by list_id), load, search many times == the one-shot
    wrapper; the disk-backed search scans ONLY the probed partitions
    (PartitionFilters on list_id)."""
    import contextlib
    import io

    from melody_join_spark.operators.similarity import (
        ivf_build,
        ivf_load,
        ivf_search,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.orderBy("vec_id").limit(8)
    path = str(tmp_path / "ivf_index")
    idx = ivf_build(emb, nlist=16, path=path)
    got = {
        (r.qid, r.rank): r.nid
        for r in ivf_search(idx, qs, k=5, nprobe=4, round_to=6).collect()
    }
    exp = {
        (r.qid, r.rank): r.nid
        for r in ivf_topk(emb, qs, k=5, nlist=16, nprobe=4, round_to=6).collect()
    }
    assert got == exp and len(got) > 0

    # reload from disk -> same result
    idx2 = ivf_load(spark, path)
    got2 = {
        (r.qid, r.rank): r.nid
        for r in ivf_search(idx2, qs, k=5, nprobe=4, round_to=6).collect()
    }
    assert got2 == exp

    # partition pruning: the list_id IN (...) literal reaches the scan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ivf_search(idx2, qs, k=5, nprobe=4).explain("formatted")
    plan = buf.getvalue()
    scan_line = next(
        l for l in plan.splitlines()
        if "PartitionFilters" in l
    )
    assert "list_id" in scan_line


def test_jaccard_pairs_cross_corpus(docs, spark):
    """EXACT cross-corpus jaccard (other=): every (new, corpus) pair with
    j >= t, verified against a python oracle; overlapping ids between the
    tables must not collide (side bit encoding)."""
    rows = docs.collect()
    mid = len(rows) // 2
    new_rows = rows[:mid]
    corpus_rows = rows[mid:]
    new_df = spark.createDataFrame(
        [(r.doc_id, r.text) for r in new_rows], "doc_id long, text string"
    )
    # REUSE the new side's ids for the corpus side: id overlap on purpose
    corpus_df = spark.createDataFrame(
        [(new_rows[i % mid].doc_id, r.text) for i, r in enumerate(corpus_rows)],
        "doc_id long, text string",
    )

    def grams(t):
        t = t.lower()
        return {t[i : i + 5] for i in range(max(len(t) - 5 + 1, 1))}

    want = {}
    for rn in new_rows:
        for i, rc in enumerate(corpus_rows):
            ga, gb = grams(rn.text), grams(rc.text)
            inter = len(ga & gb)
            if not inter:
                continue
            j = inter / (len(ga) + len(gb) - inter)
            if j >= 0.8:
                key = (rn.doc_id, new_rows[i % mid].doc_id)
                want[key] = max(want.get(key, 0.0), j)

    got = {}
    for r in jaccard_pairs(
        new_df, threshold=0.8, ngram=5, other=corpus_df
    ).collect():
        got[(r.rid, r.sid)] = max(got.get((r.rid, r.sid), 0.0), r.jaccard)
    assert set(got) == set(want)
    for p, j in got.items():
        assert j == pytest.approx(want[p], abs=1e-12)


def test_dedupe_incremental(docs, spark):
    """Incremental admission: new rows near-dup'ing the corpus are dropped,
    genuinely-new rows survive; exact and minhash methods agree here."""
    from melody_join_spark.operators.dedup import dedupe_incremental

    rows = docs.collect()
    corpus = spark.createDataFrame(
        [(r.doc_id, r.text) for r in rows], "doc_id long, text string"
    )
    # new batch: two near-copies of corpus docs + one genuinely novel doc
    new = spark.createDataFrame(
        [
            (10_001, rows[0].text),                      # exact copy
            (10_002, rows[1].text + " x"),               # near copy
            (10_003, "zq " * 40 + "entirely novel text payload"),
        ],
        "doc_id long, text string",
    )
    for method in ("jaccard", "minhash"):
        kept = {
            r.doc_id
            for r in dedupe_incremental(
                new, corpus, threshold=0.8, ngram=5, method=method
            ).collect()
        }
        assert 10_003 in kept, method
        assert 10_001 not in kept, method
        assert 10_002 not in kept, method


def test_zero_vector_cosine_is_zero_on_every_path(spark):
    """A zero vector has one documented cosine, 0.0, on every path:
    cosine_pairs (the SQL expression, which ANSI division by zero used to
    fail), and cosine_topk on the lookup and the blocked path, with and
    without fold_exact (whose 0/0 used to come back null)."""
    vecs = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [1.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    half = 1.0 / np.sqrt(2.0)
    want = {(1, 2): 0.0, (1, 3): 0.0, (2, 3): half}
    got = {(r.rid, r.sid): r.cosine for r in cosine_pairs(vecs, -1.0).collect()}
    assert got.keys() == want.keys()
    assert all(got[p] == pytest.approx(want[p], abs=1e-12) for p in want)
    both = {**want, **{(b, a): c for (a, b), c in want.items()}}
    for fold_exact in (False, True):
        for dist in (False, True):
            rows = cosine_topk(
                vecs, vecs, k=2, distributed=dist, fold_exact=fold_exact
            ).collect()
            got = {(r.qid, r.nid): r.cosine for r in rows}
            assert got.keys() == both.keys(), (fold_exact, dist)
            for p, c in both.items():
                assert got[p] == pytest.approx(c, abs=1e-12), (p, fold_exact, dist)


def test_cosine_topk_distributed_matches_collected(spark, emb):
    """The cogrouped block path (no driver collect) returns exactly the
    collected-broadcast path's ranking and unrounded cosines, in both
    arithmetic modes.  In the default mode a zero vector sits on both
    sides: it scores 0.0 against everything on both paths (the zero
    query's ties at 0.0 may pick different neighbours per blocking, so
    only its scores are compared)."""
    base = emb.select("vec_id", "embedding")
    qs = base.orderBy("vec_id").limit(40)
    dim = len(base.first().embedding)
    zq, zd = 10**9, 10**9 + 1
    zq_rows = spark.createDataFrame([(zq, [0.0] * dim)], base.schema)
    zd_rows = spark.createDataFrame([(zd, [0.0] * dim)], base.schema)
    for fold_exact, nq in ((True, 40), (False, 41)):
        if not fold_exact:
            qs, base = qs.unionByName(zq_rows), base.unionByName(zd_rows)
        ref, got = (
            {
                (r.qid, r.rank): (r.nid, r.cosine)
                for r in cosine_topk(
                    base, qs, k=5, distributed=dist, fold_exact=fold_exact
                ).collect()
            }
            for dist in (False, True)
        )
        assert len(ref) == len(got) == nq * 5
        assert {k: v for k, v in got.items() if k[0] != zq} == {
            k: v for k, v in ref.items() if k[0] != zq
        }, fold_exact
        if not fold_exact:
            for res in (ref, got):
                assert [res[(zq, r)][1] for r in range(1, 6)] == [0.0] * 5


def test_cosine_topk_collect_guard(emb, monkeypatch):
    """An oversized query set with distributed=False raises instead of
    silently collecting it onto the driver."""
    from melody_join_spark.operators import _probe

    monkeypatch.setattr(_probe, "COLLECT_ROWS", 4)
    qs = emb.limit(10)
    with pytest.raises(ValueError, match="exceeds 4 rows.*distributed=True"):
        cosine_topk(emb, qs, k=3, distributed=False)
    # auto mode dispatches to the block path instead of raising
    assert cosine_topk(emb, qs, k=3).count() == 10 * 3


def test_ivf_search_distributed_matches_collected(spark, emb, monkeypatch):
    """Distributed probe assignment (mapInPandas vs broadcast codebook)
    selects the same lists, so the search output is identical."""
    from melody_join_spark.operators import _probe
    from melody_join_spark.operators.similarity import ivf_build, ivf_search

    idx = ivf_build(emb, nlist=16)
    qs = emb.orderBy("vec_id").limit(30)
    ref = {
        (r.qid, r.rank): (r.nid, r.cosine)
        for r in ivf_search(idx, qs, k=5, nprobe=4, round_to=6,
                            distributed=False).collect()
    }
    got = {
        (r.qid, r.rank): (r.nid, r.cosine)
        for r in ivf_search(idx, qs, k=5, nprobe=4, round_to=6,
                            distributed=True).collect()
    }
    assert got == ref and len(got) > 0
    monkeypatch.setattr(_probe, "COLLECT_ROWS", 4)
    with pytest.raises(ValueError, match="exceeds 4 rows.*distributed=True"):
        ivf_search(idx, qs, k=5, distributed=False)


def test_dedupe_embeddings_greedy_rule(spark, docs, emb):
    from melody_join_spark.operators.dedup import dedupe_embeddings
    from melody_join_spark.operators.similarity import cosine_pairs

    kept = {r.doc_id for r in dedupe_embeddings(docs, emb, threshold=0.4).collect()}
    pairs = cosine_pairs(emb, 0.4).collect()
    dropped = {r.sid for r in pairs}
    expect = {r.doc_id for r in docs.collect()} - dropped
    assert kept == expect
    # every dropped doc has a kept (or at least smaller-id) partner
    by_sid = {}
    for r in pairs:
        by_sid.setdefault(r.sid, []).append(r.rid)
    assert all(min(v) < k for k, v in by_sid.items())


def test_dedupe_embeddings_lsh_mode(spark):
    """The LSH candidate path agrees with exact at a near-dup threshold on
    a planted-duplicate fixture (hyperplane LSH's high-recall regime)."""
    import numpy as np

    from melody_join_spark.operators.dedup import dedupe_embeddings

    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 32))
    pert = base + 0.1 * rng.standard_normal((40, 32))  # cos ~0.97 pairs
    V = np.vstack([base, pert])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "vec_id long, embedding array<double>",
    )
    docs = spark.createDataFrame(
        [(i, f"doc {i}", "src") for i in range(len(V))],
        "doc_id long, text string, source string",
    )
    exact = {r.doc_id for r in dedupe_embeddings(docs, emb, 0.9).collect()}
    lsh = {r.doc_id for r in dedupe_embeddings(docs, emb, 0.9, method="lsh").collect()}
    # every planted duplicate (ids 40..79) drops in the exact pass
    assert exact == set(range(40))
    # LSH keeps a superset (recall < 1) but catches nearly all
    assert exact <= lsh and len(lsh) <= len(exact) + 2


def test_ivf_codebook_sample_filter_is_bit_identical(emb, spark):
    """The scan-side hash-prefix filter that bounds the codebook sample
    sort (round-4 VERDICT wrong #1) must select EXACTLY the same rows as
    the unfiltered top-kmeans_sample-by-md5 formulation, so codebooks are
    bit-identical across the two plans."""
    import numpy as np
    from pyspark.sql import functions as F

    from melody_join_spark.operators.similarity import ivf_build

    # force the filtered path: table (200 rows in the fixture) must exceed
    # 4 * kmeans_sample -> kmeans_sample small
    ks = 32
    n = emb.count()
    assert n > 4 * ks
    idx_filtered = ivf_build(emb, nlist=4, kmeans_sample=ks)
    # unfiltered formulation, computed directly
    key = F.md5(F.col("vec_id").cast("string"))
    rows = (
        emb.select("vec_id", "embedding")
        .orderBy(key, F.col("vec_id"))
        .limit(ks)
        .collect()
    )
    from melody_join_spark.operators.similarity import _spherical_kmeans

    X = np.array([r[1] for r in rows], dtype=np.float64)
    C = _spherical_kmeans(X, 4, 5, 42)
    assert np.array_equal(idx_filtered.codebook, C)


def test_ivf_topk_accepts_prebuilt_index(emb):
    """ivf_topk(index=...) must skip the per-call rebuild and return the
    same result as the inline build."""
    from melody_join_spark.operators.similarity import ivf_build, ivf_topk

    qs = emb.orderBy("vec_id").limit(6)
    inline = ivf_topk(emb, qs, k=5, nlist=16, nprobe=4, round_to=6).collect()
    idx = ivf_build(emb, nlist=16)
    reused = ivf_topk(
        emb, qs, k=5, nlist=16, nprobe=4, round_to=6, index=idx
    ).collect()
    assert sorted(map(tuple, reused)) == sorted(map(tuple, inline))

def test_lsh_banding_low_recall_warning():
    """When the band clamp binds and the >= 0.99 recall target is NOT
    attainable at safe bucket occupancy, the derivation must say so loudly
    (round-6 VERDICT next #5 / ADVICE similarity.py:626): fires at
    (20k, 0.4) naming the achievable recall, stays silent at (20k, 0.95)
    where the target is met, and fires for the ADVICE example of a
    moderate threshold at very large N (10M, 0.8)."""
    import warnings

    from melody_join_spark.operators.similarity import (
        _derive_lsh_banding,
        _lsh_banding_recall,
    )

    with pytest.warns(UserWarning, match="recall"):
        _derive_lsh_banding(20_000, 0.4)
    with pytest.warns(UserWarning, match="recall"):
        _derive_lsh_banding(10_000_000, 0.8)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning -> failure
        _derive_lsh_banding(20_000, 0.95)
    # the warned number is the collision-curve achievable recall, and the
    # clamp is what binds it
    _, b_low, rec_low = _lsh_banding_recall(20_000, 0.4)
    assert b_low == 64 and rec_low < 0.99
    _, _, rec_high = _lsh_banding_recall(20_000, 0.95)
    assert rec_high >= 0.99


def test_ivf_cosine_pairs_duplicate_ids_never_self_pair(spark):
    """Duplicate vec_ids in the input (two rows sharing an id land in the
    same inverted list) must not emit rid == sid rows — the documented
    contract is output ⊆ cosine_pairs, which enforces rid < sid (round-6
    ADVICE similarity.py:826)."""
    from melody_join_spark.operators.similarity import ivf_cosine_pairs

    rng = np.random.default_rng(23)
    V = rng.standard_normal((20, 8))
    # every id appears twice, with DIFFERENT vectors
    rows = [(i % 10, [float(x) for x in V[i]]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ivf_cosine_pairs(emb, -1.0, nlist=2, nprobe=2).collect()
    assert out, "threshold -1 keeps every cross pair"
    assert all(r.rid < r.sid for r in out)

def test_similarity_auto_dispatch_boundaries():
    """Pin the method='auto' dispatch to the MEASURED crossovers
    (round-6 VERDICT next #1, SCALE.md): exact below ~10^4 always and as
    the recall-1 fallback below ~10^6 when the threshold sits under the
    sketch recall floor; IVF everywhere else (measured winner at 20k,
    100k AND the 10^6 point, where derived-banding LSH did not finish —
    so LSH is explicit-only); past 10^6 at unsketchable thresholds IVF is
    chosen with a loud reduced-recall warning."""
    from melody_join_spark.operators.similarity import (
        choose_similarity_method,
        derive_nprobe,
    )

    assert choose_similarity_method(5_000, 0.95) == "exact"
    assert choose_similarity_method(5_000, 0.2) == "exact"
    # the two VERDICT-named points: IVF at 100k/0.95, exact at 20k/0.4
    assert choose_similarity_method(100_000, 0.95) == "ivf"
    assert choose_similarity_method(20_000, 0.4) == "exact"
    assert choose_similarity_method(20_000, 0.95) == "ivf"
    # LSH is explicit-only: at the measured 10^6 point IVF finished in
    # 657 s at recall 1.000 while derived-banding LSH exhausted >80 GB of
    # candidate-shuffle spill (SCALE.md round 7)
    assert choose_similarity_method(1_000_000, 0.95) == "ivf"
    assert choose_similarity_method(10_000_000, 0.95) == "ivf"
    # ADVICE clamp case: at 10M/0.8 LSH cannot reach the target -> IVF,
    # loudly (exact is infeasible at that N)
    with pytest.warns(UserWarning, match="recall"):
        assert choose_similarity_method(10_000_000, 0.8) == "ivf"

    # threshold-derived nprobe: reproduces the measured operating points
    # (2 at 0.95 where recall was 1.000; more probes at wider caps, where
    # fixed 2 measured only 0.689), floored at 2, capped at nlist
    assert derive_nprobe(141, 0.95) == 2      # sqrt(20k) codebook
    assert derive_nprobe(316, 0.95) == 2      # sqrt(100k) codebook
    assert derive_nprobe(141, 0.4) == 7
    assert derive_nprobe(141, 0.4) > derive_nprobe(141, 0.8) >= 2
    assert derive_nprobe(8, -1.0) == 8        # cap: never exceeds nlist


def test_similar_pairs_auto_small_n_is_exact(emb):
    """At fixture scale (500 vectors) auto must dispatch to the exact plan
    and reproduce cosine_pairs bit for bit — the 'existing hashes
    unchanged' guarantee for the dedup_embedding gate query."""
    from melody_join_spark.operators.similarity import similar_pairs

    exact = {
        (r.rid, r.sid): r.cosine for r in cosine_pairs(emb, 0.25).collect()
    }
    auto = {
        (r.rid, r.sid): r.cosine
        for r in similar_pairs(emb, 0.25, method="auto").collect()
    }
    assert auto == exact  # same pairs AND the same doubles

def test_similar_pairs_explicit_routes_are_subsets(emb):
    """The front door's explicit methods route to the right plans: both
    sketch routes return subsets of the exact pair set with exact cosines
    (recall < 1 is allowed; wrong values are not)."""
    from melody_join_spark.operators.similarity import similar_pairs

    exact = {
        (r.rid, r.sid): r.cosine
        for r in similar_pairs(emb, 0.25, method="exact").collect()
    }
    for m in ("ivf", "lsh"):
        got = {
            (r.rid, r.sid): r.cosine
            for r in similar_pairs(emb, 0.25, method=m).collect()
        }
        assert set(got) <= set(exact), m
        assert all(got[p] == pytest.approx(exact[p], abs=1e-9) for p in got), m


def test_jaccard_tokens_spread_guard(spark):
    """Regression pin for the round-7 minhash fix: the verification token
    relation must never execute its tokenize as a single task when the
    corpus arrives as one split — `_verify_jaccard`'s sizing agg runs the
    whole upstream chain, so a 1-partition input would serialize the
    shingle work on one core (measured 4-6.5 s of one-core wall inside
    dedup_minhash_lsh at sf0.1)."""
    from melody_join_spark.operators.dedup import _jaccard_tokens

    docs = spark.createDataFrame(
        [(i, f"document number {i} with several words") for i in range(300)],
        "doc_id long, text string",
    ).coalesce(1)
    assert docs.rdd.getNumPartitions() == 1
    toks = _jaccard_tokens(docs, "doc_id", "text", 5)
    par = spark.sparkContext.defaultParallelism
    assert toks.rdd.getNumPartitions() >= max(2, par // 2)


def test_spread_skips_wide_plans_without_execution(spark):
    """Round-11 optimization pin: `spread` must NOT probe `.rdd` on an
    input whose plan already contains a wide operator — under AQE that
    probe EAGERLY executes every upstream shuffle stage, so the LM trainer
    spreading its cleaned (aggregated) input re-ran the whole pipeline
    chain once per training pass (measured +8 s on pipeline_llm_prep at
    sf0.1).  Wide inputs come back untouched (they are already partitioned
    by spark.sql.shuffle.partitions); narrow single-split inputs still
    spread (the test above)."""
    from melody_join_spark.operators._width import spread

    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [(i % 7, f"text {i}") for i in range(100)], "k long, text string"
    )
    agg = docs.groupBy("k").agg(F.count("*").alias("c"))
    jobs_before = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    out = spread(agg)
    assert out is agg  # untouched, no repartition inserted
    jobs_after = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    assert jobs_after == jobs_before  # and no eager AQE stage execution
    joined = docs.join(agg, "k")
    assert spread(joined) is joined


def test_derive_nprobe_recall_target_properties():
    """recall_target escalation (round-7 VERDICT next #3): monotone in the
    target, never below the base derivation, exhaustive (nprobe=nlist) at
    target 1.0, and the base derivation unchanged when no target is given.
    The calibration-point prediction is pinned: at the measured anchor
    (nlist 141, theta 0.4: base 7 at recall 0.942) a 0.99 target escalates
    to 12 probes under the geometric miss-decay model — the measured
    recall-vs-nprobe curve (SCALE.md round 8) validates that 12 probes
    meets 0.99 at that operating point."""
    from melody_join_spark.operators.similarity import derive_nprobe

    assert derive_nprobe(141, 0.4) == 7                 # base unchanged
    assert derive_nprobe(141, 0.4, None) == 7
    assert derive_nprobe(141, 0.4, 1.0) == 141          # exhaustive
    assert derive_nprobe(141, 0.4, 0.99) == 12          # calibration point
    # monotone in the target, floored at the base
    prev = 0
    for t in (0.5, 0.9, 0.942, 0.99, 0.999, 0.9999, 1.0):
        np_t = derive_nprobe(141, 0.4, t)
        assert np_t >= derive_nprobe(141, 0.4)
        assert np_t >= prev
        prev = np_t
    # easier thresholds escalate too (conservative: anchor miss is the
    # hardest regime's) but never past nlist
    assert 2 <= derive_nprobe(141, 0.95, 0.99) <= 141
    assert derive_nprobe(8, 0.4, 0.99999) == 8          # nlist cap binds
    # below-0.4 thresholds ride the harder measured anchor (round-9: the
    # 0.4 anchor's target-0.99 pick measured only 0.9712 at theta 0.25;
    # the 0.201 anchor picks nprobe 23, above the measured 0.99 crossing)
    assert derive_nprobe(141, 0.25) == 8                # base unchanged
    assert derive_nprobe(141, 0.25, 0.99) == 23
    assert derive_nprobe(141, 0.25, 0.999) == 35
    # anchor switch is continuous in ordering: harder threshold never
    # probes LESS for the same target
    assert derive_nprobe(141, 0.25, 0.99) >= derive_nprobe(141, 0.4, 0.99)
    # below the lowest measured point the model REFUSES (round-9 VERDICT
    # next #5): recall_target escalates straight to exhaustive probing
    # (the recall_target=1.0 route), loudly — never a silent model number.
    # A caller wanting a cheaper probe count there must pass nprobe
    # explicitly (ivf_cosine_pairs(nprobe=...) bypasses derive_nprobe).
    with pytest.warns(UserWarning, match="EXHAUSTIVE"):
        assert derive_nprobe(141, 0.1, 0.99) == 141
    with pytest.warns(UserWarning, match="EXHAUSTIVE"):
        assert derive_nprobe(316, 0.2, 0.95) == 316
    # the base derivation (no target) still returns the geometric pick —
    # the refusal is about unmeasured RECALL PROMISES, not about running
    # IVF at low thresholds per se
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")
        assert derive_nprobe(141, 0.1) >= 2
    # at the measured floor itself the model still applies
    assert derive_nprobe(141, 0.25, 0.99) == 23


def test_choose_similarity_method_recall_target():
    """recall_target >= 1.0 forces the exact plan wherever feasible (the
    pre-round-7 dedupe_embeddings default semantics, round-7 ADVICE #2)
    and escalates to exhaustive-probe IVF with a loud warning past the
    exact ceiling."""
    from melody_join_spark.operators.similarity import (
        choose_similarity_method,
    )

    # the IVF mid-regime flips back to exact under a total-recall demand
    assert choose_similarity_method(100_000, 0.95) == "ivf"
    assert choose_similarity_method(100_000, 0.95, recall_target=1.0) == "exact"
    assert choose_similarity_method(1_000_000, 0.95, recall_target=1.0) == "exact"
    # fractional targets keep the sub-quadratic route (nprobe escalates)
    assert choose_similarity_method(100_000, 0.95, recall_target=0.99) == "ivf"
    # past the exact-feasible ceiling: IVF, loudly, exhaustive probing
    with pytest.warns(UserWarning, match="EXHAUSTIVE"):
        assert (
            choose_similarity_method(10_000_000, 0.95, recall_target=1.0)
            == "ivf"
        )


def test_count_is_cheap_plan_classifier(spark, emb):
    """The auto dispatch's double-scan guard: metadata-class plans (bare
    or column-pruned scans, caches, local rows) count for free; anything
    with real upstream compute (python UDF stages, joins, aggregates,
    filters) must be persisted before counting."""
    from melody_join_spark.operators.similarity import _count_is_cheap

    raw = spark.read.parquet(f"{SF}/embeddings.parquet")
    assert _count_is_cheap(raw)
    assert _count_is_cheap(raw.select("vec_id", "embedding"))
    assert _count_is_cheap(emb)  # module fixture: cached scan
    # createDataFrame arrives as LogicalRDD — provenance unknown to the
    # plan, so the guard stays conservative (persisting driver-local rows
    # is trivial anyway)
    local = spark.createDataFrame([(1, [0.5])], "vec_id long, embedding array<double>")
    assert not _count_is_cheap(local)
    assert not _count_is_cheap(raw.where(F.col("vec_id") > 10))
    assert not _count_is_cheap(raw.join(raw.select("vec_id"), "vec_id"))
    assert not _count_is_cheap(raw.groupBy("vec_id").count())

    @F.udf("array<double>")
    def ident(v):
        return v

    assert not _count_is_cheap(raw.select("vec_id", ident("embedding").alias("embedding")))


def test_similar_pairs_auto_derived_relation_single_scan(spark, emb):
    """Round-7 VERDICT next #2: method='auto' on a DERIVED (non-scan)
    embedding relation must execute the upstream plan exactly ONCE — the
    dispatch count persists the input first, so the chosen join reads the
    cache instead of re-running the upstream (previously a silent double
    scan at 100-TB scale).  An accumulator inside the upstream UDF counts
    actual row executions."""
    from melody_join_spark.operators.similarity import (
        cosine_pairs,
        similar_pairs,
    )

    n = emb.count()
    acc = spark.sparkContext.accumulator(0)

    def _tag(v):
        acc.add(1)
        return v

    tag = F.udf(_tag, "array<float>")
    derived = emb.select("vec_id", tag("embedding").alias("embedding"))
    out = similar_pairs(derived, 0.25, method="auto")
    got = {(r.rid, r.sid): r.cosine for r in out.collect()}
    assert acc.value == n, "upstream executed more than once"
    # and the result is still the exact plan's, bit for bit
    exact = {(r.rid, r.sid): r.cosine for r in cosine_pairs(emb, 0.25).collect()}
    assert got == exact
    # n= hint skips the count entirely: no persist, same result
    acc2 = spark.sparkContext.accumulator(0)

    def _tag2(v):
        acc2.add(1)
        return v

    tag2 = F.udf(_tag2, "array<float>")
    derived2 = emb.select("vec_id", tag2("embedding").alias("embedding"))
    got2 = {
        (r.rid, r.sid): r.cosine
        for r in similar_pairs(derived2, 0.25, method="auto", n=n).collect()
    }
    assert got2 == exact
    # with n= the front door does not count or persist: the self-join's
    # sides execute the upstream directly (how many times depends on the
    # physical join — the caller opted out of the materialization)
    assert acc2.value >= n


def test_cross_width_derivation(spark, emb):
    """cosine_pairs' task width is derived from its N^2/2 pairs through the
    one width helper, not the old literal 32 (round-8 VERDICT next #5): one
    task per CROSS_PAIRS pair evals, at least one, capped at WAVES waves;
    without a count hint, one wave."""
    from melody_join_spark.operators._width import CROSS_PAIRS, WAVES, task_width

    dp = spark.sparkContext.defaultParallelism

    def width(n):  # cosine_pairs' work: N^2/2 pairs, unknown without N
        return task_width(spark, None if n is None else n * n / 2.0, CROSS_PAIRS)

    def derived(n):
        return min(max(1, -(-(n * n // 2) // CROSS_PAIRS)), WAVES * dp)

    # no count hint -> exactly the cluster width (the old local[32] shape)
    assert width(None) == dp
    # small N -> one task: 5e5 pair evals do not repay a second task
    assert width(1000) == 1
    # 6400 vectors need 11 tasks of CROSS_PAIRS each
    assert width(6400) == derived(6400) == min(11, WAVES * dp)
    # huge N -> widens past one wave but never beyond the wave cap:
    # 10^6 vectors = 5e11 pairs would need 2.5e5 tasks
    n = 10**6
    w = width(n)
    assert w == derived(n)
    assert w == WAVES * dp  # the cap binds at 10^6 on any <=31k-core cluster
    # plan shape: the width actually lands in the physical plan
    df = cosine_pairs(emb, 0.25, n=n)
    assert f"RoundRobinPartitioning({w}" in df._jdf.queryExecution().executedPlan().toString() or (
        df.rdd.getNumPartitions() >= dp
    )
    # results are width-independent (theta 0.25 is non-vacuous on sf0.001)
    a = {(r.rid, r.sid) for r in cosine_pairs(emb, 0.25).collect()}
    b = {(r.rid, r.sid) for r in cosine_pairs(emb, 0.25, n=10**6).collect()}
    assert a and a == b


def test_decontaminate_flags_planted_overlap(spark):
    """Benchmark decontamination (round 10): train docs sharing a 13-gram
    with an eval prompt are flagged with the DISTINCT shared-gram count;
    shorter overlaps and sub-n documents are not."""
    from melody_join_spark.operators.dedup import decontaminate

    words = [f"w{i}" for i in range(40)]
    leaked = " ".join(words)                     # 40 words
    partial = " ".join(words[:12]) + " zzz"      # only 12 shared in a row
    clean = " ".join(f"x{i}" for i in range(40))
    tiny = "a b c"                               # < n words: no grams
    train = spark.createDataFrame(
        [(1, leaked), (2, partial), (3, clean), (4, tiny),
         (5, "pad " + leaked)],                  # shifted copy still shares
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(100, " ".join(words[5:25])),           # 20 words from the leak
         (101, "q r s t u v w x y z q2 r2 s2")],  # 13 words, no overlap
        "eval_id long, text string",
    )
    res = decontaminate(train, evals, n=13)
    got = {(r.doc_id, r.eval_id): r.shared_ngrams for r in res.collect()}
    # eval 100 has 20-13+1 = 8 distinct 13-grams, all inside docs 1 and 5
    assert got == {(1, 100): 8, (5, 100): 8}

    # pure-python cross-check of the count for doc 1 / eval 100
    def grams(s, n=13):
        w = s.lower().split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    assert len(grams(leaked) & grams(" ".join(words[5:25]))) == 8
    # the eval side is broadcast: no shuffle of the train n-gram stream
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_scrub_contamination_semantics(spark):
    """SCRUB policy: leaked windows removed (overlaps merged), clean text
    untouched (canonicalized), counts exact — vs a pure-python reference."""
    from melody_join_spark.operators.dedup import scrub_contamination

    words = [f"w{i}" for i in range(40)]
    leaked = " ".join(words)
    clean = " ".join(f"x{i}" for i in range(40))
    train = spark.createDataFrame(
        [(1, leaked), (2, clean), (3, "PAD " + leaked)],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(100, " ".join(words[5:25]))], "eval_id long, text string"
    )
    got = {
        r.doc_id: (r.text_clean, r.n_hits, r.n_words_removed)
        for r in scrub_contamination(train, evals, n=13).collect()
    }

    def scrub(text, eval_texts, n=13):
        w = text.lower().split()
        eg = set()
        for t in eval_texts:
            ew = t.lower().split()
            eg |= {" ".join(ew[i : i + n]) for i in range(len(ew) - n + 1)}
        H = [i for i in range(len(w) - n + 1)
             if " ".join(w[i : i + n]) in eg]
        R = set()
        for i in H:
            R |= set(range(i, i + n))
        kept = [x for k, x in enumerate(w) if k not in R]
        return " ".join(kept), len(H), len(R)

    ev = [" ".join(words[5:25])]
    for doc_id, text in [(1, leaked), (2, clean), (3, "PAD " + leaked)]:
        assert got[doc_id] == scrub(text, ev), doc_id
    # doc 1: hits at 5..12 (8 overlapping hits) remove words 5..24 = 20
    assert got[1][1] == 8 and got[1][2] == 20
    # clean doc: untouched canonical text
    assert got[2] == (clean, 0, 0)


def test_word_ngram_spark_duckdb_parity(spark):
    """The decontaminate/scrub gates hash-compare against DuckDB twins, so
    the tokenize+n-gram expressions must agree EXACTLY across engines on
    adversarial whitespace/case/unicode shapes — pin the parity here so a
    regex-semantics drift fails loudly instead of as an oracle mismatch."""
    import duckdb

    from melody_join_spark.operators.dedup import _duck_word_ngrams, word_ngrams

    texts = [
        "a b c d e",                          # shorter than n
        "one two three four five six",        # exactly n
        "x " * 20,                            # trailing whitespace
        "  leading and   multiple   spaces ", # irregular gaps
        "Tabs\tand\nnewlines mixed\t in",     # \s variants
        "CASE Case case MiXeD case repeat case repeat case",
        "héllo wörld ünicode tokens repeat héllo wörld ünicode tokens",
        "",                                   # empty
        "punct, stays. attached! to? words; here: ok (parens) [too]",
    ]
    n = 3
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r.id: sorted(r.g)
        for r in df.select(
            "id", word_ngrams(F.col("text"), n).alias("g")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    want = {
        i: sorted(g)
        for i, g in con.execute(
            f"SELECT id, {_duck_word_ngrams('text', n)} FROM t"
        ).fetchall()
    }
    assert got == want


def test_word_ngram_windows_shared_derivation(spark):
    """Round-10 ADVICE: scrub_contamination used to rebuild the positional
    n-gram expression inline (a copy of word_ngrams minus array_distinct);
    both now derive from word_ngram_windows, pinned here: element i of the
    positional form IS the window at word i+1, and word_ngrams is exactly
    its distinct set — on the same adversarial shapes as the parity test."""
    from melody_join_spark.operators.dedup import (
        word_ngram_windows,
        word_ngrams,
    )

    texts = [
        "a b c d e",
        "one two three four five six",
        "repeat one two repeat one two repeat one two",
        "  leading and   multiple   spaces ",
        "",
    ]
    n = 3
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    rows = df.select(
        "id",
        word_ngram_windows(F.col("text"), n).alias("win"),
        word_ngrams(F.col("text"), n).alias("dist"),
    ).collect()
    for r in rows:
        toks = texts[r.id].strip().lower().split()
        want_windows = (
            [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            if len(toks) >= n and toks != [""]
            else []
        )
        assert r.win == want_windows, (r.id, r.win)
        # distinct form == set of the positional form, first-seen order
        seen: list[str] = []
        for g in r.win:
            if g not in seen:
                seen.append(g)
        assert r.dist == seen, (r.id, r.dist)


def test_greedy_fill_matches_per_row_loop():
    """The vectorized O(bins) fill (round-11) must be bit-identical to the
    per-row greedy recurrence it replaced — property-checked on random
    token sequences including over-context chunks, zeros, and empty/single
    inputs."""
    import numpy as np

    from melody_join_spark.operators.corpus import _greedy_fill

    def per_row(toks, c):
        bins = np.empty(len(toks), dtype=np.int64)
        fill, b = 0, 0
        for k, t in enumerate(toks):
            if k > 0 and fill + t > c:
                b += 1
                fill = 0
            fill += int(t)
            bins[k] = b
        return bins

    rng = np.random.default_rng(7)
    cases = [
        np.array([], dtype=np.int64),
        np.array([5], dtype=np.int64),
        np.array([300], dtype=np.int64),          # over-context alone
        np.array([0, 0, 0], dtype=np.int64),      # zero-token chunks
        np.array([100, 100, 56, 1], dtype=np.int64),  # exact fit boundary
        np.array([300, 1, 300, 1], dtype=np.int64),
    ]
    for _ in range(20):
        n = int(rng.integers(1, 400))
        cases.append(rng.integers(0, 320, size=n).astype(np.int64))
    for toks in cases:
        got = _greedy_fill(toks, 256)
        want = per_row(toks, 256)
        assert np.array_equal(got, want), (toks[:16], got[:16], want[:16])


def test_pack_sequences_greedy_semantics(spark):
    """Greedy sequential fill: exact-fit closes at the boundary, overflow
    opens a new bin, an over-context chunk gets a bin of its own, groups
    pack independently — vs a pure-python reference."""
    from melody_join_spark.operators.corpus import pack_sequences

    rows = [
        # (id, chunk_id, n_tokens) — group = id % 2
        (0, 0, 100), (0, 1, 100), (0, 2, 56),   # 256 exact fit -> bin 0
        (0, 3, 1),                               # boundary closed -> bin 1
        (2, 0, 300),                             # over-context -> own bin 2
        (2, 1, 10),                              # after the giant -> bin 3
        (1, 0, 200), (1, 1, 100),                # grp 1: overflow -> bins 0,1
    ]
    df = spark.createDataFrame(rows, "id long, chunk_id long, n_tokens long")
    got = {
        (r.id, r.chunk_id): (r.grp, r.bin)
        for r in pack_sequences(df, context_len=256, num_groups=2).collect()
    }

    def ref(rows, c, g):
        out = {}
        by_grp = {}
        for i, k, t in sorted(rows):
            by_grp.setdefault(i % g, []).append((i, k, t))
        for grp, rs in by_grp.items():
            fill, b = 0, 0
            for j, (i, k, t) in enumerate(rs):
                if j > 0 and fill + t > c:
                    b += 1
                    fill = 0
                fill += t
                out[(i, k)] = (grp, b)
        return out

    assert got == ref(rows, 256, 2)
    # spot-pin the scenario comments above
    assert got[(0, 2)] == (0, 0) and got[(0, 3)] == (0, 1)
    assert got[(2, 0)] == (0, 2) and got[(2, 1)] == (0, 3)
    assert got[(1, 0)] == (1, 0) and got[(1, 1)] == (1, 1)


def test_semantic_dedup_within_cluster_rule(spark, docs, emb):
    """semantic_dedup == anti-join of the larger ids of
    ivf_cosine_pairs(nprobe=1) — the SemDeDup composition contract — and
    keeps a SUPERSET of the all-pairs dedupe_embeddings at the same
    threshold (cluster-local candidates are a subset of all pairs)."""
    from melody_join_spark.operators.dedup import (
        dedupe_embeddings,
        semantic_dedup,
    )
    from melody_join_spark.operators.similarity import ivf_cosine_pairs

    kept = {
        r.doc_id for r in semantic_dedup(docs, emb, threshold=0.35).collect()
    }
    pairs = ivf_cosine_pairs(emb, 0.35, nprobe=1).collect()
    expect = {r.doc_id for r in docs.collect()} - {r.sid for r in pairs}
    assert kept == expect and len(kept) < docs.count()
    exact_kept = {
        r.doc_id
        for r in dedupe_embeddings(
            docs, emb, threshold=0.35, method="exact"
        ).collect()
    }
    assert exact_kept <= kept


def test_semantic_dedup_planted_duplicates(spark):
    """Planted near-identical vectors (cos ~0.97) drop: a near-dup pair
    co-locates in the same primary cluster unless it straddles a boundary
    (the SemDeDup-accepted miss), so the drop count sits at-or-near the
    planted 40."""
    import numpy as np

    from melody_join_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 32))
    pert = base + 0.1 * rng.standard_normal((40, 32))
    V = np.vstack([base, pert])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "vec_id long, embedding array<double>",
    )
    docs = spark.createDataFrame(
        [(i, f"doc {i}", "src") for i in range(len(V))],
        "doc_id long, text string, source string",
    )
    kept = {r.doc_id for r in semantic_dedup(docs, emb, 0.9).collect()}
    # originals all survive (smaller ids); most perturbed copies drop
    assert set(range(40)) <= kept
    assert len(kept) <= 40 + 6  # >= 34 of 40 planted dups caught


def test_dedup_paragraphs_semantics_and_oracle(spark):
    """Paragraph-level boilerplate removal: case-insensitive cross-doc
    lines vanish, in-doc repetition alone never fires (that axis belongs
    to repetition_filter), unique content survives in original order, and
    the frame matches the DuckDB twin bit-for-bit (incl. empty /
    whitespace-only / null docs)."""
    import duckdb

    from melody_join_spark.operators.dedup import (
        dedup_paragraphs,
        dedup_paragraphs_oracle_sql,
    )

    docs = [
        (1, "COOKIE BANNER\nunique alpha content\nnav | bar"),
        (2, "cookie banner\nunique beta content\nnav | bar"),
        (3, "totally original document\nwith two lines"),
        (4, "nav | bar\nnav | bar\nonly nav here"),
        (5, ""),
        (6, None),
        (7, "  \n\t\n"),
        (8, "repeat me\nrepeat me\nin one doc only"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.text_clean, r.n_paragraphs, r.n_removed)
        for r in dedup_paragraphs(df).collect()
    }
    # boilerplate stripped, case-insensitively, from every carrier
    assert got[1] == ("unique alpha content", 3, 2)
    assert got[2] == ("unique beta content", 3, 2)
    assert got[3] == ("totally original document\nwith two lines", 2, 0)
    assert got[4] == ("only nav here", 3, 2)
    # empty / null / whitespace-only -> zero-paragraph rows, not NULLs
    for i in (5, 6, 7):
        assert got[i] == ("", 0, 0)
    # in-doc repetition alone is NOT cross-corpus boilerplate
    assert got[8] == ("repeat me\nrepeat me\nin one doc only", 3, 0)

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(dedup_paragraphs_oracle_sql()).fetchall()
    }
    assert got == want


def test_dedup_paragraphs_incremental_against_corpus(spark):
    """against=: a new batch is scrubbed of the EXISTING corpus's
    boilerplate (lines in >= min_docs corpus documents); new-batch-only
    repeats do not fire at admission."""
    from melody_join_spark.operators.dedup import dedup_paragraphs

    corpus = spark.createDataFrame(
        [
            (1, "nav | bar\nreal old content one"),
            (2, "nav | bar\nreal old content two"),
            (3, "corpus-only line"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, "nav | bar\nfresh insight"),          # corpus boilerplate
            (101, "new spam\nactual words"),
            (102, "new spam\nother words"),             # batch-only repeat
            (103, "corpus-only line\nplus something"),  # 1 corpus doc < 2
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text_clean, r.n_removed)
        for r in dedup_paragraphs(batch, against=corpus).collect()
    }
    assert got[100] == ("fresh insight", 1)
    # 'new spam' repeats only within the batch -> kept at admission
    assert got[101] == ("new spam\nactual words", 0)
    assert got[102] == ("new spam\nother words", 0)
    # 'corpus-only line' appears in ONE corpus doc < min_docs -> kept
    assert got[103] == ("corpus-only line\nplus something", 0)


def test_semantic_dedup_centroid_keep_rule(spark, docs, emb):
    """keep='centroid' (the SemDeDup paper's rule): per connected
    component of cluster-local near-dup pairs, EXACTLY the member with
    the lowest centroid cosine survives (ties by id); singletons
    untouched; same total component coverage as the greedy rule."""
    import numpy as np

    from melody_join_spark.operators.dedup import (
        _centroid_sims,
        dup_clusters,
        semantic_dedup,
    )
    from melody_join_spark.operators.similarity import ivf_cosine_pairs

    kept = {
        r.doc_id
        for r in semantic_dedup(
            docs, emb, threshold=0.35, keep="centroid"
        ).collect()
    }
    pairs = ivf_cosine_pairs(emb, 0.35, nprobe=1)
    comps = dup_clusters(pairs, id_col="id").collect()
    sims = {
        r._sid: r._csim
        for r in _centroid_sims(
            emb, "vec_id", "embedding", None, 4096, 5, 42
        ).collect()
    }
    by_comp: dict = {}
    for r in comps:
        by_comp.setdefault(r.cluster_id, []).append(r.id)
    all_ids = {r.doc_id for r in docs.collect()}
    expect_dropped = set()
    for members in by_comp.values():
        rep = min(members, key=lambda i: (sims[i], i))
        expect_dropped |= set(members) - {rep}
    assert kept == all_ids - expect_dropped
    assert expect_dropped  # non-trivial at this sf / theta
    # the paper's rule dedups AT LEAST as hard as the greedy one: greedy
    # keeps every local-minimum node (no smaller-id neighbor), the
    # component closure keeps exactly ONE member per component
    greedy_kept = {
        r.doc_id
        for r in semantic_dedup(docs, emb, threshold=0.35).collect()
    }
    assert len(kept) <= len(greedy_kept)
