"""The workloads: how each prepares its inputs, what one operation is,
and the reference each operation's output is checked against.

Why each workload exists, and which layer it loads or bypasses:

- ``melody_d3``: EMD threshold self-join, ``emd_join_nd(strategy="grid")``
  at theta 0.4 on d=3, 27-bin lineitem histograms (``lineitem_histograms_3d``)
  of one seed-chosen customer nation, a seeded sample of ``MELODY_ROWS``
  rows written to parquet during set-up.  The kernel cascade and the
  ``mapInPandas`` runner do almost all the work, so kernel and runner
  changes show here.  Reference: the independent ``bruteforce`` strategy.
- ``dedup_jaccard``: exact PPJoin Jaccard self-join,
  ``jaccard_pairs(threshold=0.8, ngram=5)``, on a seeded sample of
  ``DEDUP_DOCS`` documents from a generated 5,000-document corpus drawn like
  the sf0.1 ``documents`` table.  Pure Spark SQL (tokenize, window,
  ``collect_list``, shuffle, broadcast verify) plus the persist/release of
  ``cache.py``; no EMD kernel and no Python UDF, so kernel and runner changes
  should not move it.  Reference: exact set Jaccard in numpy, itself checked
  against the DuckDB twin ``jaccard_pairs_oracle_sql`` by the smoke test
  (the twin is a full token self-join, 39 s on 2.5k documents on 4 cores,
  too slow to run in every benchmark run).
- The ``emd_index`` layer (build once, range-search many times) is probed
  by the traced run of ``melody_d3`` on that workload's own input: one
  ``emd_index_build`` and ``INDEX_SEARCHES`` searches of ``INDEX_BATCH``
  seed-drawn rows at theta 0.4, each checked against the melody_d3
  reference.  It has no end-to-end workload of its own: see README.md.

Sizes are smaller than the full sf0.1 nation (5.8k rows, 12 s per join) so
that a run, set-up and warm-up included, stays near a minute on a 4-core
host.  Every input is a pure function of the seed.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

MELODY_THETA = 0.4
MELODY_ROWS = 900
DEDUP_THRESHOLD = 0.8
DEDUP_NGRAM = 5
DEDUP_DOCS = 1200
INDEX_BATCH = 8
INDEX_SEARCHES = 5
# emd values are compared to this absolute tolerance: both sides solve the
# same LP, in batches of different shapes
EMD_TOL = 1e-6


def _write_hist(hist: pd.DataFrame, path: str) -> None:
    pq.write_table(
        pa.table(
            {
                "id": hist["id"].to_numpy(np.int64),
                "w": pa.array([np.asarray(w, np.float64) for w in hist["w"]]),
            }
        ),
        path,
    )


def _seeded_sample(hist: pd.DataFrame, rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``n`` rows chosen by ``rng``; rows are ordered by id first, because
    the order in which Spark returns them is not fixed."""
    hist = hist.sort_values("id", ignore_index=True)
    pick = np.sort(rng.choice(len(hist), size=min(n, len(hist)), replace=False))
    return hist.iloc[pick].reset_index(drop=True)


def same_pairs(out: pd.DataFrame, ref: pd.DataFrame, keys: list[str], val: str) -> bool:
    """True when ``out`` holds exactly the key pairs of ``ref`` and every
    value agrees within EMD_TOL."""
    if len(out) != len(ref):
        return False
    a = out.sort_values(keys, ignore_index=True)
    b = ref.sort_values(keys, ignore_index=True)
    for k in keys:
        if not np.array_equal(a[k].to_numpy(np.int64), b[k].to_numpy(np.int64)):
            return False
    return bool(np.all(np.abs(a[val].to_numpy() - b[val].to_numpy()) <= EMD_TOL))


class Workload:
    """One workload: seeded inputs, one operation, its reference check."""

    name = ""
    # untimed operations before the window opens, the same on every commit:
    # the first operation of a session costs 1.5-3.5x the steady state; the
    # JVM's share of the next ones keeps falling as its JIT warms (melody_d3:
    # 13.8, 6.6, 5.0, 5.0, 3.7 CPU-s in the JVM for operations 1-5)
    warmup_ops = 3

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.smoke = smoke
        self.scale = 0.01 if smoke else 1.0

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def prepare(self, spark, work_dir: str) -> dict[str, float]:
        raise NotImplementedError

    def reference(self, spark) -> None:
        raise NotImplementedError

    def op(self, spark, i: int, stats=None) -> pd.DataFrame:
        raise NotImplementedError

    def check(self, out: pd.DataFrame, i: int) -> bool:
        raise NotImplementedError

    def corrupt_reference(self) -> None:
        """Add a pair no operation returns, so every check must fail (smoke
        test of the output check)."""
        bogus = pd.DataFrame({c: [-1 - k] for k, c in enumerate(self.ref.columns)})
        self.ref = pd.concat([self.ref, bogus.astype(self.ref.dtypes)], ignore_index=True)


class MelodyD3(Workload):
    name = "melody_d3"

    def prepare(self, spark, work_dir: str) -> dict[str, float]:
        rng = self.rng(1)
        self.nation = int(rng.integers(datagen.NATIONS))
        tpch = os.path.join(work_dir, "tpch")
        datagen.write_tpch(datagen.make_tpch(rng, self.scale, self.nation), tpch)
        return self.load(spark, tpch, rng, work_dir)

    def load(self, spark, tpch: str, rng: np.random.Generator, work_dir: str) -> dict[str, float]:
        """The input: ``self.nation``'s histograms from the tables in
        ``tpch``, sampled by ``rng`` and written to parquet under ``work_dir``
        (``calibrate.py`` passes the real sf0.1 tables here)."""
        from melody_join_spark.plans.tpch_bridge import lineitem_histograms_3d

        t0 = time.perf_counter()
        hist = lineitem_histograms_3d(spark, tpch, nationkey=self.nation)
        hist = hist.select("id", "w").toPandas()
        hist_s = time.perf_counter() - t0
        self.nation_rows = len(hist)
        self.hist = _seeded_sample(hist, rng, 60 if self.smoke else MELODY_ROWS)
        path = os.path.join(work_dir, "hist3d.parquet")
        _write_hist(self.hist, path)
        self.input = spark.read.parquet(path)
        return {"tpch_bridge.hist_s": hist_s}

    def _join(self, strategy: str, stats=None) -> pd.DataFrame:
        from melody_join_spark.operators.emd_join_nd import emd_join_nd
        from melody_join_spark.plans.tpch_bridge import bin_points_3d

        return emd_join_nd(
            self.input, bin_points_3d(), MELODY_THETA, strategy=strategy, stats=stats
        ).toPandas()

    def reference(self, spark) -> None:
        self.ref = self._join("bruteforce")

    def op(self, spark, i: int, stats=None) -> pd.DataFrame:
        return self._join("grid", stats)

    def check(self, out: pd.DataFrame, i: int) -> bool:
        return same_pairs(out, self.ref, ["rid", "sid"], "emd")

    # the emd_index layer, probed by the traced run on this workload's input

    def build_index(self, work_dir: str) -> float:
        from melody_join_spark.operators.emd_index import emd_index_build
        from melody_join_spark.plans.tpch_bridge import bin_points_3d

        self.index_dir = os.path.join(work_dir, "index")
        t0 = time.perf_counter()
        self.index = emd_index_build(self.input, bin_points_3d(), self.index_dir)
        build_s = time.perf_counter() - t0
        # distinct query rows; batches shrink only on the smoke test's tiny input
        self.batch_size = max(1, min(INDEX_BATCH, len(self.hist) // INDEX_SEARCHES))
        pick = self.rng(5).choice(len(self.hist), self.batch_size * INDEX_SEARCHES, replace=False)
        self.queries = self.hist.iloc[pick].reset_index(drop=True)
        return build_s

    def _batch(self, k: int) -> pd.DataFrame:
        return self.queries.iloc[k * self.batch_size : (k + 1) * self.batch_size]

    def search(self, spark, k: int) -> pd.DataFrame:
        from melody_join_spark.operators.emd_index import emd_index_search

        queries = spark.createDataFrame(self._batch(k))
        return emd_index_search(self.index, queries, MELODY_THETA).toPandas()

    def check_search(self, out: pd.DataFrame, k: int) -> bool:
        """A range search must return every self-join pair of a query, from
        either side, as (qid, nid)."""
        both = pd.concat(
            [
                self.ref.rename(columns={"rid": "qid", "sid": "nid"}),
                self.ref.rename(columns={"sid": "qid", "rid": "nid"}),
            ],
            ignore_index=True,
        )
        want = both[both["qid"].isin(self._batch(k)["id"])]
        return same_pairs(out, want[["qid", "nid", "emd"]], ["qid", "nid"], "emd")

    def index_files(self) -> tuple[int, float]:
        """Parquet files the build wrote, and their total size in MB."""
        n, size = 0, 0
        for dirpath, _dirs, files in os.walk(self.index_dir):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
        return n, size / 2**20


def char_ngram_sets(texts: list[str], n: int) -> list[set[str]]:
    """Distinct character n-grams of the lowercased text; a text shorter
    than n is one token (the semantics of ``tokenize_char_ngrams``)."""
    out = []
    for t in texts:
        t = t.lower()
        out.append({t[i : i + n] for i in range(max(len(t) - (n - 1), 1))})
    return out


def jaccard_reference(ids: np.ndarray, texts: list[str]) -> pd.DataFrame:
    """Exact all-pairs Jaccard of character n-gram sets, by a dense
    document x token matrix product (counts are exact in float32)."""
    sets = char_ngram_sets(texts, DEDUP_NGRAM)
    vocab: dict[str, int] = {}
    cols = [[vocab.setdefault(g, len(vocab)) for g in s] for s in sets]
    X = np.zeros((len(sets), len(vocab)), np.float32)
    for row, c in enumerate(cols):
        X[row, c] = 1.0
    inter = (X @ X.T).astype(np.int64)
    nt = np.array([len(s) for s in sets], np.int64)
    union = nt[:, None] + nt[None, :] - inter
    # coarse pre-filter with a margin; the exact test is the division below
    r, s = np.nonzero(np.triu(inter >= DEDUP_THRESHOLD * union - 1e-6, k=1))
    jac = inter[r, s] / union[r, s]
    keep = jac >= DEDUP_THRESHOLD
    rid, sid = ids[r[keep]], ids[s[keep]]
    return pd.DataFrame(
        {"rid": np.minimum(rid, sid), "sid": np.maximum(rid, sid), "jaccard": jac[keep]}
    )


class DedupJaccard(Workload):
    name = "dedup_jaccard"
    # the first operation costs 3.5x the steady state, the second and third
    # 1.1-1.3x; later ones drift down a few percent more (14.0, 5.8, 4.4,
    # 4.6, 4.2, then 3.4-4.3 s)
    warmup_ops = 4

    def documents(self) -> tuple[np.ndarray, list[str]]:
        """(doc ids, texts): a seeded sample of a generated sf0.1-like
        corpus, ids being corpus positions."""
        rng = self.rng(2)
        corpus = datagen.make_documents(rng, 400 if self.smoke else datagen.CORPUS_DOCS)
        return self.sample(corpus, rng)

    def sample(self, corpus: list[str], rng: np.random.Generator) -> tuple[np.ndarray, list[str]]:
        """The seeded sample of ``corpus`` a run joins (``calibrate.py``
        passes the real sf0.1 texts here)."""
        n = 100 if self.smoke else DEDUP_DOCS
        ids = np.sort(rng.choice(len(corpus), n, replace=False)).astype(np.int64)
        return ids, [corpus[i] for i in ids]

    def prepare(self, spark, work_dir: str) -> dict[str, float]:
        self.ids, self.texts = self.documents()
        os.makedirs(work_dir, exist_ok=True)
        path = os.path.join(work_dir, "documents.parquet")
        datagen.write_documents(self.texts, self.ids, path)
        self.input = spark.read.parquet(path)
        return {}

    def reference(self, spark) -> None:
        self.ref = jaccard_reference(self.ids, self.texts)

    def op(self, spark, i: int, stats=None) -> pd.DataFrame:
        from melody_join_spark.operators.dedup import jaccard_pairs

        return jaccard_pairs(
            self.input, threshold=DEDUP_THRESHOLD, ngram=DEDUP_NGRAM
        ).toPandas()

    def check(self, out: pd.DataFrame, i: int) -> bool:
        return same_pairs(out, self.ref, ["rid", "sid"], "jaccard")


WORKLOADS = {w.name: w for w in (MelodyD3, DedupJaccard)}
