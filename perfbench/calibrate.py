#!/usr/bin/env python3
"""Compare the benchmark's generated inputs with the real sf0.1 tables.

    python3 perfbench/calibrate.py --sf-dir <directory of the sf0.1 parquet tables> --seeds 1 2 3

The benchmark cannot read the repository's test data (it runs where none is
installed), so ``datagen.py`` draws tables like it.  This script checks that
claim on the figures the two workloads' costs follow, for each seed, on the
real tables and on the generated ones, through the workloads' own input
paths (``MelodyD3.load`` and ``DedupJaccard.sample``):

- lineitem: share of orders with no line, lines per non-empty order, the
  three discount-bucket shares, the quantity-extendedprice correlation;
- melody_d3: rows in the seed's nation, occupied bins per histogram, and on
  the benchmark's sample the grid join's JoinStats: candidates per row
  pair, the share of candidates each bound prunes, exact LPs per candidate
  and per result pair, result pairs per row;
- dedup_jaccard: on the benchmark's sample, words per document, distinct
  5-gram tokens, tokens per document, mean token document frequency, the
  pairs sharing a PPJoin prefix token (df-ascending order, ties by token
  text, no length filter: close to, not equal to, the operator's candidate
  set) and the result pairs of the exact reference.

Prints one markdown table per workload (README.md keeps the last one run).
Takes about five minutes per seed on 4 cores.
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
import run  # noqa: E402
from workloads import (  # noqa: E402
    DEDUP_NGRAM,
    DEDUP_THRESHOLD,
    DedupJaccard,
    MelodyD3,
    char_ngram_sets,
    jaccard_reference,
)


def lineitem_figures(tpch: str) -> dict[str, float]:
    li = pq.read_table(os.path.join(tpch, "lineitem.parquet"))
    n_orders = pq.read_metadata(os.path.join(tpch, "orders.parquet")).num_rows
    keys = li["l_orderkey"].to_numpy()
    filled = np.unique(keys).size
    disc = li["l_discount"].to_numpy()
    qty = li["l_quantity"].to_numpy()
    price = li["l_extendedprice"].to_numpy()
    # the DISC_LO..DISC_HI range in GRID_3D buckets, as tpch_bridge cuts it
    dbucket = np.clip(np.floor(disc / (0.11 / 3)), 0, 2)
    return {
        "orders without lines": 1 - filled / n_orders,
        "lines per non-empty order": keys.size / filled,
        "discount bucket 0/1/2 share": tuple(float(np.mean(dbucket == b)) for b in range(3)),
        "corr(quantity, extendedprice)": float(np.corrcoef(qty, price)[0, 1]),
    }


def melody_figures(spark, w: MelodyD3, tpch: str, rng, work: str) -> dict[str, float]:
    from melody_join_spark.operators.emd_join_nd import JoinStats

    os.makedirs(work, exist_ok=True)
    w.load(spark, tpch, rng, work)
    stats = JoinStats(spark.sparkContext)
    pairs = len(w.op(spark, 0, stats))
    st = stats.snapshot()
    n = len(w.hist)
    cand = st["candidates"]
    W = np.stack(w.hist["w"])
    return {
        "rows in nation": w.nation_rows,
        "occupied bins per row": float(np.mean((W > 0).sum(axis=1))),
        "candidates per row pair": cand / (n * (n - 1) / 2),
        "pruned by rubner / candidates": st["pruned_rubner"] / cand,
        "pruned by projection / candidates": st["pruned_projection"] / cand,
        "pruned by dual / candidates": st["pruned_dual"] / cand,
        "pruned by indmin / candidates": st["pruned_indmin"] / cand,
        "exact LPs / candidates": st["exact_evaluated"] / cand,
        "exact LPs per result pair": st["exact_evaluated"] / max(pairs, 1),
        "result pairs per row": pairs / n,
    }


def dedup_figures(ids: np.ndarray, texts: list[str]) -> dict[str, float]:
    sets = char_ngram_sets(texts, DEDUP_NGRAM)
    df: dict[str, int] = {}
    for s in sets:
        for g in s:
            df[g] = df.get(g, 0) + 1
    order = {g: k for k, g in enumerate(sorted(df, key=lambda g: (df[g], g)))}
    P = np.zeros((len(sets), len(order)), np.float32)
    for row, s in enumerate(sets):
        toks = sorted(order[g] for g in s)
        P[row, toks[: len(toks) - math.ceil(DEDUP_THRESHOLD * len(toks) - 1e-9) + 1]] = 1.0
    prefix_pairs = int(np.count_nonzero(np.triu(P @ P.T, k=1)))
    nt = np.array([len(s) for s in sets])
    return {
        "words per document": float(np.mean([len(t.split(" ")) for t in texts])),
        "distinct 5-gram tokens": len(df),
        "tokens per document": float(nt.mean()),
        "mean token document frequency": float(np.mean(list(df.values()))),
        "prefix-sharing pairs": prefix_pairs,
        "result pairs": len(jaccard_reference(ids, texts)),
    }


def table(title: str, real: list[dict], gen: list[dict]) -> None:
    def fmt(v) -> str:
        if isinstance(v, tuple):
            return "/".join(f"{x:.3f}" for x in v)
        return f"{v:.4g}"

    def mean(rows: list[dict], k: str):
        vals = [r[k] for r in rows]
        if isinstance(vals[0], tuple):
            return tuple(float(np.mean(x)) for x in zip(*vals))
        return float(np.mean(vals))

    print(f"\n*{title}*\n\n| figure | sf0.1 | generated |\n| --- | --- | --- |")
    for k in real[0]:
        print(f"| {k} | {fmt(mean(real, k))} | {fmt(mean(gen, k))} |")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", required=True, help="directory of the sf0.1 parquet tables")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    args = ap.parse_args()
    work = os.path.join(ROOT, ".perfbench_work", f"calibrate-{os.getpid()}")
    run.configure_env(work, trace=False)
    r = run.Runner(argparse.Namespace(workload="melody_d3", seed=0, smoke=False), work)
    real_docs = pq.read_table(os.path.join(args.sf_dir, "documents.parquet")).to_pandas()
    corpus = real_docs.sort_values("doc_id")["text"].tolist()
    out = {k: ([], []) for k in ("lineitem", "melody", "dedup")}
    try:
        r.start_session()
        for seed in args.seeds:
            gen_dir = os.path.join(work, f"tpch{seed}")
            w = MelodyD3(seed, smoke=False)
            rng = w.rng(1)
            w.nation = int(rng.integers(datagen.NATIONS))
            nation = w.nation
            datagen.write_tpch(datagen.make_tpch(rng, 1.0, nation), gen_dir)
            out["melody"][1].append(melody_figures(r.spark, w, gen_dir, rng, gen_dir))
            out["lineitem"][1].append(lineitem_figures(gen_dir))
            w = MelodyD3(seed, smoke=False)
            rng = w.rng(1)
            w.nation = nation
            out["melody"][0].append(
                melody_figures(r.spark, w, args.sf_dir, rng, os.path.join(work, f"real{seed}"))
            )
            out["lineitem"][0].append(lineitem_figures(args.sf_dir))
            r.spark.catalog.clearCache()
            d = DedupJaccard(seed, smoke=False)
            out["dedup"][1].append(dedup_figures(*d.documents()))
            out["dedup"][0].append(dedup_figures(*d.sample(corpus, d.rng(2))))
            print(f"seed {seed} done (nation {nation})", file=sys.stderr)
    finally:
        r.stop()
        shutil.rmtree(work, ignore_errors=True)
    seeds = ", ".join(map(str, args.seeds))
    table(f"lineitem, seeds {seeds}", *out["lineitem"])
    table(f"melody_d3 input and join, mean over seeds {seeds}", *out["melody"])
    table(f"dedup_jaccard input, mean over seeds {seeds}", *out["dedup"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
