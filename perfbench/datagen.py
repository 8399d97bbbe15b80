"""Seeded inputs for the benchmark, drawn like the repository's sf0.1 tables.

The benchmark runs where no test data is installed, so it makes its own
tables with numpy and writes them as parquet.  Only the columns the measured
operators read are produced.  Each distribution below was read off the sf0.1
tables (``calibrate.py`` repeats the comparison; README.md has its figures):

- customer: 15,000 rows, nation uniform over 25 (the benchmark draws only
  the 600 customers of its seed's nation, and their 6,000 orders);
- orders: 150,000 rows, customer uniform (10.0 orders per customer, variance
  10.0 in sf0.1);
- lineitem: Poisson(4) lines per order (sf0.1: 1.8% of orders have none,
  the rest hold 4.08 on average), quantity uniform on the integers 1..50,
  extendedprice uniform on [900, 105000) in cents and independent of
  quantity (sf0.1 correlation 0.001), discount uniform on [0, 0.10] rounded
  to cents, so 0.00 and 0.10 are half as common as the values between;
- documents: 5,000 texts of 10..100 words drawn uniformly from a 30-word
  vocabulary; 5% of the texts are replaced by a copy of another text with
  " dup" appended.  Every length appears equally often, in seeded order:
  a stratified draw of the sf0.1 marginal, because with free lengths the
  Jaccard join's cost moved 10% from seed to seed.

Every array comes from one ``numpy.random.Generator`` seeded by the caller,
so a seed fixes the inputs byte for byte.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_CUSTOMERS = 15_000
SF01_ORDERS = 150_000
NATIONS = 25
LINES_PER_ORDER = 4.0

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
CORPUS_DOCS = 5000
NEAR_DUP_SHARE = 0.05


def make_tpch(
    rng: np.random.Generator, scale: float = 1.0, nation: int | None = None
) -> dict[str, pa.Table]:
    """customer, orders and lineitem tables; ``scale`` multiplies the sf0.1
    row counts (the smoke mode uses 0.01).  With ``nation``, only that
    nation's share is drawn: 1/25 of the customers, all of them in
    ``nation``, and 1/25 of the orders, spread over those customers as the
    full tables spread orders over all of them.  The nation's lineitem
    histograms are then distributed as in the full tables, and cost 1/25
    as much to make."""
    share = 1.0 if nation is None else 1.0 / NATIONS
    n_cust = max(NATIONS, int(SF01_CUSTOMERS * scale * share))
    n_ord = max(1, int(SF01_ORDERS * scale * share))
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_nationkey": (
                rng.integers(0, NATIONS, n_cust) if nation is None else np.full(n_cust, nation)
            ).astype(np.int32),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        }
    )
    lines = rng.poisson(LINES_PER_ORDER, n_ord)
    n_li = int(lines.sum())
    lineitem = pa.table(
        {
            "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": np.rint(rng.uniform(0.0, 10.0, n_li)) / 100.0,
        }
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def write_tpch(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table, as ``tpch_bridge.load_tables`` reads them."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def make_documents(rng: np.random.Generator, n_docs: int = CORPUS_DOCS) -> list[str]:
    """Random word texts; ``NEAR_DUP_SHARE`` of them, at seeded positions,
    are replaced by a copy of another text plus " dup" (a copy may be of a
    copy), so the Jaccard join has true pairs to find."""
    lengths = rng.permutation(10 + np.arange(n_docs) % 91)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    for pos in rng.choice(n_docs, int(n_docs * NEAR_DUP_SHARE), replace=False):
        src = (pos + 1 + int(rng.integers(0, n_docs - 1))) % n_docs
        texts[pos] = texts[src] + " dup"
    return texts


def write_documents(texts: list[str], ids: np.ndarray, path: str) -> None:
    """Write (doc_id, text) rows as one parquet file."""
    pq.write_table(
        pa.table({"doc_id": np.asarray(ids, dtype=np.int64), "text": texts}), path
    )
