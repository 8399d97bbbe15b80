"""Deduplication operators for LLM-data pipelines.

Generalizations of the reference's similarity-self-join core (SURVEY.md §0:
"BASELINE.json additionally mandates LLM-data-pipeline operators ... these
generalize the reference's similarity-join core"):

- exact dedup        : hash-groupBy on a canonical fingerprint (1 shuffle)
- n-gram/word Jaccard: inverted-index self-join — candidates come from a
  shuffle *equi-join* on token, never a cross join; the same
  partition-then-prune shape as the EMD cells strategy (J1)
- MinHash + LSH      : shingle -> minhash signature (pandas UDF) -> banded
  bucket join -> verified candidates
- SimHash            : 64-bit sign-hash + chunk banding (pigeonhole on
  hamming radius) -> verified candidates

Scale notes: the token join's skew (ultra-common tokens produce quadratic
candidate blowup) is handled by ``max_df`` document-frequency capping —
standard prefix-filter practice; AQE skew-join covers the rest.  MinHash/
SimHash signatures are fixed-width columns, so every downstream step is an
equi-join on small keys.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..cache import persist, release_on_gc
from ._width import spread
from .text import (
    WINNOW_K,
    WINNOW_W,
    _word_tokens,
    fingerprint_bow,
    fingerprint_text,
    winnow_fingerprints,
    winnow_fps_sql,
    word_ngram_windows,
    word_ngrams,
)

__all__ = [
    "exact_dedup_groups",
    "exact_dedup_groups_oracle_sql",
    "dedupe",
    "dedupe_oracle_sql",
    "tokenize_words",
    "tokenize_char_ngrams",
    "jaccard_pairs",
    "jaccard_pairs_oracle_sql",
    "winnow_pairs",
    "winnow_pairs_oracle_sql",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash64",
    "simhash_pairs",
    "dedupe_incremental",
    "dedupe_incremental_oracle_sql",
    "word_ngrams",
    "word_ngram_windows",
    "decontaminate",
    "decontaminate_oracle_sql",
    "scrub_contamination",
    "scrub_contamination_oracle_sql",
    "dedupe_embeddings",
    "dedupe_embeddings_oracle_sql",
    "semantic_dedup",
    "dedup_paragraphs",
    "dedup_paragraphs_oracle_sql",
]


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", mode: str = "bow"
) -> DataFrame:
    """Duplicate groups by canonical fingerprint: (fp, group_size, keep_id)
    for groups with >1 member; ``keep_id`` = smallest id (deterministic
    survivor).  One shuffle (groupBy fp)."""
    fp = fingerprint_bow(F.col(text_col)) if mode == "bow" else fingerprint_text(F.col(text_col))
    return (
        df.select(F.col(id_col).alias("id"), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("group_size"), F.min("id").alias("keep_id"))
        .where(F.col("group_size") > 1)
    )


def exact_dedup_groups_oracle_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    fp = (
        f"md5(array_to_string(list_sort(list_distinct("
        f"string_split_regex(trim(lower({text_col})), '\\s+'))), ' '))"
    )
    return f"""
SELECT {fp} AS fp, count(*) AS group_size, min({id_col}) AS keep_id
FROM {table}
GROUP BY 1 HAVING count(*) > 1"""


def dedupe(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "bow",
    threshold: float = 0.85,
) -> DataFrame:
    """The corpus-cleaning API: return ``df`` with duplicates REMOVED.

    ``mode``:
    - 'exact' / 'bow'  — canonical-text / bag-of-words fingerprint groups;
      survivor = smallest id per group (deterministic).  One shuffle.
    - 'minhash'        — near-duplicate removal: a document is dropped when
      it has a verified near-dup (jaccard >= threshold) with a smaller id —
      the standard greedy one-pass rule (no connected components, so one
      anti-join instead of an iterative clustering).
    """
    if mode in ("exact", "bow"):
        fp = (
            fingerprint_bow(F.col(text_col))
            if mode == "bow"
            else fingerprint_text(F.col(text_col))
        )
        keep = (
            df.select(F.col(id_col).alias("_id"), fp.alias("_fp"))
            .groupBy("_fp")
            .agg(F.min("_id").alias("_keep"))
            .select(F.col("_keep").alias(id_col))
        )
        return df.join(keep, id_col, "semi")
    if mode == "minhash":
        pairs = minhash_lsh_pairs(df, id_col, text_col, threshold=threshold)
        drop = pairs.select(F.col("sid").alias(id_col)).distinct()
        return df.join(drop, id_col, "anti")
    raise ValueError(f"unknown dedupe mode {mode!r}")


# dup_clusters labels an edge list of at most this many edges on the driver
_DRIVER_EDGES = 200_000
# round cap of the distributed star rounds, which need O(log^2 n)
_STAR_ROUNDS = 25


def _star_rounds(edges: DataFrame) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond"): converges in
    O(log^2 n) rounds on ANY graph — including adversarial long chains,
    where min-label propagation needs diameter rounds.  Returns the stable
    star edge set (node -> component min).

    large-star(u): every strictly-larger neighbor of u re-attaches to
    min(N(u) ∪ {u}).  small-star(u): every smaller-or-equal neighbor (and u
    itself) attaches to the minimum among them.  Both are one window-min
    over the edge list — no joins against a label table."""
    from pyspark.sql.window import Window

    # localCheckpoint (not persist) per round: an iterative DataFrame whose
    # round N plan embeds round N-1's plan re-ANALYZES a geometrically
    # growing tree every round even when the data is cached — Catalyst time
    # explodes after ~8 rounds.  Checkpointing truncates the lineage to a
    # materialized RDD; Spark's ContextCleaner reclaims the backing blocks
    # when the round's DataFrame goes out of scope.
    e = (
        edges.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def fingerprint(df: DataFrame):
        # order-insensitive edge-set checksum: xor of row hashes (sum would
        # overflow longs under ANSI mode); edges are distinct so xor
        # cancellation cannot collide two different sets of the same size
        # short of a real hash collision
        r = df.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)
            ).alias("h"),
        ).first()
        return (r["n"], r["h"])

    fp = fingerprint(e)
    for _ in range(_STAR_ROUNDS):
        # large-star over the symmetric neighborhood view
        sym = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        wl = Window.partitionBy("a")
        m = F.least(F.col("a"), F.min("b").over(wl))
        large = (
            sym.withColumn("m", m)
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over larger-endpoint orientation
        ws = Window.partitionBy("a")
        d2 = large.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).withColumn("m", F.min("b").over(ws))
        new_e = (
            d2.select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(d2.select("a", F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_fp = fingerprint(new_e)
        e = new_e
        if new_fp == fp:
            return e  # stable star set: every edge is (node, component min)
        fp = new_fp
    raise RuntimeError(f"dup_clusters did not converge in {_STAR_ROUNDS} rounds")


def _driver_union_find(
    spark, edge_rows, ids: DataFrame | None, id_col: str
) -> DataFrame:
    """Exact connected components of an edge list that fits on the driver:
    union-find with path halving, labels = component min.  Isolated nodes
    (from ``ids``) are labeled DISTRIBUTED via a left join against the
    edge-node labels — only edge endpoints ever cross to the driver, so an
    ids table of any size stays on executors."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    labels = [(n, comp_min[find(n)]) for n in parent]
    lbl_df = spark.createDataFrame(labels, "id long, cluster_id long")
    if ids is None:
        return lbl_df
    nodes = ids.select(F.col(id_col).cast("long").alias("id")).unionByName(
        lbl_df.select("id")
    ).distinct()
    return nodes.join(lbl_df, "id", "left").select(
        "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
    )


def dup_clusters(
    pairs: DataFrame,
    ids: DataFrame | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Connected components over a near-duplicate pair graph ->
    (id, cluster_id), cluster_id = smallest id reachable through dup edges.

    The transitive step the greedy drop rule skips: near-dup is not
    transitive, but a 100-TB cleaning pipeline wants whole dup CLUSTERS
    (keep one representative per component, audit the rest).

    Size-adaptive: persist the edge relation, count it at full parallelism,
    and when it has at most ``_DRIVER_EDGES`` edges collect it from the
    cache and run exact union-find on the driver — one job instead of 3-5
    iterative rounds of window-min + checkpoint machinery (measured ~7 s of
    fixed per-round cost on a 256-edge graph).  (NOT a bare
    ``limit(N+1).collect()`` probe: CollectLimit executes the expensive
    upstream pairs chain incrementally on 1, 4, 16, ... partitions —
    measured 4x slower than one full-parallelism pass.)  Dup graphs are
    usually tiny relative to their corpus (dup RATE matters, not corpus
    size).  Only edge endpoints ever reach the driver — an ``ids`` table of
    any size is labeled by a distributed left join.

    Larger edge lists run alternating large-star/small-star rounds
    (`_star_rounds`): O(log^2 n) rounds on ANY graph shape (an adversarial
    chain of length L costs ~log L rounds, not L), as a pure DataFrame plan
    (window mins, state O(|E|) on executors).  They raise on
    non-convergence rather than return a wrong labeling.

    ``ids`` (optional, one ``id_col`` column) adds isolated nodes so every
    input row gets a cluster (itself when it has no dup edge).
    """
    # persist + count FIRST, then read the probe from the cache.  A bare
    # limit(N+1).collect() on the raw plan goes through CollectLimit's
    # incremental execution (1 partition, then 4, 16, ... until N+1 rows
    # or exhaustion), which re-runs the expensive upstream pairs chain
    # (tokenize + prefix join + verify) serially at low parallelism —
    # measured 38.7 s vs 9.4 s for the jaccard-fed bench query.  count()
    # materializes the same chain ONCE at full parallelism.
    edges = persist(
        pairs.select(
            F.col("rid").cast("long").alias("a"),
            F.col("sid").cast("long").alias("b"),
        )
    )
    if edges.count() <= _DRIVER_EDGES:
        probe = edges.collect()
        edges.unpersist()
        return _driver_union_find(
            pairs.sparkSession, [(r.a, r.b) for r in probe], ids, id_col
        )
    star = _star_rounds(edges)
    # stable star edges point node -> component min; roots and isolated
    # nodes label themselves
    members = star.select("a", F.col("b").alias("lbl")).unionByName(
        star.select(F.col("b").alias("a"), F.col("b").alias("lbl"))
    )
    nodes = members.select("a")
    if ids is not None:
        nodes = nodes.unionByName(
            ids.select(F.col(id_col).cast("long").alias("a"))
        )
    out = (
        nodes.distinct()
        .join(members.groupBy("a").agg(F.min("lbl").alias("lbl")), "a", "left")
        .select(
            F.col("a").alias("id"),
            F.coalesce("lbl", F.col("a")).alias("cluster_id"),
        )
    )
    # star is a local checkpoint: Spark's ContextCleaner reclaims it
    return release_on_gc(out, edges)


def dup_clusters_oracle_sql(pairs_sql: str, ids_sql: str | None = None) -> str:
    """DuckDB twin of :func:`dup_clusters`: min reachable id per node via a
    recursive CTE over the symmetric edge set produced by ``pairs_sql``
    (any query yielding (rid, sid)); ``ids_sql`` optionally yields (id)
    rows to include as isolated nodes."""
    iso = (
        f"UNION SELECT id, id FROM ({ids_sql})"
        if ids_sql is not None
        else ""
    )
    return f"""
WITH RECURSIVE p AS ({pairs_sql}),
e AS (SELECT rid AS a, sid AS b FROM p UNION SELECT sid, rid FROM p),
reach(src, node) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM e)
  {iso}
  UNION
  SELECT r.src, e.b FROM reach r JOIN e ON r.node = e.a
)
SELECT src AS id, min(node) AS cluster_id FROM reach GROUP BY src ORDER BY id"""


def dedupe_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "bow",
) -> str:
    fp = (
        f"md5(array_to_string(list_sort(list_distinct("
        f"string_split_regex(trim(lower({text_col})), '\\s+'))), ' '))"
        if mode == "bow"
        else f"md5(lower(regexp_replace(trim({text_col}), '\\s+', ' ', 'g')))"
    )
    return f"""
SELECT t.* FROM {table} t
JOIN (SELECT {fp} AS fp, min({id_col}) AS keep_id FROM {table} GROUP BY 1) k
  ON t.{id_col} = k.keep_id"""


# ---------------------------------------------------------------------------
# token sets
# ---------------------------------------------------------------------------

def tokenize_words(text: Column) -> Column:
    """Distinct lowercase word set."""
    return F.array_distinct(F.split(F.lower(F.trim(text)), r"\s+"))


def tokenize_char_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct character n-gram set of the lowercased text."""
    t = F.lower(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1))),
        lambda i: F.substring(t, i, n),
    )
    return F.array_distinct(grams)


def _verify_jaccard(
    cand: DataFrame,
    docs: DataFrame,
    threshold: float,
    docs_b: DataFrame | None = None,
) -> DataFrame:
    """Verify candidate (rid, sid) pairs against exact set Jaccard.
    ``docs_b`` supplies the sid side for cross-corpus candidates (defaults
    to ``docs`` for self-joins).

    ``docs`` = (id, toks array, nt).  Two equi-joins on id pull the token
    arrays onto each candidate row; the size-ratio filter
    (jaccard >= t forces |smaller| >= t * |larger|) runs BEFORE the
    ``array_intersect``, so disproportionate candidates never pay the O(n)
    intersect.  No token re-explosion, no per-token shuffle (the naive
    explode-join verification shuffles |cand| * |tokens/doc| rows; this
    shuffles |cand| rows of two arrays).  Integer counts keep the jaccard
    value bit-stable across engines.

    When the doc-side is small enough to broadcast, both array sides ship
    as broadcast hash joins and the (much larger) candidate set never
    shuffles at all — near-dup candidate sets routinely run 100-1000x the
    corpus row count, so candidate-stationary verification is the scalable
    orientation.  The gate is BYTE-estimated (rows x avg tokens x 8 for the
    long arrays, plus per-row overhead), not row-counted: 500k docs of a few
    hundred tokens each is multi-GB — far past any broadcast budget even
    though the row count looks small.  Above the budget the plan falls back
    to shuffle joins (AQE still re-plans the actual sizes)."""
    # docs is persisted by every caller: one cheap agg sizes the broadcast
    docs_b = docs if docs_b is None else docs_b
    n_docs, tot_toks = docs.agg(
        F.count("*"), F.coalesce(F.sum("nt"), F.lit(0))
    ).first()
    if docs_b is docs:
        nb_docs, nb_toks = n_docs, tot_toks
    else:
        nb_docs, nb_toks = docs_b.agg(
            F.count("*"), F.coalesce(F.sum("nt"), F.lit(0))
        ).first()
    est_bytes = int(tot_toks + nb_toks) * 8 + int(n_docs + nb_docs) * 32
    a = docs.select(
        F.col("id").alias("rid"), F.col("toks").alias("ta"), F.col("nt").alias("na")
    )
    b = docs_b.select(
        F.col("id").alias("sid"), F.col("toks").alias("tb"), F.col("nt").alias("nb")
    )
    if est_bytes <= 128 << 20:
        a, b = F.broadcast(a), F.broadcast(b)
    inter = F.size(F.array_intersect("ta", "tb"))
    jac = inter / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(a, "rid")
        .join(b, "sid")
        .where(
            F.least("na", "nb")
            >= F.lit(float(threshold)) * F.greatest("na", "nb") - F.lit(1e-9)
        )
        .select("rid", "sid", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    ngram: int | None = None,
    max_df: int | None = None,
    other: DataFrame | None = None,
) -> DataFrame:
    """All pairs with Jaccard(token sets) >= threshold -> (rid, sid, jaccard).
    EXACT (no approximation) via prefix filtering.

    Plan (PPJoin-style prefix principle): under a global token order by
    ascending document frequency, two sets with jaccard >= t must share a
    token among each one's first  |x| - ceil(t*|x|) + 1  tokens.  Candidates
    therefore come from an equi-join on *prefix* tokens only — the rarest
    per document — which removes the quadratic blowup on ultra-common
    tokens that a naive inverted-index join suffers (a df=10^6 token alone
    would emit 10^12 candidate rows).  Verification joins the full token
    arrays back onto the surviving candidates (``_verify_jaccard``).

    ``max_df`` drops tokens appearing in more than max_df documents from the
    token sets entirely: kills residual blowup from mid-frequency tokens.
    NOTE: changes semantics (sound only when near-dup pairs share a rare
    token) — mirrored in the oracle SQL.

    ``other``: EXACT cross-corpus form — every (r in df, s in other) pair
    with jaccard >= threshold (incremental dedup: a new crawl against the
    existing corpus, with exact verification rather than minhash recall).
    Ids may overlap between the tables: sides are encoded into the low id
    bit internally (ids must be < 2^62) and decoded on output; document
    frequency and the PPJoin global token order are computed over the
    UNION, so both sides share one prefix order."""
    tokens = (
        tokenize_char_ngrams(F.col(text_col), ngram)
        if ngram
        else tokenize_words(F.col(text_col))
    )
    two_table = other is not None
    if two_table:
        df = df.select(
            (F.col(id_col).cast("long") * 2).alias(id_col),
            F.col(text_col),
        ).unionByName(
            other.select(
                (F.col(id_col).cast("long") * 2 + 1).alias(id_col),
                F.col(text_col),
            )
        )
    # tokens leave string-land immediately: every downstream exchange (df
    # agg, df join-back, doc groupBy) moves 16-byte (id, hash) rows instead
    # of strings — measured 35% off the whole corpus-preparation phase at
    # sf0.1, and the narrow post-agg vocab fits AQE's broadcast threshold
    # far longer as the corpus grows (falls back to sort-merge beyond it).
    # 64-bit collisions merge two tokens with odds ~|vocab|^2 / 2^65 —
    # negligible below billion-token vocabularies, and can only nudge a
    # jaccard value, never crash.
    rel = spread(df).select(
        F.col(id_col).alias("id"), F.explode(tokens).alias("tok")
    ).select("id", F.xxhash64("tok").alias("th"))
    # document frequency via count() OVER (PARTITION BY th): ONE exchange of
    # the token relation, after which every row carries its token's df.  The
    # groupBy(th)+join-back alternative embeds `rel` twice in the DAG — the
    # tokenize+explode runs twice and the relation crosses three exchanges
    # (agg, join probe, join build) instead of one; measured 2x on the sf0.1
    # corpus (the round-2 dedup_jaccard_ngram regression).
    from pyspark.sql.window import Window

    rel = rel.withColumn("df_", F.count("*").over(Window.partitionBy("th")))
    if max_df is not None:
        rel = rel.where(F.col("df_") <= max_df)
    # PPJoin global token order: df ascending, ties broken deterministically.
    # The packed sort key (clamp(df, 2^22-1) << 40) | hash mod 2^40 is a pure
    # codegen expression with no extra shuffle and no single-partition
    # window; the high bits give the df-ascending prefix order, the 40 hash
    # bits spread ties.  Documents then store the FULL 64-bit token hash
    # sorted by (tid, th): tid-equal tokens (same df, same low-40 hash —
    # expected once a df-class passes ~2^20.5 tokens, routine at corpus
    # scale) stay DISTINCT longs ordered by th, so the downstream set ops
    # never merge two tokens short of a true 64-bit collision
    # (~|vocab|^2 / 2^65).  The prefix equi-join keys on the 64-bit hash and
    # verification intersects 64-bit arrays — tid is ONLY an ordering
    # device, never an identity.
    tid = (
        F.shiftleft(F.least(F.col("df_"), F.lit((1 << 22) - 1)).cast("long"), 40)
        + F.pmod(F.col("th"), F.lit(1 << 40))
    )
    docs = (
        rel.select("id", "th", tid.alias("tid"))
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("tid", "th"))),
                lambda s: s["th"],
            ).alias("toks")
        )
        .withColumn("nt", F.size("toks"))
    )
    # -1e-9 guards float fuzz in t*nt: undershooting ceil only lengthens the
    # prefix (more candidates, still exact); overshooting would drop pairs
    prefix_len = (
        F.col("nt") - F.ceil(F.lit(float(threshold)) * F.col("nt") - F.lit(1e-9)) + 1
    )
    # docs feeds the prefix explode AND both verify sides: persist, or the
    # tokenize+freq+vocab+groupBy chain runs three times
    docs = persist(docs.withColumn("prefix", F.slice("toks", F.lit(1), prefix_len)))
    pr = docs.select("id", "nt", F.posexplode("prefix").alias("p", "tok"))
    # cross-corpus: restrict the join SIDES up front (side bit encoded in
    # the id), so same-side candidate pairs never materialize
    pr_a = pr.where(F.col("id") % 2 == 0) if two_table else pr
    pr_b = pr.where(F.col("id") % 2 == 1) if two_table else pr
    a = pr_a.select(
        F.col("id").alias("rid"), "tok", F.col("nt").alias("na"), F.col("p").alias("pa")
    )
    b = pr_b.select(
        F.col("id").alias("sid"), "tok", F.col("nt").alias("nb"), F.col("p").alias("pb")
    )
    # PPJoin positional filter: overlap needed alpha = ceil(t/(1+t)*(na+nb));
    # a match at 0-based prefix positions (pa, pb) caps the achievable
    # overlap at 1 + min(remaining suffix lengths)
    alpha = F.ceil(
        F.lit(float(threshold) / (1.0 + float(threshold)))
        * (F.col("na") + F.col("nb"))
        - F.lit(1e-9)
    )
    # pair rule: self-join dedups by id order; cross-corpus sides are
    # already disjoint (pr_a/pr_b), so every joined pair is (df, other)
    pair_rule = F.lit(True) if two_table else F.col("rid") < F.col("sid")
    cand = (
        a.join(b, "tok")
        .where(pair_rule)
        # length filter: jaccard >= t forces |smaller| >= t*|larger|
        .where(
            F.least("na", "nb")
            >= F.lit(float(threshold)) * F.greatest("na", "nb") - F.lit(1e-9)
        )
        .where(
            F.lit(1)
            + F.least(F.col("na") - F.col("pa") - 1, F.col("nb") - F.col("pb") - 1)
            >= alpha
        )
        .select("rid", "sid")
        .distinct()
    )
    out = _verify_jaccard(cand, docs, threshold)
    if two_table:
        out = out.select(
            F.shiftright("rid", 1).alias("rid"),
            F.shiftright(F.col("sid") - 1, 1).alias("sid"),
            "jaccard",
        )
    return release_on_gc(out, docs)


def jaccard_pairs_oracle_sql(
    threshold: float,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int | None = None,
    max_df: int | None = None,
) -> str:
    if ngram:
        tok_expr = (
            f"list_distinct(list_transform("
            f"range(1, greatest(length(lower({text_col})) - {ngram - 1}, 1) + 1), "
            f"i -> substr(lower({text_col}), i, {ngram})))"
        )
    else:
        tok_expr = f"list_distinct(string_split_regex(trim(lower({text_col})), '\\s+'))"
    max_df_cte = (
        f""",
freq AS (SELECT tok, count(*) AS df_ FROM rel GROUP BY 1),
rel2 AS (SELECT rel.* FROM rel JOIN freq USING (tok) WHERE df_ <= {max_df})"""
        if max_df is not None
        else ",\nrel2 AS (SELECT * FROM rel)"
    )
    return f"""
WITH rel AS (
  SELECT {id_col} AS id, unnest({tok_expr}) AS tok FROM {table}
){max_df_cte},
sizes AS (SELECT id, count(*) AS nt FROM rel2 GROUP BY 1),
inter AS (
  SELECT a.id AS rid, b.id AS sid, count(*) AS inter
  FROM rel2 a JOIN rel2 b ON a.tok = b.tok AND a.id < b.id
  GROUP BY 1, 2
)
SELECT rid, sid,
       inter / (na.nt + nb.nt - inter) AS jaccard
FROM inter
JOIN sizes na ON na.id = rid
JOIN sizes nb ON nb.id = sid
WHERE inter / (na.nt + nb.nt - inter) >= {threshold}"""


# ---------------------------------------------------------------------------
# winnowing (rolling-hash fingerprint) near-dup pairs
# ---------------------------------------------------------------------------

def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    threshold: float = 0.5,
    min_common: int = 3,
    max_df_frac: float = 0.1,
    impl: str = "arrow",
) -> DataFrame:
    """Partial-overlap near-dup pairs over winnowing fingerprints (the MOSS
    scheme): docs sharing >= ``min_common`` fingerprints with fingerprint-set
    Jaccard >= ``threshold``.  Output (doc_a, doc_b, n_common, sim).

    Plan shape (all equi-joins, no cross join):
      1. ``winnow_fingerprints`` — pure codegen scan, no shuffle;
      2. explode to (id, fp) and drop fingerprints present in more than
         ``max_df_frac`` of the corpus (MOSS's ubiquitous-fingerprint cull —
         boilerplate shingles would otherwise create quadratic candidate
         blowup; this is the skew cap that makes the join 100x-safe).  The
         corpus size arrives via a broadcast one-row aggregate, not a
         driver-side collect;
      3. self-equi-join on fp (reuses the window's hash partitioning),
         group to common counts, then attach per-doc set sizes from a slim
         (id, n_fp) aggregate for the Jaccard denominator.  ``sizes`` is
         persisted (round 12): its broadcast is built once per join SIDE
         and each build re-ran the aggregate serially inside the broadcast
         future — the cache makes the second build a cache read.  (A round-
         12 attempt to remove the Window sort and carry n_fp through the
         self-join instead measured 2.6x WORSE — AQE turned one of the
         rewritten broadcast builds into an 8 s single-task stage — and was
         reverted; see OPTIMIZATION_r12.md.)
    """
    from pyspark.sql import Window

    fp = winnow_fingerprints(
        spread(df), text_col=text_col, k=k, w=w, impl=impl
    ).select(F.col(id_col).alias("id"), "fps")
    ex0 = fp.select("id", F.explode("fps").alias("fp"))
    total = df.agg(F.count("*").alias("__n_docs"))
    # persist: ex feeds THREE plan branches (sizes + both self-join sides);
    # without it the codegen fingerprint scan + fp window re-run per branch
    ex = persist(
        ex0.withColumn("df_", F.count("*").over(Window.partitionBy("fp")))
        .join(F.broadcast(total))
        .filter(F.col("df_") <= F.col("__n_docs") * F.lit(max_df_frac))
        .select("id", "fp")
    )
    sizes = persist(ex.groupBy("id").agg(F.count("*").alias("n_fp")))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    na, nb = sizes.alias("na"), sizes.alias("nb")
    res = (
        inter.join(na, F.col("doc_a") == F.col("na.id"))
        .join(nb, F.col("doc_b") == F.col("nb.id"))
        .withColumn(
            "sim",
            F.round(
                F.col("n_common")
                / (F.col("na.n_fp") + F.col("nb.n_fp") - F.col("n_common")),
                6,
            ),
        )
        .filter((F.col("n_common") >= min_common) & (F.col("sim") >= threshold))
        .select("doc_a", "doc_b", "n_common", "sim")
    )
    return release_on_gc(res, ex, sizes)


def winnow_pairs_oracle_sql(
    threshold: float = 0.5,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_common: int = 3,
    max_df_frac: float = 0.1,
) -> str:
    """DuckDB twin of :func:`winnow_pairs` (same hash, same caps)."""
    fps_expr = winnow_fps_sql(text_col, k=k, w=w)
    return f"""
WITH fp AS (
  SELECT {id_col} AS id, {fps_expr} AS fps FROM {table}
), ex0 AS (
  SELECT id, unnest(fps) AS fp FROM fp
), kept AS (
  SELECT fp FROM ex0 GROUP BY fp
  HAVING count(*) <= (SELECT count(*) FROM {table}) * {max_df_frac}
), ex AS (
  SELECT e.id, e.fp FROM ex0 e JOIN kept USING (fp)
), sizes AS (
  SELECT id, count(*) AS n_fp FROM ex GROUP BY 1
), inter AS (
  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS n_common
  FROM ex a JOIN ex b ON a.fp = b.fp AND a.id < b.id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       round(n_common / (na.n_fp + nb.n_fp - n_common), 6) AS sim
FROM inter
JOIN sizes na ON na.id = doc_a
JOIN sizes nb ON nb.id = doc_b
WHERE n_common >= {min_common}
  AND round(n_common / (na.n_fp + nb.n_fp - n_common), 6) >= {threshold}"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Mersenne prime 2^31-1: shingle hashes are first reduced mod p, so
# a*h + b < 2^62 never overflows int64 AND the mod genuinely wraps —
# without the wrap, min(a*h+b) is always attained by the smallest h and the
# "permutations" collapse to one (a real bug caught by the recall test)
_MERSENNE = (1 << 31) - 1


def _perm_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    return a, b


def _shingle_hashes(
    text: str, shingle: int, memo: dict | None = None
) -> np.ndarray:
    t = " ".join(text.lower().split())
    if len(t) < shingle:
        grams = {t}
    else:
        grams = {t[i : i + shingle] for i in range(len(t) - shingle + 1)}
    # crc32: deterministic across processes (unlike Python's str hash).
    # ``memo`` (per Arrow batch) dedups the crc across documents — near-dup
    # corpora share most of their shingle vocabulary, so the hash cost is
    # ~|distinct grams in batch|, not sum of document lengths.
    if memo is None:
        h = np.fromiter((zlib.crc32(g.encode()) for g in grams), dtype=np.int64)
    else:
        vals = []
        for g in grams:
            v = memo.get(g)
            if v is None:
                v = zlib.crc32(g.encode())
                memo[g] = v
            vals.append(v)
        h = np.asarray(vals, dtype=np.int64)
    return h % _MERSENNE


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    shingle: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<long>) — minhash signature per document.

    Batch-vectorized pandas UDF: each Arrow batch hashes every DISTINCT
    shingle once (crc memo), evaluates the K permutations once per distinct
    shingle hash ((U, K) matrix — the modulo is the expensive op and U is
    far below the summed document lengths on real corpora), then takes each
    document's signature as a gather + column-min over its rows.  Bit-for-
    bit identical to the per-document formula (min over a superset of
    duplicated rows is unchanged)."""
    return spread(df).select(
        F.col(id_col).alias("id"),
        _make_sig_udf(num_hashes, shingle, seed)(F.col(text_col)).alias("sig"),
    )


def _make_sig_udf(num_hashes: int, shingle: int, seed: int):
    """The Arrow-batched minhash-signature UDF (see minhash_signatures) as a
    reusable column function — also applied directly to streaming relations
    where a join back to a separate signature table is not possible."""
    a_params, b_params = _perm_params(num_hashes, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        memo: dict = {}
        docs_h = [_shingle_hashes(t or "", shingle, memo) for t in texts]
        if not docs_h:
            return pd.Series([], dtype=object)
        uni, inv = np.unique(np.concatenate(docs_h), return_inverse=True)
        perm = (uni[:, None] * a_params[None, :] + b_params[None, :]) % _MERSENNE
        out = []
        ofs = 0
        for h in docs_h:
            idx = inv[ofs : ofs + h.size]
            ofs += h.size
            out.append(perm[idx].min(axis=0))
        return pd.Series(out)

    return sig_udf


def _minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle: int,
    seed: int,
) -> DataFrame:
    """(id, band, key) LSH bucket keys: each band's signature slice hashed
    to one md5 bucket key."""
    rows = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle, seed)
    return sigs.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.md5(
                    F.concat_ws(",", F.slice("sig", bnd * rows + 1, rows))
                ),
            )
        ).alias("band", "key"),
    )


def _jaccard_tokens(df: DataFrame, id_col: str, text_col: str, shingle: int) -> DataFrame:
    """(id, toks, nt) character-shingle token table for exact verification.

    ``spread`` matters here even though the tokenize is a scan-stage
    expression: every caller persists this relation and immediately sizes
    it with an agg (`_verify_jaccard`'s broadcast gate), so on a corpus
    arriving as one file split the ENTIRE shingle tokenize executed as a
    single task — profiled at sf0.1 as ~2-4 s of one-core wall inside
    dedup_minhash_lsh (host busy 12-16% while 31 cores idled) before the
    verify joins even started.  At real scale (thousands of splits) the
    guard is a no-op."""
    grams = tokenize_char_ngrams(F.col(text_col), shingle)
    return spread(df).select(F.col(id_col).alias("id"), grams.alias("toks")).withColumn(
        "nt", F.size("toks")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 128,
    bands: int = 16,
    shingle: int = 5,
    seed: int = 42,
    other: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by MinHash LSH, verified with exact shingle
    Jaccard: (rid, sid, jaccard).

    Plan: signatures (narrow) -> band keys (posexplode) -> equi-join on
    (band, key) buckets -> distinct candidates -> verify via character-
    shingle jaccard computed in Spark SQL.  Probabilistic recall
    1-(1-j^r)^bands; the 16x8 default gives ~0.95 at j=0.8 and ~1.0 at
    j>=0.9 (the near-dup regime) while keeping the false-candidate rate at
    moderate similarity ~10x below a 32x4 banding — on corpora dense in
    j~0.5-0.7 pairs the verification volume, not recall, is the cost.

    ``other`` switches to the CROSS-CORPUS form — rid from ``df``, sid from
    ``other`` (e.g. dedup a new crawl against the existing corpus): same
    banded equi-join, no ordering constraint, each side's signatures
    computed once.  Id namespaces are independent; pairs are (df id,
    other id)."""
    # both join sides derive from the signature pandas-UDF chain
    band_keys = persist(
        _minhash_band_keys(df, id_col, text_col, num_hashes, bands, shingle, seed)
    )

    if other is None:
        a = band_keys.select(F.col("id").alias("rid"), "band", "key")
        b = band_keys.select(F.col("id").alias("sid"), "band", "key")
        cand = (
            a.join(b, ["band", "key"])
            .where(F.col("rid") < F.col("sid"))
            .select("rid", "sid")
            .distinct()
        )
        docs = persist(_jaccard_tokens(df, id_col, text_col, shingle))
        return release_on_gc(
            _verify_jaccard(cand, docs, threshold), band_keys, docs
        )
    other_keys = persist(
        _minhash_band_keys(other, id_col, text_col, num_hashes, bands, shingle, seed)
    )
    cand = (
        band_keys.select(F.col("id").alias("rid"), "band", "key")
        .join(other_keys.select(F.col("id").alias("sid"), "band", "key"), ["band", "key"])
        .select("rid", "sid")
        .distinct()
    )
    docs_a = persist(_jaccard_tokens(df, id_col, text_col, shingle))
    docs_b = persist(_jaccard_tokens(other, id_col, text_col, shingle))
    return release_on_gc(
        _verify_jaccard(cand, docs_a, threshold, docs_b=docs_b),
        band_keys,
        other_keys,
        docs_a,
        docs_b,
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash long) — 64-bit sign-hash over word features."""

    @F.pandas_udf(LongType())
    def sim_udf(texts: pd.Series) -> pd.Series:
        out = np.empty(len(texts), dtype=np.int64)
        for k, t in enumerate(texts):
            words = (t or "").lower().split()
            if not words:
                out[k] = 0
                continue
            acc = np.zeros(64, dtype=np.int64)
            shifts = np.arange(64, dtype=np.uint64)
            for w in set(words):
                e = w.encode()
                h = np.uint64((zlib.crc32(e) << 32) | zlib.crc32(e + b"#salt"))
                bits = (h >> shifts) & np.uint64(1)
                acc += np.where(bits == 1, 1, -1)
            packed = ((acc > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
            out[k] = np.array([packed], dtype=np.uint64).view(np.int64)[0]
        return pd.Series(out)

    return spread(df).select(
        F.col(id_col).alias("id"), sim_udf(F.col(text_col)).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with hamming(simhash) <= max_hamming -> (rid, sid, hamming).

    Chunk banding (pigeonhole): split 64 bits into max_hamming+1 chunks; any
    qualifying pair agrees exactly on >= 1 chunk -> equi-join per chunk, then
    verify with bit_count(xor) in Spark SQL."""
    chunks = max_hamming + 1
    width = 64 // chunks
    sh = simhash64(df, id_col, text_col)
    chunk_exprs = [
        F.shiftrightunsigned("simhash", c * width).bitwiseAND(F.lit((1 << width) - 1))
        for c in range(chunks)
    ]
    # both join sides derive from the simhash pandas-UDF chain
    keys = persist(
        sh.select(
            "id", "simhash", F.posexplode(F.array(*chunk_exprs)).alias("chunk", "key")
        )
    )
    a = keys.select(F.col("id").alias("rid"), F.col("simhash").alias("ha"), "chunk", "key")
    b = keys.select(F.col("id").alias("sid"), F.col("simhash").alias("hb"), "chunk", "key")
    cand = (
        a.join(b, ["chunk", "key"])
        .where(F.col("rid") < F.col("sid"))
        .select("rid", "sid", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    out = cand.select("rid", "sid", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )
    return release_on_gc(out, keys)


def dedupe_incremental(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    ngram: int | None = 5,
    method: str = "jaccard",
) -> DataFrame:
    """Incremental corpus cleaning: return the rows of ``new`` that are NOT
    near-duplicates of anything already in ``corpus`` — the nightly-crawl
    admission step of a growing 100-TB corpus.

    ``method='jaccard'`` uses the EXACT cross-corpus PPJoin
    (:func:`jaccard_pairs` with ``other=``); ``'minhash'`` uses the
    approximate MinHash-LSH cross form (:func:`minhash_lsh_pairs` with
    ``other=``) — cheaper at scale, recall < 1.  Either way the decision
    is one anti-join: new rows with any qualifying partner in the corpus
    are dropped."""
    if method == "jaccard":
        pairs = jaccard_pairs(
            new, id_col=id_col, text_col=text_col,
            threshold=threshold, ngram=ngram, other=corpus,
        )
    elif method == "minhash":
        pairs = minhash_lsh_pairs(
            new, id_col=id_col, text_col=text_col,
            threshold=threshold, shingle=ngram or 5, other=corpus,
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    dup_ids = pairs.select(F.col("rid").alias(id_col)).distinct()
    return new.join(dup_ids, id_col, "anti")


def dedupe_incremental_oracle_sql(
    threshold: float,
    new_pred: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int | None = 5,
) -> str:
    """DuckDB twin of :func:`dedupe_incremental` (method='jaccard') where
    the new-crawl side is ``{table} WHERE {new_pred}`` and the corpus is its
    complement: cross-side token intersection -> Jaccard >= threshold ->
    NOT-IN anti-join.  Returns admitted ``{id_col}`` rows ordered."""
    if ngram:
        tok_expr = (
            f"list_distinct(list_transform("
            f"range(1, greatest(length(lower({text_col})) - {ngram - 1}, 1) + 1), "
            f"i -> substr(lower({text_col}), i, {ngram})))"
        )
    else:
        tok_expr = (
            f"list_distinct(string_split_regex(trim(lower({text_col})), '\\s+'))"
        )
    return f"""
WITH newd AS (SELECT * FROM {table} WHERE {new_pred}),
corp AS (SELECT * FROM {table} WHERE NOT ({new_pred})),
rel_n AS (SELECT {id_col} AS id, unnest({tok_expr}) AS tok FROM newd),
rel_c AS (SELECT {id_col} AS id, unnest({tok_expr}) AS tok FROM corp),
sn AS (SELECT id, count(*) AS nt FROM rel_n GROUP BY 1),
sc AS (SELECT id, count(*) AS nt FROM rel_c GROUP BY 1),
inter AS (
  SELECT a.id AS rid, b.id AS sid, count(*) AS i
  FROM rel_n a JOIN rel_c b ON a.tok = b.tok GROUP BY 1, 2
),
dups AS (
  SELECT DISTINCT rid FROM inter
  JOIN sn ON sn.id = rid JOIN sc ON sc.id = sid
  WHERE i / (sn.nt + sc.nt - i) >= {threshold}
)
SELECT {id_col} FROM newd WHERE {id_col} NOT IN (SELECT rid FROM dups)
ORDER BY {id_col}"""


def dedupe_embeddings(
    docs: DataFrame,
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    num_planes: int | None = None,
    bands: int | None = None,
    seed: int = 42,
    n: int | None = None,
    recall_target: float | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate REMOVAL over the documents table:
    a document is dropped when its embedding has cosine >= ``threshold``
    with a smaller-id document's embedding — the greedy one-pass survivor
    rule (same contract as :func:`dedupe` mode='minhash', but the
    similarity signal is the embedding space, which catches paraphrase
    duplicates no lexical fingerprint sees).

    Pair generation routes through :func:`similarity.similar_pairs`:
    ``method='auto'`` (the default — the reference's Join.java:42-131
    method dispatch done engine-side) picks exact / IVF / LSH from
    (N, threshold) at the MEASURED crossovers
    (:func:`similarity.choose_similarity_method`); explicit ``'exact'``
    (:func:`cosine_pairs` — the oracle semantics, fine to ~10^4 vectors),
    ``'ivf'`` (probed-list overlap, the 10^5-10^6 mid-regime path,
    threshold-derived nprobe) and ``'lsh'`` (random-hyperplane sketch,
    the 10^8-vector scale path, (N, threshold)-derived banding) pin the
    plan.  The sketch routes have candidate recall < 1 — auto only
    selects them where the derivations predict the recall target holds;
    callers for whom a missed near-dup is a correctness bug pass
    ``recall_target=1.0`` (forces the exact plan wherever feasible — the
    pre-round-7 default semantics), and fractional targets escalate the
    IVF probe count (:func:`similarity.derive_nprobe`).  ``n=`` skips the
    dispatch count when the embedding count is already known (a DERIVED
    embedding relation is otherwise persisted around dispatch so its
    upstream executes once, not twice).  Documents without an embedding
    row are kept (nothing to compare).  One anti-join either way."""
    from .similarity import similar_pairs

    pairs = similar_pairs(
        emb, threshold, method=method, id_col=emb_id_col, vec_col=vec_col,
        seed=seed, num_planes=num_planes, bands=bands,
        n=n, recall_target=recall_target,
    )
    # pairs carry rid < sid; the larger id of every qualifying pair drops
    dropped = pairs.select(F.col("sid").alias(id_col)).distinct()
    return docs.join(dropped, id_col, "anti")


def dedupe_embeddings_oracle_sql(
    threshold: float,
    dim: int,
    docs_table: str = "documents",
    emb_table: str = "embeddings",
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`dedupe_embeddings` (method='exact')."""
    return f"""
WITH e AS (
  SELECT {emb_id_col} AS id,
         list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
  FROM {emb_table}
),
n AS (SELECT id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
dropped AS (
  SELECT DISTINCT b.id AS id
  FROM n a JOIN n b ON a.id < b.id
  WHERE CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
             ELSE list_sum(list_transform(range(1, {dim + 1}), i -> a.v[i] * b.v[i]))
                    / (a.nrm * b.nrm) END >= {threshold}
)
SELECT {id_col} FROM {docs_table}
WHERE {id_col} NOT IN (SELECT id FROM dropped)
ORDER BY {id_col}"""


def dedup_paragraphs(
    df: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    against: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style paragraph-level deduplication (Wenzek et al. 2020 §3.2):
    remove every line/paragraph whose normalized fingerprint appears in at
    least ``min_docs`` DISTINCT documents — the boilerplate axis
    (navigation bars, cookie banners, license headers) that document-level
    dedup never touches because the surrounding text differs.  Documents
    survive with their unique content; only the repeated lines vanish.

    Contract: paragraphs are the canonical
    :func:`~melody_join_spark.operators.text.doc_lines` split (shared with
    repetition_stats — newline split, regexp-trimmed, blanks dropped);
    fingerprint = md5(lower(line)); the distinct-DOC count (not occurrence
    count) triggers removal, so in-document repetition alone never fires —
    that axis belongs to repetition_filter.  Output:
    ``(id_col, text_clean, n_paragraphs, n_removed)`` with surviving lines
    rejoined by newline in original order; a fully-boilerplate document
    yields ``text_clean = ''`` (downstream length gates drop it).

    100-TB shape: ONE fingerprint-keyed shuffle for the distinct-doc count
    (two-stage groupBy — expand-free, partial-aggregated map-side; the
    relation is distinct-(line,doc)-sized, not occurrence-sized), an
    anti-join of the exploded lines against the (small: boilerplate is by
    definition a thin head of very frequent lines) flagged-fingerprint
    set, then ONE document-keyed regroup carrying only surviving lines.
    AQE broadcast-joins the flagged set when its stats allow; nothing is
    collected to the driver.

    ``against=`` is the INCREMENTAL form (the dedupe_incremental shape):
    the distinct-doc counts come from ``against`` (an existing corpus)
    instead of ``df`` itself, so a nightly crawl is scrubbed of the
    corpus's KNOWN boilerplate at admission — each new batch pays one
    scan of itself plus the against-side fingerprint aggregation (which a
    pipeline materializes once and reuses); new-batch-internal repeats
    deliberately do not fire (they will, once admitted, on the next
    batch)."""
    from .text import doc_lines

    t = F.coalesce(F.col(text_col), F.lit(""))
    src = persist(df.select(F.col(id_col).alias("_id"), doc_lines(t).alias("_lines")))
    try:
        ex = src.select(
            "_id", F.posexplode("_lines").alias("_pos", "_line")
        ).withColumn("_fp", F.md5(F.lower(F.col("_line"))))
        if against is not None:
            ta = F.coalesce(F.col(text_col), F.lit(""))
            flag_src = against.select(
                F.col(id_col).alias("_id"), doc_lines(ta).alias("_lines")
            ).select(
                "_id", F.explode("_lines").alias("_line")
            ).withColumn("_fp", F.md5(F.lower(F.col("_line"))))
        else:
            flag_src = ex
        # two-stage distinct-doc count (the build_vocab pattern: no expand)
        flagged = (
            flag_src.groupBy("_fp", "_id")
            .agg(F.count(F.lit(1)).alias("_c"))
            .groupBy("_fp")
            .agg(F.count(F.lit(1)).alias("_ndocs"))
            .where(F.col("_ndocs") >= int(min_docs))
            .select("_fp")
        )
        surv = ex.join(flagged, "_fp", "anti")
        rebuilt = surv.groupBy("_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_line"))
                    ),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("_kept"),
        )
        out = (
            src.join(rebuilt, "_id", "left")
            .select(
                F.col("_id").alias(id_col),
                F.coalesce("text_clean", F.lit("")).alias("text_clean"),
                F.size("_lines").cast("long").alias("n_paragraphs"),
                (
                    F.size("_lines").cast("long")
                    - F.coalesce("_kept", F.lit(0)).cast("long")
                ).alias("n_removed"),
            )
        )
        return release_on_gc(out, src)
    except Exception:
        src.unpersist()
        raise


def dedup_paragraphs_oracle_sql(
    min_docs: int = 2,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`dedup_paragraphs` (same canonical line split
    as the repetition_stats oracle)."""
    t = f"coalesce({text_col}, '')"
    lines = (
        f"list_filter(list_transform(string_split({t}, chr(10)), "
        f"l -> regexp_replace(l, '^\\s+|\\s+$', '', 'g')), l -> l <> '')"
    )
    return f"""
WITH d AS (SELECT {id_col} AS id, {lines} AS lines FROM {table}),
ex AS (
  SELECT id, u.pos AS pos, u.line AS line,
         md5(lower(u.line)) AS fp
  FROM (
    SELECT id, unnest(list_transform(range(1, len(lines) + 1),
                                     i -> {{'pos': i, 'line': lines[i]}}))
           AS u
    FROM d
  )
),
flagged AS (
  SELECT fp FROM (SELECT fp, id FROM ex GROUP BY 1, 2)
  GROUP BY fp HAVING count(*) >= {min_docs}
),
surv AS (SELECT * FROM ex WHERE fp NOT IN (SELECT fp FROM flagged)),
rebuilt AS (
  SELECT id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
         count(*) AS kept
  FROM surv GROUP BY 1
)
SELECT d.id AS {id_col},
       coalesce(r.text_clean, '') AS text_clean,
       CAST(len(d.lines) AS BIGINT) AS n_paragraphs,
       CAST(len(d.lines) - coalesce(r.kept, 0) AS BIGINT) AS n_removed
FROM d LEFT JOIN rebuilt r ON r.id = d.id
ORDER BY d.id"""


def semantic_dedup(
    docs: DataFrame,
    emb: DataFrame,
    threshold: float = 0.85,
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int | None = None,
    kmeans_sample: int = 4096,
    kmeans_iters: int = 5,
    seed: int = 42,
    list_cap: int = 4096,
    keep: str = "smallest_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the embedding space
    with a seeded spherical-kmeans codebook, then remove documents whose
    embedding has cosine >= ``threshold`` with a smaller-id document IN THE
    SAME CLUSTER.

    ``keep='smallest_id'`` (default) is the repo-wide greedy survivor rule
    (same contract as :func:`dedupe_embeddings`).  ``keep='centroid'`` is
    the PAPER's rule (Abbas et al. §3 step 4): close the cluster-local
    near-dup pairs into connected components (:func:`dup_clusters` —
    smallest-id labels), then per component keep exactly the member with
    the LOWEST cosine to its cluster centroid (ties by smaller id) — the
    most "atypical" example survives.  Costs one extra assignment scan
    (centroid similarities) and the component closure over the
    (edge-sized, tiny) pair relation.  The cluster restriction is the semantics (and the whole
    scale story): candidate work is sum over clusters of |cluster|^2 ~
    N^1.5 at the default nlist ~ sqrt(N), vs the quadratic all-pairs of
    :func:`dedupe_embeddings` — the price is that a near-dup pair straddling
    a cluster boundary survives, which SemDeDup accepts by design (the
    paper dedups within k-means clusters for exactly this reason).

    Composition, not new machinery: the cluster-local pairs ARE
    :func:`similarity.ivf_cosine_pairs` with ``nprobe=1`` (primary-cluster
    assignment only), so this inherits the proven codebook determinism
    (md5-ordered sample, seeded kmeans, stable-argsort ties), the
    hot-cluster block-pair decomposition (no quadratic straggler on
    collapsed embeddings), and the bit-stable left-fold cosine the spec
    fixture reproduces.  Drop rule matches :func:`dedupe_embeddings`:
    the larger id of every qualifying pair drops (one anti-join).
    Documents without an embedding row are kept."""
    from .similarity import ivf_cosine_pairs

    if keep not in ("smallest_id", "centroid"):
        raise ValueError(
            f"keep must be 'smallest_id' or 'centroid', got {keep!r}"
        )
    pairs = ivf_cosine_pairs(
        emb,
        threshold,
        id_col=emb_id_col,
        vec_col=vec_col,
        nlist=nlist,
        nprobe=1,
        kmeans_sample=kmeans_sample,
        kmeans_iters=kmeans_iters,
        seed=seed,
        list_cap=list_cap,
    )
    if keep == "smallest_id":
        dropped = pairs.select(F.col("sid").alias(id_col)).distinct()
        return docs.join(dropped, id_col, "anti")

    comps = dup_clusters(pairs, id_col="id")  # (id, cluster_id)
    sims = _centroid_sims(
        emb, emb_id_col, vec_col, nlist, kmeans_sample, kmeans_iters, seed
    )
    labeled = comps.join(sims, comps["id"] == sims["_sid"]).select(
        "id", "cluster_id", "_csim"
    )
    reps = labeled.groupBy("cluster_id").agg(
        F.min(F.struct(F.col("_csim"), F.col("id"))).alias("_m")
    ).select(F.col("_m.id").alias("_keep_id"))
    dropped = comps.join(
        reps, comps["id"] == reps["_keep_id"], "anti"
    ).select(F.col("id").alias(id_col))
    return docs.join(dropped, id_col, "anti")


def _centroid_sims(
    emb: DataFrame,
    emb_id_col: str,
    vec_col: str,
    nlist: int | None,
    kmeans_sample: int,
    kmeans_iters: int,
    seed: int,
) -> DataFrame:
    """Per-vector cosine to its primary cluster centroid — the SAME
    codebook and stable-argmax assignment ivf_cosine_pairs(nprobe=1)
    computes (identical derivation, so component membership and
    similarity refer to one clustering).  One Arrow-batched scan."""
    import numpy as np
    import pandas as pd

    from .similarity import _as_double, _ivf_codebook, derive_nlist

    e = emb.select(
        F.col(emb_id_col).alias("_sid"), _as_double(vec_col).alias("_v")
    )
    if nlist is None:
        nlist = derive_nlist(emb.count())
    C = _ivf_codebook(
        e.select(F.col("_sid").alias(emb_id_col),
                 F.col("_v").alias(vec_col)),
        nlist, emb_id_col, vec_col, kmeans_sample, kmeans_iters, seed,
    )
    b_c = e.sparkSession.sparkContext.broadcast(C)

    def assign(it):
        C_ = b_c.value
        for pdf in it:
            if not len(pdf):
                continue
            V = np.stack(pdf["_v"].to_numpy())
            Vn = V / np.maximum(
                np.linalg.norm(V, axis=1, keepdims=True), 1e-12
            )
            sims = Vn @ C_.T
            pri = np.argsort(-sims, axis=1, kind="stable")[:, 0]
            yield pd.DataFrame(
                {
                    "_sid": pdf["_sid"],
                    "_csim": sims[np.arange(len(pri)), pri],
                }
            )

    return e.mapInPandas(assign, "_sid long, _csim double")


# ---------------------------------------------------------------------------
# benchmark decontamination (cross-corpus n-gram overlap)
# ---------------------------------------------------------------------------

# the canonical word-n-gram primitives live in operators/text.py (round 11:
# repetition_stats shares them and text.py is below dedup.py in the import
# graph); re-imported here where decontaminate/scrub grew up, and re-exported
# via __all__ for back-compat


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing at
    least one word ``n``-gram with an evaluation document.

    The GPT-3-style leakage check (13-gram overlap is the published
    convention) that belongs next to dedup in any LLM data pipeline: eval
    prompts that leaked into the crawl inflate benchmark scores unless the
    overlapping training docs are dropped or scrubbed.  Output one row per
    contaminated (train, eval) pair::

        ({id_col} long, {eval_id_col} long, shared_ngrams long)

    where ``shared_ngrams`` counts DISTINCT shared n-grams.  Drop or
    redact policy is the caller's (join back on ``{id_col}``).

    100-TB plan: the eval side is benchmark-sized (MBs), so its exploded
    n-gram set is BROADCAST — the train side is one streaming scan
    (project text -> generate n-grams -> map-side hash join), no shuffle
    of training bytes at all; the only exchange is the output-sized
    groupBy on (train id, eval id).  n-gram generation happens in JVM
    codegen (split/transform/slice), no Python in the hot path."""
    # spread: the n-gram generation is scan-stage codegen, so a train
    # corpus arriving as one file would tokenize on one core (measured
    # 4.2 s single-task at sf0.1 vs ~0.3 s spread — guide §2.5); at real
    # scale the input has thousands of splits and this is a no-op, which
    # preserves the "one streaming scan, no shuffle of training bytes"
    # contract where it matters
    tg = spread(train).select(
        F.col(id_col).cast("long").alias(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("_g"),
    )
    eg = eval_df.select(
        F.col(eval_id_col).cast("long").alias(eval_id_col),
        F.explode(word_ngrams(F.col(eval_text_col), n)).alias("_g"),
    )
    return (
        tg.join(F.broadcast(eg), "_g")
        .groupBy(id_col, eval_id_col)
        .agg(F.count("*").alias("shared_ngrams"))
    )


def _duck_word_ngrams(text_col: str, n: int) -> str:
    """DuckDB twin of :func:`word_ngrams` (list slicing is 1-based and
    end-inclusive, so ``w[i:i+n-1]`` is the n-window at i; the empty-token
    filter mirrors the canonical ``_word_tokens``)."""
    w = (
        f"list_filter(string_split_regex(lower({text_col}), '\\s+'), "
        f"t -> t <> '')"
    )
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({w}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(({w})[i:i+{n - 1}], ' ')))"
    )


def decontaminate_oracle_sql(
    eval_sql: str,
    n: int = 13,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`decontaminate`; ``eval_sql`` is a SELECT
    producing ``({eval_id_col}, {eval_text_col})``."""
    tg = _duck_word_ngrams(text_col, n)
    eg = _duck_word_ngrams(eval_text_col, n)
    return f"""
WITH ev AS ({eval_sql}),
tg AS (SELECT {id_col}, unnest({tg}) AS g FROM {table}),
eg AS (SELECT {eval_id_col}, unnest({eg}) AS g FROM ev)
SELECT tg.{id_col}, eg.{eval_id_col}, count(*) AS shared_ngrams
FROM tg JOIN eg USING (g)
GROUP BY 1, 2 ORDER BY 1, 2"""


def scrub_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """The SCRUB policy companion to :func:`decontaminate`: instead of
    dropping a contaminated training document, remove every leaked word
    window from it and keep the rest — the higher-yield decontamination
    policy when documents are long and leaks are short (a quiz question
    quoted inside an otherwise-clean page).

    Semantics (defined on the canonical lowercased whitespace token
    sequence ``w``, 1-based):

    - hit positions ``H = {i : w[i..i+n-1] is an n-gram of some eval doc}``
    - removed indices ``R = union of [i, i+n-1] for i in H`` (overlapping
      hits merge naturally)
    - ``text_clean`` = the words NOT in ``R``, space-joined

    Output: every train row as
    ``({id_col}, text_clean, n_hits, n_words_removed)`` where ``n_hits``
    counts hit positions (0 for clean docs, whose ``text_clean`` is the
    canonicalized text).

    100-TB plan: same as :func:`decontaminate` — the eval n-gram set is
    broadcast, hits are collected by an output-sized groupBy (only
    contaminated docs reach it), and the rebuild is one codegen
    expression over the kept rows; clean documents never shuffle."""
    w = _word_tokens(F.col(text_col))
    grams = word_ngram_windows(F.col(text_col), n)
    # same single-split guard as decontaminate (guide §2.5; no-op at scale)
    tg = spread(train).select(
        F.col(id_col).cast("long").alias(id_col),
        F.posexplode(grams).alias("_pos0", "_g"),
    ).select(id_col, (F.col("_pos0") + 1).alias("_i"), "_g")
    eg = eval_df.select(
        F.explode(word_ngrams(F.col(eval_text_col), n)).alias("_g")
    ).distinct()
    hits = (
        tg.join(F.broadcast(eg), "_g")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("_i")).alias("_hits"))
    )
    # (deliberately un-spread: the rebuild side's token work is light, the
    # hits join is broadcast-sized, and at scale the input is multi-split
    # anyway — the guard exchange here measured a separated 1.36x on the
    # bench where the heavy tg subtree is join-eliminated under count())
    base = train.select(
        F.col(id_col).cast("long").alias(id_col), w.alias("_w")
    ).join(hits, id_col, "left")
    removed = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce("_hits", F.array().cast("array<int>")),
                lambda h: F.sequence(h, h + (n - 1)),
            )
        )
    )
    out = base.withColumn("_rm", removed)
    kept = F.filter(
        F.col("_w"),
        lambda x, i: ~F.array_contains("_rm", i.cast("int") + 1),
    )
    return out.select(
        id_col,
        F.array_join(kept, " ").alias("text_clean"),
        F.size(F.coalesce("_hits", F.array().cast("array<int>"))).cast("long").alias("n_hits"),
        (F.size("_w") - F.size(kept)).cast("long").alias("n_words_removed"),
    )


def scrub_contamination_oracle_sql(
    eval_sql: str,
    n: int = 13,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`scrub_contamination` (same 1-based position
    semantics; the index-filtered rebuild uses a CASE-over-range then
    drops the NULL slots, which needs no indexed-lambda support)."""
    w = (
        f"list_filter(string_split_regex(lower({text_col}), '\\s+'), "
        f"t -> t <> '')"
    )
    ew = (
        f"list_filter(string_split_regex(lower({eval_text_col}), "
        f"'\\s+'), t -> t <> '')"
    )
    eg = (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({ew}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(({ew})[i:i+{n - 1}], ' ')))"
    )
    return f"""
WITH ev AS ({eval_sql}),
eg AS (SELECT DISTINCT unnest({eg}) AS g FROM ev),
tw AS (SELECT {id_col}, {w} AS w FROM {table}),
tg AS (
  SELECT {id_col}, i, array_to_string(w[i:i+{n - 1}], ' ') AS g
  FROM tw, unnest(range(1, greatest(len(w) - {n - 1}, 0) + 1)) AS t(i)
),
hits AS (
  SELECT {id_col}, list_sort(list(DISTINCT i)) AS hs
  FROM tg JOIN eg USING (g) GROUP BY 1
),
rb AS (
  SELECT tw.{id_col}, w,
         coalesce(hs, []) AS hs,
         list_distinct(flatten(list_transform(coalesce(hs, []),
                                              h -> range(h, h + {n})))) AS rm
  FROM tw LEFT JOIN hits USING ({id_col})
)
SELECT {id_col},
       array_to_string(
         list_filter(list_transform(range(1, len(w) + 1),
                                    i -> CASE WHEN NOT list_contains(rm, i)
                                              THEN w[i] END),
                     x -> x IS NOT NULL), ' ') AS text_clean,
       len(hs)::BIGINT AS n_hits,
       len(rm)::BIGINT AS n_words_removed
FROM rb ORDER BY {id_col}"""
