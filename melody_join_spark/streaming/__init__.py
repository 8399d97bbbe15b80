"""Structured Streaming surface of the engine.

The reference is batch-only (SURVEY.md §2.5: no streaming); these operators
extend the same semantics to unbounded inputs with Spark Structured
Streaming.  Each transformation reuses the batch expression trees, so batch
and streaming results agree (tested in tests/test_streaming.py):

- ``stream_events``            file-source event stream with explicit schema
- ``streaming_window_counts``  tumbling-window agg + watermark for late data
- ``streaming_dedup``          exact dedup on content fingerprint within the
                               watermark horizon (dropDuplicates)
- ``streaming_near_dedup``     NEAR-dup matches of a document stream against
                               a static reference corpus (MinHash-LSH band
                               equi-join + exact shingle-Jaccard verify)
- ``streaming_decontaminate``  per-document 13-gram overlap of a crawl
                               stream against a broadcast eval set —
                               stateless leak detection at ingest time
- ``streaming_emd_lookup``     stream-static similarity lookup: each incoming
                               histogram joined against a broadcast reference
                               set under an EMD threshold (the reference's
                               threshold join as a lookup, SURVEY.md §2.5
                               streaming note)
- ``streaming_asof_lookup``    stream-static point-in-time feature lookup
                               (broadcast per-key sorted snapshot + Arrow
                               binary search; zero stream shuffle)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..cache import persist

__all__ = [
    "EVENTS_SCHEMA",
    "stream_events",
    "streaming_window_counts",
    "streaming_dedup",
    "streaming_near_dedup",
    "streaming_decontaminate",
    "streaming_perplexity",
    "streaming_emd_lookup",
    "streaming_emd_join_nd",
    "streaming_sessionize",
    "streaming_asof_lookup",
]

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """Unbounded parquet-directory event source (schema fixed up front —
    streaming sources cannot infer)."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path)


def streaming_window_counts(
    stream: DataFrame, hours: int = 1, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts/sums per event type over an unbounded stream.
    The watermark bounds state: windows older than max(event time) -
    watermark are finalized and dropped.  Expression tree identical to the
    batch ``event_window_agg`` (operators/events.py)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{hours} hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    stream: DataFrame,
    fingerprint_col,
    event_time: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first row per content fingerprint within the watermark
    horizon — the streaming form of exact dedup (operators/dedup.py).

    Uses ``dropDuplicatesWithinWatermark``: dedup state for a fingerprint is
    evicted once the watermark passes its event time, so state really is
    bounded by the watermark horizon.  (Plain ``dropDuplicates(['fp'])``
    would only evict when the event-time column itself is part of the key —
    two identical payloads then differ in ts and are NOT duplicates —
    so its state grows without bound on long-running streams.)"""
    return (
        stream.withColumn("fp", fingerprint_col)
        .withWatermark(event_time, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def streaming_sessionize(
    stream: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful streaming operator: inactivity-gap sessionization via
    ``applyInPandasWithState`` — per-user session state (current session id,
    last event time, open-session aggregates) lives in the state store;
    sessions emit when closed by a gap or by state timeout past the
    watermark.  Output: (user_id, session_id, n_events, session_start,
    session_end) — the streaming form of operators/events.sessionize.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_id", LongType()),
            StructField("n_events", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("session_id", LongType()),
            StructField("n_events", LongType()),
            StructField("start_us", LongType()),
            StructField("end_us", LongType()),
        ]
    )
    gap_us = gap_minutes * 60 * 1_000_000

    # after a session closes by timeout, the (session_id, last event time)
    # tombstone is retained for `retention` more gap periods so a returning
    # user continues the monotonic per-user session_id sequence (batch
    # parity); only after that quiet period is state fully removed.  State
    # is therefore still bounded: active users hold live aggregates, idle
    # users hold a 2-long tombstone until retention expires.
    retention_ms = gap_minutes * 60 * 1000 * 48

    def fn(key, pdfs, state):
        user_id = key[0]
        if state.hasTimedOut:
            sid, n, s_us, e_us = state.get
            if n > 0:
                # close the open session but KEEP the id counter: removing
                # state here would reset session_id to 1 on the user's next
                # event, colliding with already-emitted (user_id, session_id)
                # keys and diverging from batch sessionize's monotonic ids
                state.update((int(sid), 0, 0, int(e_us)))
                state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + retention_ms)
                yield pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "session_id": [sid],
                        "n_events": [n],
                        "session_start": [pd.Timestamp(s_us, unit="us")],
                        "session_end": [pd.Timestamp(e_us, unit="us")],
                    }
                )
            else:
                # tombstone expired with no new events: drop state for good
                state.remove()
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        ts_us = (rows["ts"].astype("int64") // 1000).to_numpy()
        if state.exists:
            sid, n, s_us, e_us = state.get
        else:
            sid, n, s_us, e_us = 0, 0, 0, -(1 << 62)
        out = {k: [] for k in ("user_id", "session_id", "n_events",
                               "session_start", "session_end")}
        for t in ts_us:
            if t - e_us > gap_us:
                if n > 0:  # close previous session
                    out["user_id"].append(user_id)
                    out["session_id"].append(sid)
                    out["n_events"].append(n)
                    out["session_start"].append(pd.Timestamp(s_us, unit="us"))
                    out["session_end"].append(pd.Timestamp(e_us, unit="us"))
                sid += 1
                n, s_us = 0, t
            n += 1
            e_us = t
        state.update((int(sid), int(n), int(s_us), int(e_us)))
        state.setTimeoutTimestamp(int(e_us) // 1000 + gap_minutes * 60 * 1000)
        yield pd.DataFrame(out)

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_near_dedup(
    stream: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    event_time: str = "ts",
    watermark: str = "1 hour",
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 16,
    shingle: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Stream-static NEAR-dup detection: match each incoming document
    against a static reference corpus by MinHash-LSH band keys, verify with
    exact character-shingle Jaccard, and emit (rid=stream id, event time,
    sid=reference id, jaccard) for verified matches — the "dedup the new
    crawl against the existing corpus" pattern.  The exact-fingerprint twin
    is :func:`streaming_dedup`; the batch twin is
    ``minhash_lsh_pairs(new, other=corpus)``.

    Plan per micro-batch (stateless except one bounded dedup):
    - stream rows get signatures from the same Arrow-batched UDF as batch
      (bit-identical), band keys exploded alongside the row's own shingle
      token array — no join back to a signature table (stream-stream joins
      need dual watermarks; carrying the columns avoids the state);
    - equi-join on (band, key) against the PERSISTED static band keys
      (computed once, reused every batch);
    - a pair colliding in several bands would emit duplicates:
      ``dropDuplicatesWithinWatermark`` on (rid, sid) bounds that dedup
      state by the watermark horizon instead of growing forever;
    - verification joins the static token table and filters on exact
      Jaccard — the same candidate-stationary array intersect as batch.
    """
    from ..operators.dedup import (
        _jaccard_tokens,
        _make_sig_udf,
        _minhash_band_keys,
        tokenize_char_ngrams,
    )

    rows = num_hashes // bands
    ref_keys = persist(
        _minhash_band_keys(
            reference, id_col, text_col, num_hashes, bands, shingle, seed
        )
        .select(F.col("id").alias("sid"), "band", "key")
    )
    ref_toks = persist(
        _jaccard_tokens(reference, id_col, text_col, shingle)
        .select(F.col("id").alias("sid"), F.col("toks").alias("tb"), F.col("nt").alias("nb"))
    )
    sig = _make_sig_udf(num_hashes, shingle, seed)(F.col(text_col))
    band_key = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bnd: F.md5(F.concat_ws(",", F.slice("__sig", bnd * rows + 1, rows))),
    )
    toks = tokenize_char_ngrams(F.col(text_col), shingle)
    s = (
        stream.withWatermark(event_time, watermark)
        .withColumn("__sig", sig)
        .select(
            F.col(id_col).alias("rid"),
            F.col(event_time).alias(event_time),
            toks.alias("ta"),
            F.posexplode(band_key).alias("band", "key"),
        )
        .withColumn("na", F.size("ta"))
    )
    cand = s.join(ref_keys, ["band", "key"]).dropDuplicatesWithinWatermark(
        ["rid", "sid"]
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    jac = inter / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(ref_toks, "sid")
        .where(
            F.least("na", "nb")
            >= F.lit(float(threshold)) * F.greatest("na", "nb") - F.lit(1e-9)
        )
        .select("rid", event_time, "sid", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def streaming_decontaminate(
    stream: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    event_time: str = "ts",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """Stream-static benchmark decontamination: each incoming document is
    checked against a STATIC eval set for word ``n``-gram overlap (the
    GPT-3 13-gram leakage convention) and emits
    ``(rid, {event_time}, {eval_id_col}, shared_ngrams)`` for every hit —
    the ingest-time twin of :func:`..operators.dedup.decontaminate`, so a
    crawl pipeline can drop or quarantine leaked documents before they
    ever land in the corpus.

    Plan: fully STATELESS — no watermark, no aggregation state.  Instead
    of the batch plan's explode->join->groupBy (whose streaming form
    needs aggregation state), each stream row keeps its DISTINCT n-gram
    array and intersects it per eval row after a broadcast cross join:
    ``size(array_intersect(doc_grams, eval_grams))`` is exactly the batch
    plan's distinct-shared count, computed per (doc, eval) pair in one
    codegen expression.  Cost per stream row is O(|eval set| x grams) —
    the eval side is benchmark-sized by definition, and the whole eval
    gram table ships once as a broadcast."""
    from ..operators.dedup import word_ngrams

    ev = eval_df.select(
        F.col(eval_id_col).cast("long").alias(eval_id_col),
        word_ngrams(F.col(eval_text_col), n).alias("_eg"),
    ).where(F.size("_eg") > 0)
    s = stream.select(
        F.col(id_col).cast("long").alias("rid"),
        F.col(event_time),
        word_ngrams(F.col(text_col), n).alias("_tg"),
    )
    return (
        s.crossJoin(F.broadcast(ev))
        .select(
            "rid",
            event_time,
            eval_id_col,
            F.size(F.array_intersect("_tg", "_eg")).alias("shared_ngrams"),
        )
        .where(F.col("shared_ngrams") > 0)
    )


def streaming_perplexity(
    stream: DataFrame,
    lm: tuple[list[tuple[str, int]], int],
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time unigram-LM quality scoring: apply a model trained
    batch-side by :func:`..operators.lm.unigram_lm` to a document stream —
    the CCNet deployment shape (score this month's crawl against last
    month's LM, quarantine the worst-perplexity tail before it lands).

    Fully STATELESS: the quantized model ships as a map literal inside
    the same :func:`..operators.lm.nll_columns` codegen projection the
    batch scorer uses, so stream scores are bit-identical to batch scores
    by construction (shared expressions, not a parallel implementation —
    pinned by the batch==stream test).  Appends
    ``(n_tok, oov_tok, nll_micro, avg_nll)`` to every input column."""
    from ..operators.lm import nll_columns
    from ..operators.text import _word_tokens

    lp, oov_lp = lm
    toks = _word_tokens(F.coalesce(F.col(text_col), F.lit("")))
    return stream.select("*", *nll_columns(toks, lp, oov_lp))


def streaming_emd_lookup(
    stream_hist: DataFrame,
    ref_hist: DataFrame,
    threshold: float,
    positions=None,
) -> DataFrame:
    """Stream-static EMD threshold lookup: each incoming histogram row
    (id, w, total, cum) is matched against the static reference set; emits
    (rid=stream id, sid=ref id, emd) for pairs within the threshold.

    The static side is broadcast (tiny reference sets are the lookup use
    case); the pair EMD stays a JVM expression — the streaming micro-batch
    runs the same codegen'd plan as the batch join."""
    from ..operators.emd_join import _pair_frame, pair_emd_expr

    a = _pair_frame(stream_hist, "a")
    b = F.broadcast(_pair_frame(ref_hist, "b"))
    pairs = a.crossJoin(b)
    emd = pair_emd_expr(positions=positions)
    return (
        pairs.withColumn("emd", emd)
        .where(F.col("emd") <= float(threshold))
        .select(F.col("id_a").alias("rid"), F.col("id_b").alias("sid"), "emd")
    )


def streaming_emd_join_nd(
    stream_hist: DataFrame,
    ref_hist: DataFrame,
    bin_points,
    threshold: float,
    cfg=None,
    id_col: str = "id",
    w_col: str = "w",
    seed: int = 42,
    ground="l2",
) -> DataFrame:
    """Stream-static EMD threshold join for general-d bins: each micro-batch
    of incoming histograms runs the full filter cascade (Rubner -> normal ->
    projection -> dual -> reduction -> IndMin -> exact LP, kernel/cascade.py)
    against a broadcast static reference set.  Emits (rid=stream id,
    sid=ref id, emd) within threshold (+1e-4 slack, batch parity).

    The 1-D expression-tree lookup (:func:`streaming_emd_lookup`) covers
    collinear bins entirely JVM-side; this operator is its d>=2 twin, where
    exact EMD is an LP per pair and must run in an Arrow-batched pandas
    pass.  Stateless by design — each micro-batch runs ``emd_index_search``'s
    threshold block (``emd_join_nd._range_block``) against the broadcast
    reference set, and scales horizontally with stream partitions; an
    empty reference side joins nothing.  Invalid rows (zero mass, or a negative or
    non-finite weight) on either side are dropped, as in the batch joins."""
    from ..kernel import normalize
    from ..operators._probe import broadcast_blocks
    from ..operators.emd_join_nd import _bins, _range_block, _valid_hist, build_config

    bin_points = _bins(bin_points)
    valid = _valid_hist(w_col)
    ref_rows = ref_hist.where(valid).select(id_col, w_col).collect()
    rids = np.array([r[0] for r in ref_rows], dtype=np.int64)
    RW = normalize(np.array([r[1] for r in ref_rows], dtype=np.float64))
    if cfg is None:
        cfg = build_config(bin_points, seed_weights=RW, seed=seed, ground=ground)

    return broadcast_blocks(
        stream_hist.where(valid).select(
            F.col(id_col).alias("id"), F.col(w_col).alias("w")
        ),
        (rids, RW),
        _range_block(cfg, float(threshold)),
        "qid long, nid long, emd double",
    ).select(F.col("nid").alias("rid"), F.col("qid").alias("sid"), "emd")


def streaming_asof_lookup(
    stream: DataFrame,
    features: DataFrame,
    on: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    suffix: str = "_asof",
) -> DataFrame:
    """Stream-static point-in-time lookup: each streaming row gets the most
    recent static feature row with the same key and feature.ts <= row.ts
    (inclusive) — the leakage-free feature-store read on a live stream.

    The batch :func:`~melody_join_spark.operators.events.asof_join` is a
    union + unbounded window, which streaming cannot run (no unbounded
    frames over a stream).  Stream-static instead collects the static side
    into per-key sorted timestamp/value arrays (a broadcast-size feature
    snapshot), and an Arrow-batched UDF binary-searches each incoming
    row — O(log n) per row, no shuffle on the stream at all, so the
    micro-batch plan stays a pure map.  Equal output to the batch join on
    the same data (tested streaming == batch)."""
    from pyspark.sql.types import DoubleType

    # exact integer microseconds from the engine (float .timestamp() would
    # round at the microsecond edge)
    rows = features.select(
        F.col(on), F.unix_micros(ts_col).alias("_us"), F.col(value_col)
    ).collect()
    snap: dict = {}
    for r in rows:
        snap.setdefault(r[0], []).append((r[1], r[2]))
    table = {
        k: (
            np.array([t for t, _ in sorted(v)], dtype=np.int64),
            np.array([x for _, x in sorted(v)], dtype=np.float64),
        )
        for k, v in snap.items()
    }
    sc = stream.sparkSession.sparkContext
    b_table = sc.broadcast(table)

    @F.pandas_udf(DoubleType())
    def lookup(keys: pd.Series, ts_us: pd.Series) -> pd.Series:
        tbl = b_table.value
        out = np.full(len(keys), np.nan)
        for i, (k, t) in enumerate(zip(keys, ts_us)):
            ent = tbl.get(k)
            if ent is None:
                continue
            tss, vals = ent
            j = np.searchsorted(tss, t, side="right") - 1
            if j >= 0:
                out[i] = vals[j]
        return pd.Series(out)

    res = stream.withColumn(
        f"{value_col}{suffix}",
        lookup(F.col(on), F.unix_micros(ts_col)),
    )
    # NaN -> NULL for parity with the batch join's missing matches
    c = f"{value_col}{suffix}"
    return res.withColumn(c, F.when(F.isnan(c), F.lit(None)).otherwise(F.col(c)))
