"""Reference-compatible entry point: run a join straight from a
``melody-conf.properties`` file.

A user of the reference drives it with
``java -cp melody.jar com.iojin.melody.Join conf.properties``
(Join.java:42-131 marshals the properties into the Hadoop conf).  This
module accepts the SAME properties file and the SAME data files (histogram
text lines + one-line bins/vectors side files, README.md:19-26) and runs
the equivalent Spark plan:

    mr.method.name = melody     -> emd_join_nd(strategy='grid')
                     mrsim      -> emd_join_nd(strategy='pivot')
                     bspmelody  -> grid (the BSP variant's prepare step IS
                                   the grid plan's stage 1-2, SURVEY.md §3.3)
                     bspb       -> emd_join_nd(strategy='bruteforce')
    melody.join.type = distance -> threshold join at
                                   melody.join.distance.threshold
                       topk     -> top-k join at melody.join.k

Output matches the reference shape: threshold -> (rid, sid) id pairs;
topk -> (rank, rid, sid, emd) (NEProcessReducer.java:262, KReducer.java:
33-36).  ``data.output.hdfs.path`` (if set) receives text output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache import persist, release_on_gc
from .operators.emd_join_nd import build_config, emd_join_nd, emd_topk_nd
from .sources.histogram_text import read_flat_doubles, read_histogram_text

__all__ = [
    "load_properties",
    "run_join_from_properties",
    "run_generate_from_properties",
]

_METHOD_TO_STRATEGY = {
    "melody": "grid",
    "mrsim": "pivot",
    "bspmelody": "grid",
    "bspb": "bruteforce",
}


def load_properties(path: str) -> dict[str, str]:
    """Parse a java-style .properties file (the reference's conf format)."""
    props: dict[str, str] = {}
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith(("#", "!")):
                continue
            if "=" in line:
                k, v = line.split("=", 1)
                props[k.strip()] = v.strip()
    return props


def run_join_from_properties(
    spark: SparkSession, properties_path: str, write_output: bool = True
) -> DataFrame:
    """Execute the join a reference deployment would run for this conf."""
    import numpy as np

    props = load_properties(properties_path)
    dim = int(props["data.dimension"])
    nbins = int(props["data.bin.number"])
    method = props.get("mr.method.name", "melody")
    if method not in _METHOD_TO_STRATEGY:
        raise ValueError(f"unknown mr.method.name {method!r}")
    strategy = _METHOD_TO_STRATEGY[method]
    join_type = props.get("melody.join.type", "distance")
    grid = int(props.get("melody.grid.cell.granularity", "4"))
    # cells per dim: the reference grid has G^2 cells per vector over the
    # 2-D Hough plane; our centroid grid uses G^2 cells per dim equivalent
    grid = max(grid * grid, 4)

    hist = read_histogram_text(spark, props["data.input.hdfs.path"]).withColumnRenamed(
        "id", "id"
    )
    bins = read_flat_doubles(spark, props["data.bin.hdfs.path"]).reshape(-1, dim)
    if bins.shape[0] != nbins:
        raise ValueError(f"bins file has {bins.shape[0]} points, expected {nbins}")

    n_proj = int(props.get("melody.project.vector.number", "3"))
    seed_rows = hist.select("w").limit(8).collect()
    sw = np.array([r[0] for r in seed_rows], dtype=np.float64)
    cfg = build_config(bins, seed_weights=sw, n_proj=n_proj)
    # honor user-supplied projection vectors when present (README.md:23-24)
    vec_path = props.get("melody.project.vector.hdfs.path")
    if vec_path:
        from .kernel import projection_positions

        vecs = read_flat_doubles(spark, vec_path).reshape(-1, dim)
        cfg.proj_positions = [projection_positions(bins, v) for v in vecs]

    if join_type == "distance":
        theta = float(props["melody.join.distance.threshold"])
        res = emd_join_nd(hist, bins, theta, cfg=cfg, strategy=strategy, grid=grid)
        out = res.select("rid", "sid")  # reference emits id pairs
    elif join_type == "topk":
        k = int(props["melody.join.k"])
        res = emd_topk_nd(
            hist, bins, k, cfg=cfg,
            strategy="grid" if strategy == "pivot" else strategy, grid=grid,
        )
        out = res.select("rank", "rid", "sid", "emd")
    else:
        raise ValueError(f"unknown melody.join.type {join_type!r}")

    out_path = props.get("data.output.hdfs.path")
    if write_output and out_path:
        line = F.concat_ws(" ", *[F.col(c).cast("string") for c in out.columns])
        out.select(line.alias("value")).write.mode("overwrite").text(out_path)
    return out


def run_generate_from_properties(
    spark: SparkSession,
    properties_path: str,
    decoder=None,
    fake: bool = False,
    write_output: bool = True,
) -> dict[str, DataFrame]:
    """Execute the reference's SECOND entry point, ``Generate``
    (src/com/iojin/melody/Generate.java:27, README.md:60-90), from its own
    properties file: read the media corpus, extract one histogram dataset
    per enabled feature, and (optionally) write each in the reference's
    text format to ``generate.output.hist.dir/<feature>``.

    Input modes (``generate.mr.input``, Generate.java:130-199):
      local / hdfs -> Spark ``binaryFile`` scan of
                      ``generate.input.image.dir`` (replaces HIPI bundling —
                      Spark's source already splits/distributes binary files)
      http / url   -> ``generate.input.image.dir`` is a URL-list text file;
                      executor-side fetch via sources/crawl (CrawlReducer
                      analog), failed fetches dropped like the reference's
                      error-swallowing crawl loop.

    ``generate.enabled.features`` ('/'-separated Lire feature names,
    GenerateUtil.java:44-60) selects the extractors.  The default extractor
    is ``multimodal.sniff_decoder``: REAL pixel-level color-cube histograms
    for PPM, PNG and baseline JPEG payloads and sample-level amplitude
    histograms for 16-bit PCM WAV (all pure python/numpy, hash-gated),
    byte-histogram fallback for other formats.  ``decoder=`` supplies a
    codec-backed callable ``(bytes, bins) -> np.ndarray`` (or a dict
    feature->callable) for progressive JPEG / MP3 / video — the one
    remaining integration point in this codec-less container.

    Returns {feature: (id, w) DataFrame} — each directly joinable by
    ``emd_join_nd`` / consumable by a reference deployment.
    """
    from .plans.generate import generate_histograms, generate_to_text
    from .sources.crawl import crawl_media

    props = load_properties(properties_path)
    mode = props.get("generate.mr.input", "local").lower()
    in_path = props["generate.input.image.dir"]
    out_dir = props.get("generate.output.hist.dir", "")
    bins = int(props.get("data.bin.number", "30") or 30)
    features = [
        f for f in props.get("generate.enabled.features", "ch").split("/") if f
    ] or ["ch"]

    media = None
    crawled = None
    if mode in ("http", "url"):
        urls = spark.read.text(in_path).select(F.col("value").alias("url"))
        media = crawl_media(urls).where(F.col("error").isNull()).drop("error")
        if len(features) > 1:
            # persist the crawl snapshot: every enabled feature would
            # otherwise re-trigger the full URL fetch, and flaky fetches
            # could make features see DIFFERENT document sets in one run
            media = persist(media)
            crawled = media

    out: dict[str, DataFrame] = {}
    for feat in features:
        dec = decoder.get(feat) if isinstance(decoder, dict) else decoder
        if dec is None and not fake:
            from .operators.multimodal import sniff_decoder

            dec = sniff_decoder
        hist = generate_histograms(
            spark,
            input_path=None if media is not None else in_path,
            media=media,
            bins=bins,
            decoder=dec,
            fake=fake,
        )
        out[feat] = hist
        if write_output and out_dir:
            generate_to_text(hist, f"{out_dir.rstrip('/')}/{feat}")
    if crawled is not None:
        # one registration: the snapshot lives while any write_output
        # materialization above runs; afterwards it follows the last
        # feature frame's lifetime (early release = recompute, never
        # correctness — cache.py contract)
        release_on_gc(next(reversed(out.values())), crawled)
    return out
