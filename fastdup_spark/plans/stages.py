"""The dedup stages, each defined once.

``FastdupSpark.run`` (plans/pipeline.py) runs them over the whole corpus;
``incremental_update`` (streaming/incremental.py) runs the same
derivations over a batch's increment and the same table writes on its
full-rebuild path. The writers own each derived table's layout (shard
key, in-shard sort, marker counters), so a full write and an incremental
shard overwrite cannot drift apart. Nothing here branches on its caller:
resume checks, scoping and appends stay with the callers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# lcs_confirm and doc_stats are looked up per call (patchable attributes)
from fastdup_spark.functions import lcs as _lcs
from fastdup_spark.functions.signatures import with_signatures
from fastdup_spark.functions.similarity import (
    exact_jaccard_expr, hamming_expr, sig_jaccard_expr,
)
from fastdup_spark.operators.cc import connected_components
from fastdup_spark.operators.knn import knn_truncate
from fastdup_spark.operators import stats as _stats
from fastdup_spark.operators.outliers import best_neighbor, outliers_by_percentile


def extract_pages(pages: DataFrame, cfg) -> DataFrame:
    """Extract + quarantine (ref: decode + bad-files list) in ONE pass of
    the extraction UDF: (doc_id, url, warc_ts, lang, text, error_code,
    is_valid). doc_id = xxhash64(url): deterministic, order-independent
    identity (ref uses listing order, RUN.md:106-115 — ours must not)."""
    from fastdup_spark.functions.extract import extract_text_udf
    return pages.withColumn(
        "_ex", extract_text_udf(cfg.min_text_chars)(F.col("html"))).select(
        F.xxhash64("url").alias("doc_id"), "url", "warc_ts", "lang",
        F.col("_ex.extracted_text").alias("text"),
        F.col("_ex.error_code").alias("error_code"),
        (F.col("_ex.error_code") == "").alias("is_valid"),
    )


def doc_stats_rows(docs: DataFrame) -> DataFrame:
    """Per-doc stats (ref: atrain_stats.csv)."""
    return _stats.doc_stats(docs.select("doc_id", "text"), id_col="doc_id")


def signature_rows(docs: DataFrame, cfg) -> DataFrame:
    """The signatures table's rows (ref: atrain_features.dat)."""
    return with_signatures(docs, cfg).select(
        "doc_id", "minhash", "simhash", "shingles", "n_shingles")


def score_pairs(cands: DataFrame, sigs: DataFrame, cfg) -> DataFrame:
    """Verify candidate (src, dst) pairs -> (src, dst, sig_jaccard,
    hamming, jaccard). ONE join per side fetches minhash+simhash+shingles
    together: the sig_jaccard prefilter still runs BEFORE the exact
    Jaccard, it just no longer saves shipping shingles for rejected pairs
    (measured 2.1s -> 1.2s on the 100k-page bench corpus, where most
    candidates survive the prefilter)."""
    wide = sigs.select("doc_id", "minhash", "simhash", "shingles")

    def side(key: str, sfx: str) -> DataFrame:
        return wide.select(F.col("doc_id").alias(key),
                           F.col("minhash").alias("mh_" + sfx),
                           F.col("simhash").alias("sh_" + sfx),
                           F.col("shingles").alias("sg_" + sfx))

    return (
        cands.join(side("src", "a"), "src").join(side("dst", "b"), "dst")
        .withColumn("sig_jaccard", sig_jaccard_expr(F.col("mh_a"), F.col("mh_b")))
        .filter(F.col("sig_jaccard") >= cfg.sig_jaccard_prefilter)
        .withColumn("hamming", hamming_expr(F.col("sh_a"), F.col("sh_b")))
        .withColumn("jaccard", exact_jaccard_expr(F.col("sg_a"), F.col("sg_b")))
        .select("src", "dst", "sig_jaccard", "hamming", "jaccard")
    )


def similarity_rows(scored: DataFrame, cfg) -> DataFrame:
    """ALL verified edges >= cfg.threshold (the >=0.99 dup-pair recall
    contract is measured on them, so no truncation)."""
    return scored.filter(F.col("jaccard") >= cfg.threshold) \
        .select("src", "dst", "jaccard", "sig_jaccard", "hamming")


def cc_edges(scored: DataFrame, cfg) -> DataFrame:
    return scored.filter(F.col("jaccard") >= cfg.cc_threshold) \
        .select("src", "dst")


def containment_candidates(scored: DataFrame, cfg) -> DataFrame:
    """Sub-threshold pairs that may be verbatim-containment duplicates."""
    return scored.filter(F.col("jaccard") < cfg.threshold).select("src", "dst")


def confirm_containment(sub: DataFrame, texts: DataFrame, cfg) -> DataFrame:
    """LCS confirm of (src, dst) pairs over (doc_id, text) ``texts``."""
    def side(key: str, col: str) -> DataFrame:
        return texts.select(F.col("doc_id").alias(key), F.col("text").alias(col))

    pt = sub.join(side("src", "text_a"), "src").join(side("dst", "text_b"), "dst")
    return _lcs.lcs_confirm(pt, cfg.lcs_cap_chars).filter(
        F.col("lcs_len") >= cfg.lcs_min_len)


# Derived tables are hash-bucketed by pmod(id, n_shards). best_nn shard
# files are sorted by best_sim so the outlier cut's pushed range predicate
# skips row groups on incremental batches.
_LAYOUT = {
    "knn": {},
    "best_nn": {"sort_within": ["best_sim"]},
    "outliers": {},
    "assignments": {},
    "component_info": {"id_col": "component_id"},
}


def write_derived(fd, df: DataFrame, stage: str,
                  counters: dict | None = None) -> dict:
    return fd.store.write_sharded(df, stage, fd._chash, fd.n_shards,
                                  counters=counters, **_LAYOUT[stage])


def overwrite_derived(fd, df: DataFrame, stage: str,
                      shards: list[int]) -> dict:
    """Rewrite only ``shards`` of a derived table (marker counters kept)."""
    return fd.store.overwrite_shards(
        df, stage, fd._chash, shards,
        sort_within=_LAYOUT[stage].get("sort_within"))


def write_knn(fd, sim: DataFrame) -> None:
    """Top nearest_neighbors_k neighbors PER DOC of the similarity rows
    ``sim`` (≈ the reference's similarity.csv, __init__.py:486,574):
    <= k rows/doc even when a dup clique makes the edge set quadratic."""
    k = fd.config.knn_k
    write_derived(fd, knn_truncate(sim, k), "knn", counters={"k": k})


def write_best_nn(fd, docs: DataFrame, scored: DataFrame) -> None:
    write_derived(fd, best_neighbor(docs, scored, sim_col="jaccard"), "best_nn")


def write_outliers(fd) -> None:
    """Bottom outlier_pct of the persisted best_nn, then the cutoff stamp."""
    n_valid = (fd.store.read_json("extract_counts") or {}).get("valid")
    write_derived(fd, outliers_by_percentile(
        fd.store.read(fd.spark, "best_nn"), fd.config.outlier_pct,
        n=n_valid), "outliers")
    record_outlier_cutoff(fd)


def record_outlier_cutoff(fd, extra: dict | None = None,
                          out_frame: DataFrame | None = None) -> None:
    """Stamp the realized outlier cutoff (max best_sim of the table) into
    the outliers marker: the next incremental batch prunes its best_nn
    scan at it instead of re-running the percentile job. ``extra``
    counters ride along. ``out_frame``: the materialized outlier set when
    it equals the written table — skips the write->read barrier."""
    src = out_frame if out_frame is not None \
        else fd.store.read(fd.spark, "outliers")
    c = src.agg(F.max("best_sim")).first()[0]
    m = fd.store.read_marker("outliers") or {}
    fd.store.refresh_marker(
        "outliers", fd._chash,
        counters={**m.get("counters", {}), **(extra or {}),
                  "cutoff": None if c is None else float(c)})


def write_assignments(fd, docs: DataFrame, scored: DataFrame) -> None:
    """CC at cc_threshold (ref: connected_components.csv): every doc a
    row, label = min member id."""
    asg = connected_components(
        cc_edges(scored, fd.config), vertices=docs.select("doc_id"),
        checkpoint_every=fd.config.checkpoint_every_cc_iters)
    write_derived(fd, asg, "assignments")


def write_manifest(fd, **extra) -> dict:
    """summary() (ref: config.json + summary()) from the extract counts and
    the stage markers — no table re-scans — persisted with the config as
    run_manifest, plus ``extra`` fields. Returns the summary."""
    counts = fd.store.read_json("extract_counts") or {}
    n_valid, n_bad = counts.get("valid", 0), counts.get("bad", 0)
    summ = _stats.summary_stats(
        n_pages=n_valid + n_bad, n_valid=n_valid, n_quarantined=n_bad,
        component_info=fd.store.read(fd.spark, "component_info"),
        n_pairs=fd.store.read_marker("similarity")["rows"],
        n_outliers=fd.store.read_marker("outliers")["rows"])
    fd.store.write_json({"config": fd.config.to_dict(), "config_hash": fd._chash,
                         "summary": summ, **extra}, "run_manifest")
    return summ


def write_component_info(fd) -> None:
    info = fd.store.read(fd.spark, "assignments").groupBy("component_id") \
        .agg(F.count("*").alias("count"))
    write_derived(fd, info, "component_info")
