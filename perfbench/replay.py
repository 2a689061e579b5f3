"""Layer-by-layer replay of ``FastdupSpark.run`` for the traced batch_dedup run.

The stages run one after another, each through its layer's public function
and with the run's config, so that every layer gets its own span and the
Spark jobs it submits are attributed to it. Each layer's output is
materialised inside the layer span (``localCheckpoint``), then written
through ``StageStore`` inside a nested ``store.write`` span, so layer time
and store time are measured apart. The replay's summary must equal the
summary of the ``fd.run`` it shadows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fastdup_spark import FastdupSpark
from fastdup_spark.config import resolve_store_shards
from fastdup_spark.functions.extract import extract_text_udf
from fastdup_spark.functions.lcs import lcs_confirm
from fastdup_spark.functions.signatures import with_signatures
from fastdup_spark.functions.similarity import (
    exact_jaccard_expr, hamming_expr, sig_jaccard_expr,
)
from fastdup_spark.operators.cc import connected_components
from fastdup_spark.operators.knn import knn_truncate
from fastdup_spark.operators.lsh import (
    band_buckets, bucket_stats, candidate_pairs, salt_buckets,
)
from fastdup_spark.operators.outliers import best_neighbor, outliers_by_percentile
from fastdup_spark.operators.stats import summary_stats
from fastdup_spark.plans.store import SHARD_COL, shard_expr
from workloads import store_files


class Replay:
    def __init__(self, spark, work_dir: str, tracer):
        self.fd = FastdupSpark(spark, work_dir)
        self.store = self.fd.store
        self.tracer = tracer
        self.counts: dict[str, float] = {}
        self.write_bytes = 0
        self.write_files = 0

    def _write(self, stage: str, fn):
        """Run a StageStore write inside a ``store.write`` span and account
        the bytes and files it left on disk."""
        with self.tracer.span("store.write"):
            marker = fn()
        files = store_files(self.store.table_path(stage))
        self.write_bytes += sum(size for size, _ in files.values())
        self.write_files += len(files)
        return marker

    def _read(self, stage: str):
        with self.tracer.span("store.read"):
            return self.store.read(self.fd.spark, stage)

    def run(self, pages) -> dict:
        fd, store, cfg, tr = self.fd, self.store, self.fd.config, self.tracer
        chash = fd._chash
        c = self.counts

        with tr.span("extract"):
            n_pages = pages.count()
            n_sh = resolve_store_shards(n_pages)
            store.write_json({"n_shards": n_sh, "sharded_by": "doc_id"}, "store_layout")
            udf = extract_text_udf(cfg.min_text_chars)
            ext = pages.withColumn("_ex", udf(F.col("html"))).select(
                F.xxhash64("url").alias("doc_id"), "url", "warc_ts", "lang",
                F.col("_ex.extracted_text").alias("text"),
                F.col("_ex.error_code").alias("error_code"),
                (F.col("_ex.error_code") == "").alias("is_valid"),
            ).withColumn(SHARD_COL, shard_expr("doc_id", n_sh)) \
             .repartition(F.col(SHARD_COL)).localCheckpoint(eager=True)
            marker = self._write("extracted", lambda: store.write(
                ext, "extracted", chash, partition_by=["is_valid", SHARD_COL]))
            n_bad = sum(f["rows"] for f in marker["files"]
                        if "is_valid=false" in f["file"])
            n_valid = marker["rows"] - n_bad
            store.write_json({"valid": n_valid, "bad": n_bad}, "extract_counts")
            c["extract.rows"] = marker["rows"]
        with tr.span("store.read"):
            docs = fd.docs()

        with tr.span("signatures"):
            sigs = with_signatures(docs, cfg).select(
                "doc_id", "minhash", "simhash", "shingles", "n_shingles"
            ).localCheckpoint(eager=True)
            m = self._write("signatures", lambda: store.write_sharded(
                sigs, "signatures", chash, fd.n_shards))
            c["signatures.rows"] = m["rows"]
        sigs = self._read("signatures")

        with tr.span("lsh"):
            buckets = band_buckets(sigs, cfg.lsh_bands, cfg.lsh_rows)
            stats = bucket_stats(buckets)
            salted = salt_buckets(buckets, stats, cfg.max_bucket_size,
                                  cfg.bucket_salt_target).localCheckpoint(eager=True)
            m = self._write("buckets", lambda: store.write(salted, "buckets", chash))
            c["lsh.bucket_rows"] = m["rows"]
            c["lsh.max_bucket"] = bucket_stats(salted).agg(
                F.coalesce(F.max("bucket_size"), F.lit(0))).first()[0]
            cands = candidate_pairs(self._read("buckets")).localCheckpoint(eager=True)
            self._write("candidates", lambda: store.write(cands, "candidates", chash))
            c["lsh.candidates"] = store.read_marker("candidates")["rows"]
        cands = self._read("candidates")

        with tr.span("verify"):
            wide = sigs.select("doc_id", "minhash", "simhash", "shingles")
            scored = (
                cands
                .join(wide.select(F.col("doc_id").alias("src"),
                                  F.col("minhash").alias("mh_a"),
                                  F.col("simhash").alias("sh_a"),
                                  F.col("shingles").alias("sg_a")), "src")
                .join(wide.select(F.col("doc_id").alias("dst"),
                                  F.col("minhash").alias("mh_b"),
                                  F.col("simhash").alias("sh_b"),
                                  F.col("shingles").alias("sg_b")), "dst")
                .withColumn("sig_jaccard", sig_jaccard_expr(F.col("mh_a"), F.col("mh_b")))
                .withColumn("hamming", hamming_expr(F.col("sh_a"), F.col("sh_b")))
                .filter(F.col("sig_jaccard") >= cfg.sig_jaccard_prefilter)
                .withColumn("jaccard", exact_jaccard_expr(F.col("sg_a"), F.col("sg_b")))
                .select("src", "dst", "sig_jaccard", "hamming", "jaccard")
            ).localCheckpoint(eager=True)
            m = self._write("pairs_scored", lambda: store.write(
                scored, "pairs_scored", chash))
            c["verify.pairs"] = m["rows"]
        scored = self._read("pairs_scored")

        with tr.span("knn"):
            sim = scored.filter(F.col("jaccard") >= cfg.threshold) \
                        .select("src", "dst", "jaccard", "sig_jaccard", "hamming")
            m = self._write("similarity", lambda: store.write(
                sim, "similarity", chash, counters={"threshold": cfg.threshold}))
            n_sim = m["rows"]
            knn = knn_truncate(sim, cfg.knn_k).localCheckpoint(eager=True)
            self._write("knn", lambda: store.write_sharded(
                knn, "knn", chash, fd.n_shards, counters={"k": cfg.knn_k}))

        with tr.span("lcs"):
            sub = scored.filter(F.col("jaccard") < cfg.threshold).select("src", "dst")
            texts = docs.select("doc_id", "text")
            pt = (sub.join(texts.select(F.col("doc_id").alias("src"),
                                        F.col("text").alias("text_a")), "src")
                     .join(texts.select(F.col("doc_id").alias("dst"),
                                        F.col("text").alias("text_b")), "dst"))
            lcs = lcs_confirm(pt, cfg.lcs_cap_chars).localCheckpoint(eager=True)
            c["lcs.pairs"] = lcs.count()
            conf = lcs.filter(F.col("lcs_len") >= cfg.lcs_min_len)
            m = self._write("containment", lambda: store.write(conf, "containment", chash))
            c["lcs.confirmed"] = m["rows"]

        with tr.span("cc"):
            cc_edges = scored.filter(F.col("jaccard") >= cfg.cc_threshold) \
                             .select("src", "dst").localCheckpoint(eager=True)
            c["cc.edges"] = cc_edges.count()
            asg = connected_components(
                cc_edges, vertices=docs.select("doc_id"),
                checkpoint_every=cfg.checkpoint_every_cc_iters).localCheckpoint(eager=True)
            self._write("assignments", lambda: store.write_sharded(
                asg, "assignments", chash, fd.n_shards))
            info = self._read("assignments").groupBy("component_id") \
                .agg(F.count("*").alias("count")).localCheckpoint(eager=True)
            m = self._write("component_info", lambda: store.write_sharded(
                info, "component_info", chash, fd.n_shards, id_col="component_id"))
            c["cc.components"] = m["rows"]

        with tr.span("outliers"):
            bn = best_neighbor(docs, scored, sim_col="jaccard").localCheckpoint(eager=True)
            self._write("best_nn", lambda: store.write_sharded(
                bn, "best_nn", chash, fd.n_shards, sort_within=["best_sim"]))
            out = outliers_by_percentile(self._read("best_nn"), cfg.outlier_pct,
                                         n=n_valid).localCheckpoint(eager=True)
            m = self._write("outliers", lambda: store.write_sharded(
                out, "outliers", chash, fd.n_shards))
            n_out = m["rows"]

        c["lsh.candidate_yield"] = n_sim / c["lsh.candidates"] if c["lsh.candidates"] else 0.0
        with tr.span("store.read"):
            info = store.read(fd.spark, "component_info")
        with tr.span("summary"):
            return summary_stats(n_pages=n_valid + n_bad, n_valid=n_valid,
                                 n_quarantined=n_bad, component_info=info,
                                 n_pairs=n_sim, n_outliers=n_out)
