"""Per-layer metrics of the traced run.

``PER_LAYER`` is the catalog printed by every traced run, in the order of
BENCHMARK.json. A layer that a workload does not run reads 0 there. Layer
times are span self times (a ``store.write`` child is store time, not layer
time); counts come from stage markers, operation outputs and Spark's event
log. Where a span occurs once per step, the metric is its median.
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import functions as F

import tracing

STAGES = ["extracted", "doc_stats", "signatures", "buckets", "candidates",
          "pairs_scored", "similarity", "knn", "containment", "assignments",
          "component_info", "best_nn", "outliers"]
INCREMENTAL_PHASES = [
    "tripwires", "extract", "membership", "signatures", "score", "appends",
    "extracted_append", "fin_markers", "fin_scope", "fin_upd_knn",
    "fin_upd_best_nn_outliers", "fin_upd_components", "fin_derived",
    "fin_manifest", "fin_bloom", "finalize"]
REPLAY_LAYERS = ["extract", "signatures", "lsh", "verify", "knn", "lcs", "cc", "outliers"]
SPARK_ALL = [("jobs", "count"), ("tasks", "count"), ("shuffle_read_mb", "MB"),
             ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio")]
# Spark counters kept per span: all of them on the calls where the fixed
# per-job floor dominates, jobs and shuffle volume on the replayed stages,
# and jobs, shuffle and spill on the corpus-cleaning reads
SPARK_SPANS = (
    [(op, SPARK_ALL) for op in ("run", "update", "search", "dups")]
    + [(layer, [("jobs", "count"), ("shuffle_write_mb", "MB")]) for layer in REPLAY_LAYERS]
    + [(op, [("jobs", "count"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB")])
       for op in ("spans", "lines", "semdedup")])

PER_LAYER: list[tuple[str, str]] = (
    [("extract.s", "s"), ("extract.rows_per_s", "rows/s"),
     ("signatures.s", "s"), ("signatures.rows_per_s", "rows/s"),
     ("lsh.s", "s"), ("lsh.bucket_rows", "count"), ("lsh.max_bucket", "count"),
     ("lsh.candidates", "count"), ("lsh.candidate_yield", "ratio"),
     ("verify.s", "s"), ("verify.pairs", "count"),
     ("lcs.s", "s"), ("lcs.pairs", "count"), ("lcs.confirmed", "count"),
     ("cc.s", "s"), ("cc.edges", "count"), ("cc.components", "count"),
     ("knn.s", "s"), ("outliers.s", "s"),
     ("store.write_s", "s"), ("store.write_mb", "MB"), ("store.files", "count"),
     ("store.read_s", "s"), ("store.shards_rewritten", "count"),
     ("store.rewrite_amp", "ratio")]
    + [(f"pipeline.{s}.done_s", "s") for s in STAGES]
    + [("pipeline.critical_path", "s")]
    + [(f"incremental.{p}_s", "s") for p in INCREMENTAL_PHASES]
    + [("incremental.touched_docs", "count"), ("incremental.new_pairs", "count"),
       ("search.candidates", "count"), ("search.hits", "count"),
       ("exactsubstr.tokens_per_s", "tokens/s"), ("exactsubstr.tokens_dropped", "count"),
       ("lines.lines_dropped", "count"),
       ("kmeans.s", "s"), ("semdedup.dropped", "count")]
    + [(f"{op}.s", "s") for op in ("run", "update", "search", "dups", "spans", "lines", "semdedup")]
    + [(f"{span}.{c}", unit) for span, cs in SPARK_SPANS for c, unit in cs]
    + [("driver.peak_rss_mb", "MB"),
       ("trace.overhead_s", "s"), ("trace.unattributed_jobs", "count")])


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def search_candidates(fd, queries) -> int:
    """(query, doc) candidates the band probe of ``search_many`` yields."""
    from fastdup_spark.functions.signatures import with_signatures
    from fastdup_spark.operators.lsh import band_buckets

    cfg = fd.config
    qsig = with_signatures(queries, cfg).select("query_id", "minhash")
    qb = band_buckets(qsig, cfg.lsh_bands, cfg.lsh_rows, id_col="query_id") \
        .select(F.col("doc_id").alias("query_id"), "band_id", "bucket")
    return (fd.store.read(fd.spark, "buckets").select("doc_id", "band_id", "bucket")
            .join(qb, ["band_id", "bucket"]).select("query_id", "doc_id")
            .distinct().count())


def _clean_ops(fd) -> dict:
    """The corpus-cleaning reads, each consumed by one aggregate that reads
    every output column and yields the layer's counts. Each call builds its
    DataFrame itself: ``fd.semdedup()`` fits k-means eagerly."""
    def h(df):
        return F.sum(F.xxhash64(*df.columns).bitwiseAND(F.lit(0xFFFFFFFF)))

    def spans():
        df = fd.remove_spans(k=50)
        return df.agg(F.sum("n_tokens"), F.sum("n_dropped"), h(df)).first()

    def lines():
        df = fd.remove_lines()
        return df.agg(F.sum("n_dropped"), h(df)).first()

    def semdedup():
        df = fd.semdedup()["decisions"]
        return df.agg(F.sum((~F.col("is_survivor")).cast("int")), h(df)).first()

    return {"spans": spans, "lines": lines, "semdedup": semdedup}


def batch_extras(bench, wl) -> dict:
    """Traced-only work after the batch_dedup loop: the stage offsets of the
    last fd.run, the layer replay, and the corpus-cleaning layers (run once
    to warm up, then once measured, with identical outputs)."""
    from replay import Replay

    from fastdup_spark.operators.kmeans import kmeans_fit

    fd, tr, out = wl.fd, bench.tracer, {}
    done = (fd.store.read_json("run_manifest") or {}).get("stage_completed_s", {})
    for s in STAGES:
        out[f"pipeline.{s}.done_s"] = float(done.get(s, 0.0))
    out["pipeline.critical_path"] = max(done.get("component_info", 0.0),
                                        done.get("outliers", 0.0))
    with tr.span("replay", op=tr.new_op()):
        rp = Replay(bench.spark, os.path.join(bench.work, "replay"), tr)
        summ = rp.run(wl.pages)
    bench.check(summ == wl.summary, "replay", f"summary {summ} != {wl.summary}")
    out.update(rp.counts)
    out["store.write_mb"] = rp.write_bytes / (1024 * 1024)
    out["store.files"] = rp.write_files

    runs = []
    for prefix in ("warmup.", ""):
        runs.append({name: bench.op(prefix + name, fn)
                     for name, fn in _clean_ops(fd).items()})
    bench.check(runs[0] == runs[1], "clean", "cleaning outputs differ between runs")
    out["exactsubstr.tokens"] = int(runs[1]["spans"][0] or 0)
    out["exactsubstr.tokens_dropped"] = int(runs[1]["spans"][1] or 0)
    out["lines.lines_dropped"] = int(runs[1]["lines"][0] or 0)
    out["semdedup.dropped"] = int(runs[1]["semdedup"][0] or 0)

    cols = ["n_chars", "n_tokens", "n_lines", "distinct_token_ratio",
            "repeated_line_ratio", "digit_ratio", "punct_ratio", "avg_token_len"]

    def kmeans():   # reading doc_stats submits a job, so it runs inside the span
        vecs = fd.doc_stats().select("doc_id", F.array(
            *[F.coalesce(F.col(c).cast("double"), F.lit(0.0)) for c in cols]).alias("features"))
        return kmeans_fit(vecs, k=8, n_iter=2, id_col="doc_id",
                          vec_col="features")["assignments"].count()

    bench.op("kmeans", kmeans)
    return out


def trickle_extras(bench, wl) -> dict:
    with bench.checked("search_candidates"):
        return {"search.candidates": search_candidates(wl.fd, wl.last_queries)}


EXTRAS = {"batch_dedup": batch_extras, "trickle_update": trickle_extras}


def assemble(bench, extras: dict, jobs: list, tasks: dict, loop_start: float,
             overhead_s: float) -> dict:
    """Every PER_LAYER metric from the spans, the event log and ``extras``."""
    spans = bench.tracer.spans
    counters = tracing.spark_counters(spans, jobs, tasks)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    timed = {n: [s for s in ss if s["start"] >= loop_start] for n, ss in by_name.items()}

    def replay_spans(name):
        return [s for s in by_name.get(name, []) if _under(spans, s, "replay")]

    v: dict[str, float] = {n: 0.0 for n, _ in PER_LAYER}
    v.update({k: x for k, x in extras.items() if k in v})
    for layer in REPLAY_LAYERS:
        ss = replay_spans(layer)
        if ss:
            v[f"{layer}.s"] = tracing.self_time(spans, ss[0]["id"])
            for c in ("jobs", "shuffle_write_mb"):
                v[f"{layer}.{c}"] = counters[ss[0]["id"]][c]
    v["store.write_s"] = sum(s["end"] - s["start"] for s in replay_spans("store.write"))
    v["store.read_s"] = sum(s["end"] - s["start"] for s in replay_spans("store.read"))
    for rate, layer, rows in (("extract.rows_per_s", "extract", "extract.rows"),
                              ("signatures.rows_per_s", "signatures", "signatures.rows")):
        if v[f"{layer}.s"] > 0:
            v[rate] = extras.get(rows, 0) / v[f"{layer}.s"]
    v["kmeans.s"] = _median([s["end"] - s["start"] for s in by_name.get("kmeans", [])])

    for op in ("run", "update", "search", "dups", "spans", "lines", "semdedup"):
        ss = timed.get(op, [])
        v[f"{op}.s"] = _median([s["end"] - s["start"] for s in ss])
    for span, cs in SPARK_SPANS:
        if span in REPLAY_LAYERS:
            continue
        for c, _ in cs:
            v[f"{span}.{c}"] = _median([counters[s["id"]][c] for s in timed.get(span, [])])

    if v["spans.s"] > 0:
        v["exactsubstr.tokens_per_s"] = extras.get("exactsubstr.tokens", 0) / v["spans.s"]
    upd = bench.info.get("update_stats", [])
    for p in INCREMENTAL_PHASES:
        v[f"incremental.{p}_s"] = _median(
            [u["phase_completed_s"].get(p, 0.0) for u in upd])
    v["incremental.touched_docs"] = _median([u["touched_docs"] for u in upd])
    v["incremental.new_pairs"] = _median([u["new_pairs"] for u in upd])
    rw = bench.info.get("rewrite", [])
    if rw:
        v["store.shards_rewritten"] = _median([r["shards"] for r in rw])
        v["store.rewrite_amp"] = _median([r["amp"] for r in rw])
        v["store.write_mb"] = _median([r["mb"] for r in rw])
        v["store.files"] = _median([r["files"] for r in rw])
    v["search.hits"] = bench.info.get("search_hits", 0)
    v["trace.overhead_s"] = overhead_s
    v["trace.unattributed_jobs"] = tracing.unattributed_jobs(spans, jobs, loop_start)
    return v


def _under(spans, s, root_name) -> bool:
    p = s["parent"]
    while p is not None:
        if spans[p]["name"] == root_name:
            return True
        p = spans[p]["parent"]
    return False
