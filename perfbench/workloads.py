"""The benchmark's closed-loop workloads.

Each workload has one client that issues its next call only after the
previous one returned. A step is one write (the call that produces or
commits derived data) followed by the read-side calls a user issues
against the result. Every call's output is checked; a call that raises or
fails its check counts as failed.

* ``batch_dedup``: ``fd.run(pages, force=True)`` over a fixed corpus, the
  first in its JVM as in a submitted batch job, then reads of the drop
  list, ``fd.duplicates()``, each consumed by a digest sink.
* ``trickle_update``: ``fd.update`` of a 100-page batch into a store built
  at set-up, then rounds of a 50-query ``search_many`` and
  ``duplicates().count()`` on the just-updated store.

The first reads after a write are warm-up reads: checked like the others
but not timed. They run up to twice as long while the JIT warms the read
path, more so under host load, so timing them would make ``read_s`` track
the host rather than the program.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import loadgen

# corpus sizes (pages); the smoke check uses the small ones
SIZES = {"full": {"batch_dedup": 2000, "trickle_update": 1000},
         "smoke": {"batch_dedup": 300, "trickle_update": 700}}
TRICKLE_QUERIES = 50
BATCH_WARMUP_READS = 1    # untimed duplicates() reads after each fd.run
BATCH_READS = 3           # timed ones after those
TRICKLE_WARMUP_READS = 2  # untimed search_many + duplicates().count() rounds after each update
TRICKLE_READS = 3         # timed ones after those
RECALL_MIN = 0.99


class StepFailed(Exception):
    pass


class Bench:
    """Per-run state: the session, the tracer, op timings and failures."""

    def __init__(self, spark, root: str, state: str, work: str, seed: int, size: str,
                 tracer):
        self.spark = spark
        self.root = root
        self.state = state
        self.cache = os.path.join(state, "cache")
        self.work = work
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.ops: dict[str, list[float]] = {}
        self.setup_ops: dict[str, list[float]] = {}
        self.warmup_ops: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.info: dict = {}
        self.timing = False   # latencies are recorded only inside the timed loop
        self.last = 0.0       # latency of the latest call

    def op(self, name: str, fn, warmup: bool = False):
        """Run one call inside its own span, count it and, inside the timed
        loop, record its latency. A warm-up call's span is named
        ``warmup.<name>`` and its latency is kept apart."""
        self.attempted += 1
        with self.tracer.span("warmup." + name if warmup else name, op=self.tracer.new_op()):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.check(False, name, "raised")
                raise StepFailed(name)
            dt = time.perf_counter() - t0
        self.last = dt
        ops = self.warmup_ops if warmup else self.ops if self.timing else self.setup_ops
        ops.setdefault(name, []).append(dt)
        return out

    def check(self, ok: bool, name: str, what: str) -> None:
        """A failed check counts its call as failed."""
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {what}")
            print(f"CHECK FAILED {name}: {what}", file=sys.stderr, flush=True)

    def same_as_before(self, key: str, value, name: str) -> None:
        """Outputs must be identical across runs of one seed: the first run
        in this checkout records ``value``, later runs compare against it."""
        path = os.path.join(self.state, "expect", key + ".json")
        value = json.loads(json.dumps(value))
        if os.path.exists(path):
            with open(path) as f:
                before = json.load(f)
            self.check(value == before, name, f"{value} != {before} of an earlier run")
        else:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump(value, f)

    def checked(self, name: str):
        """Span for out-of-timing check work (its Spark jobs stay attributed)."""
        return self.tracer.span("check." + name)


def dir_mb(path: str) -> float:
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return total / (1024 * 1024)


def store_files(path: str) -> dict:
    """relative path -> (bytes, mtime_ns) of every data file under ``path``."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(d, n))
                out[os.path.relpath(os.path.join(d, n), path)] = (st.st_size, st.st_mtime_ns)
    return out


def rewrite_stats(before: dict, after: dict, new_text_bytes: int) -> dict:
    """Files an update wrote: their count, MB, the (table, shard)
    directories they landed in, and bytes written per byte of new text."""
    changed = [f for f, meta in after.items() if before.get(f) != meta]
    nbytes = sum(after[f][0] for f in changed)
    shards = {(f.split(os.sep)[0], d) for f in changed
              for d in f.split(os.sep) if d.startswith("_shard=")}
    return {"files": len(changed), "mb": nbytes / (1024 * 1024), "shards": len(shards),
            "amp": nbytes / new_text_bytes if new_text_bytes else 0.0}


def digest(df) -> tuple:
    """Digest sink: consumes every output column of ``df``."""
    h32 = F.xxhash64(*df.columns).bitwiseAND(F.lit(0xFFFFFFFF))
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h32).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


def search_queries(spark, pages, n: int, rng):
    """``n`` copies of stored valid pages as (query_id, text) queries."""
    valid = pages[loadgen.is_valid_page(pages)]
    pick = valid.iloc[np.sort(rng.choice(len(valid), min(n, len(valid)), replace=False))]
    q = pd.DataFrame({"query_id": np.arange(len(pick), dtype="int64"),
                      "text": pick["text"].to_numpy()})
    return spark.createDataFrame(q, "query_id bigint, text string"), list(pick["url"])


def check_search(bench: Bench, rows, urls: list[str]) -> None:
    """Each query copies a stored doc: that doc comes back with jaccard 1.0
    and rank 1 holds jaccard 1.0."""
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    bad = 0
    for qid, url in enumerate(urls):
        res = by_q.get(qid, [])
        top = [r for r in res if r["rank"] == 1]
        if not (top and top[0]["jaccard"] == 1.0
                and any(r["url"] == url and r["jaccard"] == 1.0 for r in res)):
            bad += 1
    bench.check(bad == 0, "search", f"{bad} of {len(urls)} queries missed their source doc")


def dup_pair_recall(bench: Bench, fd, truth, stored_urls: set) -> float:
    """Planted exact/near pairs with both pages stored, found in the
    similarity table, over all such pairs."""
    t = truth[truth["kind"].isin(loadgen.DUP_KINDS)
              & truth["src_url"].isin(stored_urls) & truth["dst_url"].isin(stored_urls)]
    tp = bench.spark.createDataFrame(t[["src_url", "dst_url"]], "src_url string, dst_url string")
    a, b = F.xxhash64("src_url"), F.xxhash64("dst_url")
    pairs = tp.select(F.least(a, b).alias("src"), F.greatest(a, b).alias("dst"))
    sim = fd.store.read(bench.spark, "similarity").select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
    found = pairs.join(sim, ["src", "dst"], "left_semi").count()
    return found / len(t) if len(t) else 1.0


class BatchDedup:
    name = "batch_dedup"

    def __init__(self, bench: Bench):
        self.b = bench
        self.pages_pd, self.truth, gen_s = loadgen.load_corpus(
            bench.root, bench.cache, SIZES[bench.size][self.name], bench.seed)
        self.key = loadgen.corpus_key(bench.root, SIZES[bench.size][self.name], bench.seed)
        self.n_pages = len(self.pages_pd)
        self.input_dir = loadgen.write_pages(
            self.pages_pd, os.path.join(bench.work, "input"), n_files=8)
        bench.info.update({
            "generation_s": gen_s, "n_pages": self.n_pages,
            "planted_dup_share": loadgen.planted_dup_share(self.pages_pd, self.truth)})
        self.summary = None
        self.drops = None
        self.store_mb = None

    def setup(self) -> None:
        from fastdup_spark import FastdupSpark

        self.pages = self.b.spark.read.parquet(self.input_dir)
        self.fd = FastdupSpark(self.b.spark, os.path.join(self.b.work, "store"))

    def exhausted(self) -> bool:
        return False

    def step(self) -> tuple[float, list[float]]:
        b, fd = self.b, self.fd
        summ = b.op("run", lambda: fd.run(self.pages, force=True))
        t_write = b.last
        if self.summary is None:
            self.summary = summ
            b.same_as_before(f"{self.name}-{self.key}-summary", summ, "run")
            self.store_mb = dir_mb(fd.store.work_dir)
        b.check(summ == self.summary, "run", f"summary {summ} != {self.summary}")

        n_drop = summ["docs_in_components"] - summ["components_ge2"]
        t_reads = []
        for i in range(BATCH_WARMUP_READS + BATCH_READS):
            warmup = i < BATCH_WARMUP_READS
            drops = b.op("dups", lambda: digest(fd.duplicates()), warmup)
            if not warmup:
                t_reads.append(b.last)
            b.check(drops[0] == n_drop, "dups", f"{drops[0]} drops != {n_drop} in the summary")
            if self.drops is None:
                self.drops = drops
                b.same_as_before(f"{self.name}-{self.key}-drops", drops, "dups")
            b.check(drops == self.drops, "dups", f"digest {drops} != {self.drops}")
        return t_write, t_reads

    def finish(self) -> dict:
        b = self.b
        with b.checked("recall"):
            valid = set(self.pages_pd["url"][loadgen.is_valid_page(self.pages_pd)])
            recall = dup_pair_recall(b, self.fd, self.truth, valid)
        b.check(recall >= RECALL_MIN, "recall", f"dup_pair_recall {recall:.4f} < {RECALL_MIN}")
        return {"dup_pair_recall": recall, "store_mb": self.store_mb,
                "pages_per_write": self.n_pages}


class TrickleUpdate:
    name = "trickle_update"

    def __init__(self, bench: Bench):
        self.b = bench
        pages, self.truth, gen_s = loadgen.load_corpus(
            bench.root, bench.cache, SIZES[bench.size][self.name], bench.seed)
        self.feed = loadgen.TrickleFeed(pages, self.truth, bench.seed)
        self.input_dir = loadgen.write_pages(
            self.feed.stored, os.path.join(bench.work, "input"), n_files=8)
        self.rng = np.random.Generator(np.random.PCG64(bench.seed + 1))
        self.in_store = self.feed.stored.copy()
        bench.info.update({
            "generation_s": gen_s, "n_pages": len(pages),
            "stored_pages": len(self.feed.stored), "held_out_pages": len(self.feed.held_out),
            "planted_dup_share": loadgen.planted_dup_share(pages, self.truth),
            "batch_partner_share": [], "batch_redelivered_share": []})
        self.n_dups = 0
        self.store_mb = None
        self.batch_pages = loadgen.BATCH_NEW + loadgen.BATCH_REDELIVERED

    def setup(self) -> None:
        from fastdup_spark import FastdupSpark

        self.fd = FastdupSpark(self.b.spark, os.path.join(self.b.work, "store"))
        self.b.op("build", lambda: self.fd.run(self.b.spark.read.parquet(self.input_dir)))

    def exhausted(self) -> bool:
        return self.feed.remaining() == 0

    def step(self) -> tuple[float, list[float]]:
        b, fd = self.b, self.fd
        batch_pd, exp = self.feed.batch()
        b.info["batch_partner_share"].append(exp["partner_share"])
        b.info["batch_redelivered_share"].append(exp["redelivered_share"])
        batch = loadgen.to_spark(b.spark, batch_pd)
        fresh = batch_pd[~batch_pd["url"].isin(self.in_store["url"])]
        if b.tracer.enabled:
            before = store_files(fd.store.work_dir)
        st = b.op("update", lambda: fd.update(batch))
        t_write = b.last
        if b.tracer.enabled:
            b.info.setdefault("rewrite", []).append(rewrite_stats(
                before, store_files(fd.store.work_dir),
                int(fresh["text"].str.encode("utf-8").str.len().sum())))
        b.check(st["path"] == "clean", "update", f"path {st['path']} != clean")
        b.check(st["new_docs"] == exp["expected_new_docs"], "update",
                f"new_docs {st['new_docs']} != {exp['expected_new_docs']}")
        b.info.setdefault("update_stats", []).append(
            {k: v for k, v in st.items() if k != "hwm"})
        self.in_store = pd.concat([self.in_store, fresh], ignore_index=True)
        if self.store_mb is None:
            self.store_mb = dir_mb(fd.store.work_dir)

        for _ in range(TRICKLE_WARMUP_READS):
            self.read_round(warmup=True)
        t_reads = [self.read_round() for _ in range(TRICKLE_READS)]
        return t_write, t_reads

    def read_round(self, warmup: bool = False) -> float:
        """A 50-query search_many and a duplicate count; returns their time."""
        b, fd = self.b, self.fd
        q, urls = search_queries(b.spark, self.in_store, TRICKLE_QUERIES, self.rng)
        rows = b.op("search", lambda: fd.search_many(q).collect(), warmup)
        t = b.last
        n_dups = b.op("dups", lambda: fd.duplicates().count(), warmup)
        check_search(b, rows, urls)
        b.check(n_dups >= self.n_dups, "dups", f"duplicates shrank {self.n_dups} -> {n_dups}")
        self.n_dups = n_dups
        self.last_queries = q
        b.info["search_hits"] = len(rows)
        return t + b.last

    def finish(self) -> dict:
        b = self.b
        with b.checked("recall"):
            valid = set(self.in_store["url"][loadgen.is_valid_page(self.in_store)])
            recall = dup_pair_recall(b, self.fd, self.truth, valid)
        b.check(recall >= RECALL_MIN, "recall", f"dup_pair_recall {recall:.4f} < {RECALL_MIN}")
        return {"dup_pair_recall": recall, "store_mb": self.store_mb,
                "pages_per_write": self.batch_pages}


WORKLOADS = {w.name: w for w in (BatchDedup, TrickleUpdate)}
