"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``(n_docs, seed)`` through
``fastdup_spark.fixtures.pages.generate_pages``. Generated corpora are
cached as parquet under the checkout's ``.perfbench/cache`` directory, keyed
by ``(n_docs, seed, sha256 of fixtures/pages.py)``, so a changed generator
never serves a stale corpus.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd

# one page in HOLD_OUT_MOD is held out of the trickle store (by seeded url hash)
HOLD_OUT_MOD = 6
BATCH_NEW = 95          # held-out pages per trickle batch
BATCH_REDELIVERED = 5   # already-stored pages re-sent in every batch
DUP_KINDS = ("exact", "near")


def _generator_hash(root: str) -> str:
    path = os.path.join(root, "fastdup_spark", "fixtures", "pages.py")
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def corpus_key(root: str, n_docs: int, seed: int) -> str:
    return f"pages-{n_docs}-{seed}-{_generator_hash(root)}"


def load_corpus(root: str, cache_dir: str, n_docs: int, seed: int):
    """Return (pages, truth_pairs, gen_s). ``gen_s`` is the generation time,
    0.0 on a cache hit; it is reported apart from set-up time. Generation
    runs in a child process, so it leaves no trace in this process's peak
    memory, which the benchmark measures."""
    d = os.path.join(cache_dir, corpus_key(root, n_docs, seed))
    pages_f = os.path.join(d, "pages.parquet")
    truth_f = os.path.join(d, "truth_pairs.parquet")
    gen_s = 0.0
    if not os.path.exists(truth_f):
        t0 = time.perf_counter()
        subprocess.run([sys.executable, os.path.abspath(__file__), str(n_docs), str(seed), d],
                       check=True)
        gen_s = time.perf_counter() - t0
    return pd.read_parquet(pages_f), pd.read_parquet(truth_f), gen_s


def _generate(n_docs: int, seed: int, out_dir: str) -> None:
    from fastdup_spark.fixtures.pages import generate_pages

    data = generate_pages(n_docs, seed=seed)
    os.makedirs(out_dir, exist_ok=True)
    pages_f = os.path.join(out_dir, "pages.parquet")
    truth_f = os.path.join(out_dir, "truth_pairs.parquet")
    data.pages.to_parquet(pages_f + ".tmp", index=False)
    data.truth_pairs.to_parquet(truth_f + ".tmp", index=False)
    os.replace(pages_f + ".tmp", pages_f)
    os.replace(truth_f + ".tmp", truth_f)   # written last: marks the entry complete


def url_bucket(urls: pd.Series, seed: int, mod: int) -> np.ndarray:
    """Seeded, process-independent hash of each url, reduced mod ``mod``."""
    return np.array([
        int.from_bytes(hashlib.blake2b(f"{seed}:{u}".encode(),
                                       digest_size=8).digest(), "little") % mod
        for u in urls
    ])


def write_pages(pages: pd.DataFrame, out_dir: str, n_files: int) -> str:
    """Write ``pages`` as an ``n_files``-file parquet dataset that Spark reads
    with the pipeline's input schema (warc_ts as a UTC timestamp)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for i, chunk in enumerate(np.array_split(np.arange(len(pages)), n_files)):
        part = pages.iloc[chunk]
        tbl = pa.Table.from_arrays(
            [pa.array(part["url"], type=pa.string()),
             pa.array(part["warc_ts"].astype("datetime64[us]"),
                      type=pa.timestamp("us")).cast(pa.timestamp("us", tz="UTC")),
             pa.array(part["html"], type=pa.binary()),
             pa.array(part["text"], type=pa.string()),
             pa.array(part["lang"], type=pa.string())],
            names=["url", "warc_ts", "html", "text", "lang"])
        pq.write_table(tbl, os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return out_dir


def to_spark(spark, pages: pd.DataFrame):
    """A small in-memory batch (trickle) with the pipeline's input schema."""
    from fastdup_spark.fixtures.pages import pages_schema

    return spark.createDataFrame(pages[["url", "warc_ts", "html", "text", "lang"]],
                                 schema=pages_schema())


def is_valid_page(pages: pd.DataFrame) -> pd.Series:
    """The fixture's quarantine rows (malformed html) carry empty text."""
    return pages["text"].str.len() > 0


def planted_dup_share(pages: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Share of the corpus that is one side of a planted exact/near pair."""
    t = truth[truth["kind"].isin(DUP_KINDS)]
    members = set(t["src_url"]) | set(t["dst_url"])
    return float(pages["url"].isin(members).mean())


class TrickleFeed:
    """Held-out split and batch sequence of the trickle_update workload.

    Pages whose seeded url hash is 0 mod HOLD_OUT_MOD are held out of the
    store. Batch i carries BATCH_NEW held-out pages plus BATCH_REDELIVERED
    already-stored pages drawn by a seeded RNG, so redelivery and the
    membership confirm run on every step.
    """

    def __init__(self, pages: pd.DataFrame, truth: pd.DataFrame, seed: int):
        held = url_bucket(pages["url"], seed, HOLD_OUT_MOD) == 0
        self.rng = np.random.Generator(np.random.PCG64(seed))
        self.stored = pages[~held].reset_index(drop=True)
        # generation order groups pages by kind: shuffle so every batch mixes them
        held_out = pages[held]
        self.held_out = held_out.iloc[self.rng.permutation(len(held_out))].reset_index(drop=True)
        self.next = 0
        t = truth[truth["kind"].isin(DUP_KINDS)]
        self._partners: dict[str, set] = {}
        for a, b in zip(t["src_url"], t["dst_url"]):
            self._partners.setdefault(a, set()).add(b)
            self._partners.setdefault(b, set()).add(a)
        self._stored_urls = set(self.stored["url"])

    def remaining(self) -> int:
        return (len(self.held_out) - self.next) // BATCH_NEW

    def batch(self) -> tuple[pd.DataFrame, dict]:
        """Next batch plus its expected outcome and measured properties."""
        new = self.held_out.iloc[self.next:self.next + BATCH_NEW]
        self.next += BATCH_NEW
        valid_stored = self.stored[is_valid_page(self.stored)]
        pick = self.rng.choice(len(valid_stored), BATCH_REDELIVERED, replace=False)
        again = valid_stored.iloc[np.sort(pick)]
        batch = pd.concat([new, again], ignore_index=True)
        with_partner = sum(
            1 for u in new["url"] if self._partners.get(u, set()) & self._stored_urls)
        info = {
            "expected_new_docs": int(is_valid_page(new).sum()),
            "partner_share": with_partner / len(batch),
            "redelivered_share": len(again) / len(batch),
        }
        self._stored_urls |= set(new["url"])
        return batch, info


if __name__ == "__main__":
    # python3 loadgen.py <n_docs> <seed> <out_dir>; PYTHONPATH must hold the checkout
    _generate(int(sys.argv[1]), int(sys.argv[2]), sys.argv[3])
