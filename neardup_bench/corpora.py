"""Seeded benchmark corpora and their recall oracles.

Every corpus is a pure function of ``(size, seed)``.  Its rows come
from ``sources.pages.generate_pages_pdf`` — the row generator that
``sources.pages.pages_table`` maps over id ranges, so the rows equal
``pages_table(n, seed)`` — run on the driver while the JVM starts, plus
benchmark-side copies chosen by a seeded hash of the doc id.  The
program under test only ever sees the parquet written here.

The recall oracles use the same inputs.  They are computed in every
run, after the measured calls:

* ``reference`` — the pure-Python MinHash oracle
  (``sketches.minhash.MinHashFactory`` with the pipeline's k and seed,
  over ``operators.arrow_sig.arrow_shingle_set_py``) accepts a planted
  pair when its estimated Jaccard reaches the threshold;
* ``exact`` — ``sources.pages.truth_pairs`` (exact string-shingle
  Jaccard) reaches the threshold.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bloom_filters_spark.operators.arrow_sig import arrow_shingle_set_py
from bloom_filters_spark.pipeline import NearDupConfig
from bloom_filters_spark.sources.pages import generate_pages_pdf, truth_pairs

# Crawl copies, per 100 generated pages.  Mirrors (the same text at a
# distinct URL): 60, the mix of the 100k-page + 60k-exact-copy sizing
# run of the pages entry point (README).  URL aliases (www., :443,
# utm_* params): 30, the middle of the range [18, 40] in which both
# figures pipeline.py gives for web crawls hold — aliases are 30/190 =
# 16% of the rows ("~10-30% of fetches", pages_near_dup) and aliases
# plus mirrors, all exact-text copies, 90/190 = 47% ("commonly 30-50%
# exact dups", NearDupConfig.exact_prededup).  Boilerplate stays at
# the ~1% pages_table plants.
MIRROR_PCT = 60
ALIAS_PCT = 30
ALIAS_OFFSET, MIRROR_OFFSET = 10, 20   # copy doc_id = id + offset * n


@dataclass
class Corpus:
    path: str                 # parquet the program reads
    n_docs: int               # rows in that parquet
    n_base: int               # generated pages it was derived from
    seed: int
    # (copy doc_id, source doc_id): URL aliases and mirror copies, which
    # carry their source's exact text and must share its cluster
    same_cluster: list = field(default_factory=list)
    # planted pairs as doc-id pairs, and the ones each oracle accepts
    # (filled by add_oracles)
    planted: list = field(default_factory=list)
    exact_ok: list = field(default_factory=list)
    reference_ok: list = field(default_factory=list)


def pick(ids: np.ndarray, seed: int, salt: int, pct: int) -> np.ndarray:
    """Seeded per-doc choice, true for ``pct`` percent of the ids
    (splitmix64 of the id mixed with seed and salt)."""
    with np.errstate(over="ignore"):
        x = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        x ^= np.uint64((seed * 1_000_003 + salt) % 2**64)
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return (x % np.uint64(100)) < np.uint64(pct)


def _write(pdf: pd.DataFrame, path: str):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))


def docs_corpus(n: int, seed: int, path: str) -> Corpus:
    """``pages_table(n, seed)`` as ``(doc_id, text)``."""
    pdf = generate_pages_pdf(np.arange(n, dtype=np.int64), seed)
    _write(pdf[["doc_id", "text"]], path)
    return Corpus(path=path, n_docs=n, n_base=n, seed=seed)


def crawl_corpus(n: int, seed: int, path: str) -> Corpus:
    """``pages_table(n, seed)`` plus URL-alias copies and exact-text
    copies at mirror URLs, as ``(doc_id, url, text)``."""
    base = generate_pages_pdf(np.arange(n, dtype=np.int64), seed)[
        ["doc_id", "url", "text"]]
    ids = base["doc_id"].to_numpy()
    aliases = base[pick(ids, seed, 2, ALIAS_PCT)].copy()
    aliases["url"] = [
        u.replace("https://", "https://www.", 1) if i % 3 == 0
        else u.replace(".example/", ".example:443/", 1) if i % 3 == 1
        else f"{u}?utm_source=feed&utm_medium=rss&utm_campaign={i}"
        for u, i in zip(aliases["url"], aliases["doc_id"])]
    aliases["doc_id"] += ALIAS_OFFSET * n
    mirrors = base[pick(ids, seed, 3, MIRROR_PCT)].copy()
    mirrors["url"] = [f"https://mirror{i % 13}.example/copy/{i}"
                      for i in mirrors["doc_id"]]
    mirrors["doc_id"] += MIRROR_OFFSET * n
    pages = pd.concat([base, aliases, mirrors], ignore_index=True)
    _write(pages, path)
    same = [(int(c), int(c) - off * n)
            for off, copies in ((ALIAS_OFFSET, aliases),
                                (MIRROR_OFFSET, mirrors))
            for c in copies["doc_id"]]
    return Corpus(path=path, n_docs=len(pages), n_base=n, seed=seed,
                  same_cluster=same)


def _reference_accepts(texts: dict, pairs, cfg: NearDupConfig) -> list:
    """Pairs whose oracle-estimated Jaccard reaches the threshold."""
    factory = cfg.factory()
    sigs = {}
    for key, text in texts.items():
        sh = arrow_shingle_set_py(text, cfg.shingle_size, cfg.max_value)
        sigs[key] = factory.signature(sh) if len(sh) else None
    out = []
    for a, b in pairs:
        sa, sb = sigs[a], sigs[b]
        if sa is None or sb is None:
            continue
        if float(np.mean(sa == sb)) >= cfg.threshold:
            out.append((a, b))
    return out


def add_oracles(spark: SparkSession, corpus: Corpus, cfg: NearDupConfig):
    """Fill the planted pairs and the ones both recall oracles accept:
    a pure function of the corpus and the config."""
    rows = truth_pairs(spark, corpus.n_base, corpus.seed,
                       w=cfg.shingle_size).collect()
    truth = [(r["id1"], r["id2"], r["jaccard"]) for r in rows]
    ids = sorted({i for t in truth for i in t[:2]})
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(corpus.path)
        .filter(F.col("doc_id").isin(ids)).select("doc_id", "text").collect()
    }
    corpus.planted = [(a, b) for a, b, _ in truth]
    corpus.exact_ok = [(a, b) for a, b, j in truth if j >= cfg.threshold]
    corpus.reference_ok = _reference_accepts(texts, corpus.planted, cfg)


def recall(pairs: list, cluster_of: dict) -> float:
    """Share of ``pairs`` whose two members share a cluster."""
    if not pairs:
        raise ValueError("no oracle-accepted planted pairs: corpus too small")
    hit = sum(1 for a, b in pairs
              if cluster_of.get(a) is not None
              and cluster_of.get(a) == cluster_of.get(b))
    return hit / len(pairs)
