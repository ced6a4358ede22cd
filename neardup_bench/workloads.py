"""The benchmark's workloads: corpus, one closed-loop call, and the
layer-by-layer replay of the traced run.

Every call materializes its full output to Spark's ``noop`` sink, with
an order-free digest of the output rows observed in the same pass (an
``Observation`` adds no extra job).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bloom_filters_spark.checkpoint import (
    CheckpointConfig,
    CheckpointedNearDup,
    read_manifest,
    write_manifest,
)
from bloom_filters_spark.functions.url import canonicalize_url_expr
from bloom_filters_spark.operators.arrow_sig import detect_hot_shingles
from bloom_filters_spark.operators.components import connected_components
from bloom_filters_spark.operators.pairs import _band_key, candidate_pairs
from bloom_filters_spark.pipeline import (
    NearDupConfig,
    near_dup_pipeline,
    pages_near_dup,
    verified_pairs,
)
from bloom_filters_spark.sources.pages import BOILERPLATE_FRACTION

import corpora

GROUP_KEY = "spark.jobGroup.id"


def sink(df: DataFrame, cols: list[str]) -> tuple:
    """Write ``df`` to ``noop``; return (rows, xor, sum) of row hashes."""
    obs = Observation()
    h = F.xxhash64(*[F.col(c) for c in cols])
    df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(2**31))).alias("s"),
    ).write.format("noop").mode("overwrite").save()
    r = obs.get
    return (int(r["n"]), int(r["x"] or 0), int(r["s"] or 0))


class Tracer:
    """Runs a function under a Spark job group and records its wall."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = {}

    def run(self, group: str, fn):
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.walls[group] = (self.walls.get(group, 0.0)
                                 + time.perf_counter() - t0)
            self.sc.setLocalProperty(GROUP_KEY, None)


@dataclass
class CallResult:
    walls: dict                      # phase → wall seconds
    digests: list                    # output digests to compare
    problems: list = field(default_factory=list)


def replay(tr: Tracer, df: DataFrame, cfg: NearDupConfig, id_col: str,
           text_col: str) -> dict:
    """Times the fused near-dup path layer by layer from outside, on the
    stage frames ``near_dup_pipeline(return_stages=True)`` hands back."""
    spark = df.sparkSession
    _, st = tr.run("bench.prep", lambda: near_dup_pipeline(
        df, cfg, id_col, text_col, return_stages=True))
    bands, cands, sigs, pairs = (st["bands"], st["candidates"], st["sigs"],
                                 st["pairs"])
    m = {}
    m["arrow_sig.band_kernel.rows"] = tr.run(
        "arrow_sig.band_kernel", lambda: sink(bands, [id_col, "band_hash"]))[0]
    mode = cfg.pair_mode
    if mode == "auto":
        mode = ("count_join" if df.count() > cfg.pair_mode_threshold
                else "grouped")
    # each timed layer recomputes its output: drop the cached copy the
    # priming call left, or Spark would read the cache instead
    cands.unpersist(blocking=True)
    tr.run("pairs.exchange", lambda: sink(
        candidate_pairs(bands, cfg.max_band_group, id_col, mode),
        ["id1", "id2"]))
    m["pairs.candidates"] = tr.run("bench.prep", cands.persist().count)
    key = _band_key(bands)
    g = tr.run("bench.prep", lambda: bands.groupBy(*key).count().agg(
        F.sum((F.col("count") > cfg.max_band_group).cast("long")),
        F.max("count")).first())
    m["pairs.star_groups"] = int(g[0] or 0)
    m["pairs.max_group"] = int(g[1] or 0)
    sigs.unpersist(blocking=True)
    m["arrow_sig.participant_sigs.docs"] = tr.run(
        "arrow_sig.participant_sigs",
        lambda: sink(sigs, [id_col]))[0]
    tr.run("bench.prep", lambda: sigs.persist().count())
    pairs.unpersist(blocking=True)
    m["verify.pairs"] = tr.run("verify", lambda: sink(
        verified_pairs(cands, sigs, cfg, id_col, sigs_restricted=True),
        ["id1", "id2"]))[0]
    pairs.persist()
    m["verify.yield"] = m["verify.pairs"] / max(m["pairs.candidates"], 1)
    n_edges = tr.run("bench.prep", pairs.count)
    m["components.edges"] = n_edges
    clusters = tr.run("components", lambda: connected_components(
        pairs, vertices=df.select(id_col), id_col=id_col, n_edges=n_edges))
    tr.run("components", lambda: sink(clusters, [id_col, "cluster_id"]))
    m["components.multi_clusters"] = tr.run(
        "bench.prep", lambda: clusters.groupBy("cluster_id").count()
        .filter(F.col("count") > 1).count())
    spark.catalog.clearCache()
    return m


class SmallBatches:
    """One ~5k-row crawl batch (pages plus URL aliases and mirror copies)
    through ``near_dup_pipeline``, re-run from its parquet on every call:
    per-call fixed cost dominates at this size."""

    name = "small-batches"
    n_base = 2600
    # the JVM is still warming: the first warm call varies twice as
    # much as the next ones, so it counts as set-up
    warm_calls = 1
    min_calls = 2
    cfg = NearDupConfig(threshold=0.8)
    out_cols = ["doc_id", "cluster_id"]
    # the pages entry point and its options, replayed in the traced run
    pages_cfg = NearDupConfig(threshold=0.8, exact_prededup="off")
    # below the ~1% share of pages_table's boilerplate template, so the
    # hot-shingle pass finds it
    boilerplate_max_df = BOILERPLATE_FRACTION / 2

    def build(self, seed, root):
        return corpora.crawl_corpus(self.n_base, seed,
                                    os.path.join(root, "pages"))

    def _docs(self, spark, corpus):
        return spark.read.parquet(corpus.path).select("doc_id", "text")

    def reference(self, spark, corpus, root) -> DataFrame:
        """The first (cold) call, written to parquet for the checks."""
        path = os.path.join(root, "reference")
        near_dup_pipeline(self._docs(spark, corpus), self.cfg) \
            .write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def call(self, spark, corpus, root) -> CallResult:
        t0 = time.perf_counter()
        digest = sink(near_dup_pipeline(self._docs(spark, corpus), self.cfg),
                      self.out_cols)
        return CallResult({"call": time.perf_counter() - t0}, [digest])

    def trace(self, tr: Tracer, spark, corpus, root) -> dict:
        docs = self._docs(spark, corpus)
        m = replay(tr, docs, self.cfg, "doc_id", "text")
        hot = tr.run("arrow_sig.hot_shingles", lambda: detect_hot_shingles(
            docs, corpus.n_docs, self.boilerplate_max_df,
            self.cfg.shingle_size, self.cfg.max_value))
        m["arrow_sig.hot_shingles.count"] = len(hot)
        pages = spark.read.parquet(corpus.path)
        reps = pages.withColumn(
            "_curl", canonicalize_url_expr(F.col("url"))
        ).groupBy("_curl").agg(F.min_by("text", "url").alias("_t"))
        n_reps = tr.run("url.canonicalize",
                        lambda: sink(reps, ["_curl", "_t"]))[0]
        m["url.collapse_rate"] = 1.0 - n_reps / corpus.n_docs
        # the near_dup_job --pages shape without and with the exact
        # pre-dedup gate; the first call warms the pages-only plans
        gated = replace(self.pages_cfg, exact_prededup="auto")
        for group, cfg in (("bench.warm", self.pages_cfg),
                           ("pages.call", self.pages_cfg),
                           ("prededup.call", gated)):
            tr.run(group, lambda: sink(pages_near_dup(
                pages, cfg, canonicalize_urls=True), ["url", "cluster_url"]))
        return m


class CheckpointResume:
    """``checkpoint.CheckpointedNearDup``: a cold run into a fresh root,
    then three times a simulated crash that loses 4 of 16 signature
    buckets and every downstream stage, and the resumed run."""

    name = "checkpoint-resume"
    n_base = 4000
    warm_calls = 0       # one call already fills most of a run
    min_calls = 1
    n_buckets = 16
    n_lost = 4
    # crash + resume rounds per call; the first one after the JVM's
    # first checkpointed run is still warming (it runs 8-20% slower),
    # so it is kept apart and latency_s is the median of the others
    n_resumes = 3
    cfg = NearDupConfig(threshold=0.8)
    out_cols = ["doc_id", "cluster_id"]

    def build(self, seed, root):
        return corpora.docs_corpus(self.n_base, seed,
                                   os.path.join(root, "docs"))

    def reference(self, spark, corpus, root) -> DataFrame:
        """The plain ``near_dup_pipeline`` over the same corpus, written
        to parquet: every checkpointed run must reproduce its clusters."""
        path = os.path.join(root, "reference")
        near_dup_pipeline(spark.read.parquet(corpus.path), self.cfg) \
            .write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def _ckpt(self, spark, root):
        return CheckpointedNearDup(
            spark, self.cfg, CheckpointConfig(root, self.n_buckets))

    def crash(self, root):
        """Delete a fixed subset of signature buckets and every stage
        downstream of them, as a crash mid-run would leave the store."""
        sig_dir = os.path.join(root, "signatures")
        man = read_manifest(sig_dir)
        lost = sorted(int(b) for b in man["buckets"])[: self.n_lost]
        for b in lost:
            shutil.rmtree(os.path.join(sig_dir, f"bucket={b}"))
            del man["buckets"][str(b)]
        write_manifest(sig_dir, man)
        for d in os.listdir(root):
            if d in ("pairs", "clusters") or d.startswith("labels_iter"):
                shutil.rmtree(os.path.join(root, d))

    def _recomputed(self, cp) -> int:
        return next(c["recomputed_buckets"] for c in cp.counters
                    if c["stage"] == "signatures")

    def call(self, spark, corpus, root) -> CallResult:
        store = os.path.join(root, "ckpt")
        shutil.rmtree(store, ignore_errors=True)
        docs = spark.read.parquet(corpus.path)
        t0 = time.perf_counter()
        res = CallResult({}, [sink(self._ckpt(spark, store).run(docs),
                                   self.out_cols)])
        res.walls["cold"] = time.perf_counter() - t0
        # several crash + resume rounds on the same store: one resume
        # is the noisiest number of the run
        for n in range(self.n_resumes):
            self.crash(store)
            t0 = time.perf_counter()
            cp = self._ckpt(spark, store)
            res.digests.append(sink(cp.run(docs), self.out_cols))
            res.walls[f"resume{n}" if n else "warm_resume"] = (
                time.perf_counter() - t0)
            recomputed = self._recomputed(cp)
            if recomputed != self.n_lost:
                res.problems.append(f"resume recomputed {recomputed} "
                                    f"buckets, {self.n_lost} were lost")
        return res

    def trace(self, tr: Tracer, spark, corpus, root) -> dict:
        store = os.path.join(root, "ckpt_traced")
        shutil.rmtree(store, ignore_errors=True)
        docs = spark.read.parquet(corpus.path)
        cp = self._ckpt(spark, store)
        sigs = tr.run("checkpoint.signatures",
                      lambda: cp.signatures_stage(docs))
        pairs = tr.run("checkpoint.pairs", lambda: cp.pairs_stage(sigs))
        tr.run("checkpoint.clusters", lambda: sink(
            cp.clusters_stage(pairs, docs.select("doc_id")), self.out_cols))
        m = {"checkpoint.bytes_written": sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(store) for f in files)}
        self.crash(store)
        cp2 = self._ckpt(spark, store)
        tr.run("checkpoint.resume",
               lambda: sink(cp2.run(docs), self.out_cols))
        m["checkpoint.recomputed_buckets"] = self._recomputed(cp2)
        return m


WORKLOADS = {w.name: w for w in (SmallBatches(), CheckpointResume())}
