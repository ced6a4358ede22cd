"""Per-partition checkpoint / resume for the dedup pipeline.

North-rule requirement: every stage checkpoints per-partition state with
lineage + counters so a killed job resumes without recomputing completed
partitions.

Layout (parquet locally; the same protocol targets Iceberg tables on a
cluster — partitionBy(bucket) maps to a partitioned Iceberg table and
the manifest to a snapshot/metadata table):

    <root>/signatures/bucket=<i>/*.parquet   per-bucket signature state
    <root>/signatures/_manifest.json         completed buckets + lineage
    <root>/pairs/*.parquet, _manifest.json   verified pairs
    <root>/labels_iter_<k>/, _manifest.json  label-prop iterations
                                             (distributed path only)
    <root>/clusters/*.parquet, _manifest.json

The stages call the same stage code as ``near_dup_pipeline``: the
exact pre-dedup (``pipeline.collapse_exact_dups``/``expand_exact_dups``),
the boilerplate set (``pipeline.hot_shingle_set``), the candidate →
verify step (``pipeline.verify_candidates``: candidates materialized
once, only their participants' signatures in the verify join),
components solved on the driver whenever the edge set fits
(``operators.components.collect_edges``), and above that the label
propagation loop is ``operators.components.label_propagation``, with
this module's store as its per-iteration materialization.

Resume semantics:
* exact pre-dedup: recomputed on every run (it depends on the input
  alone), so ``"auto"`` pays its HLL ``first()`` on each resume.  Every
  stage stores representatives only; ``run()`` re-expands the clusters.
* signatures: bucket b = pmod(xxhash64(doc_id), n_buckets); only buckets
  missing from the manifest are recomputed (anti-join by bucket id);
  dynamic partition overwrite keeps completed buckets untouched.  The
  manifest's ``"hot_shingles"`` (sorted ints, or null) is the set the
  cold run detected; a resume prunes with it and detects nothing.  A
  manifest without the key counts as written under another config.
* pairs: all-or-nothing stage (skipped when its manifest exists).
* clusters: all-or-nothing on the driver path (no ``labels_iter_<k>``
  is written; the manifest records ``iterations: 0``).  Above the
  driver threshold, or for non-integral ids, distributed label
  propagation checkpoints every iteration as ``labels_iter_<k>`` and
  resumes from the last completed one.
* an empty input gives empty stages: no signature bucket file is
  written, so the stage returns the kernel's empty output instead of
  reading the store back.

Each manifest carries lineage: stage, config fingerprint, per-bucket row
counts and wall_ms.  Row counts come from an ``Observation`` on the
write itself, not from reading the written table back.  A config change
invalidates the checkpoint (the fingerprint no longer matches → stage
recomputes from scratch); a torn or undecodable manifest counts as
absent, so its stage recomputes.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bloom_filters_spark.operators import components
from bloom_filters_spark.operators.pairs import candidate_pairs
from bloom_filters_spark.pipeline import (
    NearDupConfig,
    collapse_exact_dups,
    expand_exact_dups,
    hot_shingle_set,
    lsh_bands,
    signatures,
    verify_candidates,
)


#: spark.conf key that sets the default checkpoint table format for
#: every CheckpointedNearDup run in the session.
FORMAT_CONF_KEY = "spark.bloomFiltersSpark.checkpoint.format"


@dataclass
class CheckpointConfig:
    root: str
    n_buckets: int = 32
    # storage format for every stage table: "parquet" (works anywhere)
    # or any DataSource name on the classpath — "iceberg" (path-based
    # hadoop-catalog tables on a cluster with the Iceberg runtime; same
    # protocol, snapshot metadata replaces the _manifest.json sidecar
    # role for readers, though the manifest is still written for resume
    # logic), "orc", etc.  None (default) resolves from the session conf
    # FORMAT_CONF_KEY, falling back to parquet — so a cluster deployment
    # flips every checkpoint to Iceberg with one --conf and zero code
    # changes.  The sandbox has no Iceberg jar; the dispatch itself is
    # unit-tested end-to-end through the built-in orc source.
    table_format: str | None = None


def _manifest_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, "_manifest.json")


def read_manifest(stage_dir: str) -> dict | None:
    """The stage's manifest, or None when it is missing, torn or
    undecodable — the stage then recomputes."""
    p = _manifest_path(stage_dir)
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            man = json.load(f)
    except ValueError:  # JSONDecodeError and UnicodeDecodeError
        return None
    return man if isinstance(man, dict) else None


def publish_json(path: str, payload: dict):
    """Write ``payload`` to ``path`` crash-safely: a crash at any point
    leaves the old file (or none), never a torn one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        # durable before it is published: a crash after the rename
        # must not leave a file whose bytes never reached the disk
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)  # atomic publish


def write_manifest(stage_dir: str, payload: dict):
    os.makedirs(stage_dir, exist_ok=True)
    publish_json(_manifest_path(stage_dir), payload)


def config_fingerprint(cfg: NearDupConfig) -> str:
    import hashlib

    return hashlib.md5(
        json.dumps(asdict(cfg), sort_keys=True).encode()
    ).hexdigest()


class CheckpointedNearDup:
    """Resumable near-dup pipeline.  ``run()`` is idempotent: re-running
    after a crash recomputes only incomplete work."""

    def __init__(self, spark: SparkSession, cfg: NearDupConfig, ckpt: CheckpointConfig):
        self.spark = spark
        self.cfg = cfg
        self.ckpt = ckpt
        self.table_format = (
            ckpt.table_format
            if ckpt.table_format is not None
            else spark.conf.get(FORMAT_CONF_KEY, "parquet")
        )
        self.fingerprint = config_fingerprint(cfg)
        self.counters: list[dict] = []

    # -- storage seam (parquet | iceberg | any DataSource) ------------------
    def _write(self, df: DataFrame, path: str, partition_by: str | None = None):
        w = df.write.mode("overwrite")
        if partition_by:
            # replace only the partitions this write holds, so completed
            # buckets stay; a per-write option, so no other writer in the
            # session sees it
            w = w.partitionBy(partition_by).option(
                "partitionOverwriteMode", "dynamic")
        w.format(self.table_format).save(path)

    def _read(self, path: str) -> DataFrame:
        return self.spark.read.format(self.table_format).load(path)

    # -- stage 1: bucketed signatures -------------------------------------
    def signatures_stage(self, df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
        sig_dir = os.path.join(self.ckpt.root, "signatures")
        man = read_manifest(sig_dir)
        # bucket assignment is pmod(hash, n_buckets), so a manifest
        # written under a different n_buckets describes DIFFERENT
        # buckets — resuming against it would duplicate or stale rows;
        # one without "hot_shingles" cannot say how its rows were pruned
        done: dict[str, dict] = (
            man["buckets"]
            if man
            and man.get("fingerprint") == self.fingerprint
            and man.get("n_buckets") == self.ckpt.n_buckets
            and "hot_shingles" in man
            else {}
        )
        all_buckets = set(range(self.ckpt.n_buckets))
        missing = sorted(all_buckets - {int(b) for b in done})
        if missing:
            t0 = time.time()
            if not done and os.path.exists(sig_dir):
                # fresh start over an existing dir (config/n_buckets
                # changed, or no stored hot-shingle set): dynamic
                # partition overwrite only replaces partitions this run
                # writes, so stale old-config bucket dirs would survive
                # and feed _read() — clear the stage wholesale first, and
                # the stages computed from its old rows
                import shutil

                for d in os.listdir(self.ckpt.root):
                    if d in ("signatures", "pairs", "clusters") \
                            or d.startswith("labels_iter_"):
                        shutil.rmtree(os.path.join(self.ckpt.root, d))
            # a resume prunes with the stored buckets' set, so every
            # bucket's band hashes stay comparable
            hot = man["hot_shingles"] if done else hot_shingle_set(
                df, self.cfg, df.count, id_col, text_col)
            bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(self.ckpt.n_buckets))
            todo = df.withColumn("bucket", bucket).filter(
                F.col("bucket").isin(missing)
            )
            # bucket is a pure function of the id column: attach it
            # with the same expression instead of re-scanning df
            # through a join
            sigs = signatures(
                todo, self.cfg, id_col, text_col, hot_shingles=hot
            ).withColumn("bucket", bucket)
            # per-bucket lineage counted on the write itself, after the
            # repartition: the observation runs in the result stage, so
            # a retried map stage cannot count a row twice
            obs = Observation()
            counted = sigs.repartition(len(missing), "bucket").observe(
                obs,
                *(F.count_if(F.col("bucket") == b).alias(str(b))
                  for b in missing),
            )
            self._write(counted, sig_dir, partition_by="bucket")
            wall_ms = int((time.time() - t0) * 1000)
            rows = obs.get
            for b in missing:
                n = int(rows[str(b)])
                # buckets with zero output rows still count as completed
                done[str(b)] = {
                    "rows": n,
                    "wall_ms": wall_ms // len(missing) if n else 0,
                }
            write_manifest(
                sig_dir,
                {
                    "stage": "signatures",
                    "fingerprint": self.fingerprint,
                    "n_buckets": self.ckpt.n_buckets,
                    "buckets": done,
                    "hot_shingles": hot,
                },
            )
        self.counters.append(
            {"stage": "signatures", "recomputed_buckets": len(missing),
             "skipped_buckets": self.ckpt.n_buckets - len(missing)}
        )
        if not any(b["rows"] for b in done.values()):
            # an empty input writes no bucket file to read a schema from:
            # the kernel's own (empty) output stands in for the store
            return signatures(df.limit(0), self.cfg, id_col, text_col)
        return self._read(sig_dir).drop("bucket")

    # -- stage 2: candidate + verified pairs --------------------------------
    def pairs_stage(self, sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
        pair_dir = os.path.join(self.ckpt.root, "pairs")
        man = read_manifest(pair_dir)
        if man is None or man.get("fingerprint") != self.fingerprint:
            t0 = time.time()
            # the same candidate → verify step as near_dup_pipeline, over
            # the stored signatures
            _, _, pairs = verify_candidates(
                candidate_pairs(
                    lsh_bands(sigs, self.cfg, id_col), self.cfg.max_band_group,
                    id_col, mode=self.cfg.pair_mode,
                ),
                sigs, self.cfg, id_col,
            )
            obs = Observation()
            pairs = pairs.observe(obs, F.count(F.lit(1)).alias("rows"))
            self._write(pairs, pair_dir)
            n = int(obs.get["rows"])
            write_manifest(
                pair_dir,
                {
                    "stage": "pairs",
                    "fingerprint": self.fingerprint,
                    "rows": n,
                    "wall_ms": int((time.time() - t0) * 1000),
                },
            )
            self.counters.append({"stage": "pairs", "recomputed": True, "rows": n})
        else:
            self.counters.append(
                {"stage": "pairs", "recomputed": False, "rows": man["rows"]}
            )
        return self._read(pair_dir)

    # -- stage 3: components, label propagation checkpointed per iteration --
    def clusters_stage(self, pairs: DataFrame, vertices: DataFrame,
                       id_col: str = "doc_id", max_iter: int = 20) -> DataFrame:
        out_dir = os.path.join(self.ckpt.root, "clusters")
        man = read_manifest(out_dir)
        if man is not None and man.get("fingerprint") == self.fingerprint:
            self.counters.append({"stage": "clusters", "recomputed": False})
            return self._read(out_dir)

        # driver solve when the edge set fits: one collect, one write,
        # no per-iteration checkpoints (the stage is all-or-nothing)
        tbl = components.collect_edges(pairs)
        if tbl is not None:
            out = components._components_driver(
                tbl, self.spark, vertices, id_col
            )
            return self._write_clusters(out, out_dir, iterations=0)

        # resume from the last completed iteration checkpoint
        labels, start_iter = None, 0
        for k in range(max_iter, 0, -1):
            it_dir = os.path.join(self.ckpt.root, f"labels_iter_{k}")
            m = read_manifest(it_dir)
            if m is not None and m.get("fingerprint") == self.fingerprint:
                labels, start_iter = self._read(it_dir), k
                # a converged iteration leaves nothing to do: stop the
                # loop at k, so the lineage records k iterations
                if m.get("converged"):
                    max_iter = k
                break
        out, it = components.label_propagation(
            pairs, vertices, max_iter, id_col,
            materialize=self._label_iteration, labels=labels,
            start_iter=start_iter,
        )
        return self._write_clusters(out, out_dir, iterations=it)

    def _label_iteration(self, stepped: DataFrame, it: int):
        """Write iteration ``it``'s labels, publish its manifest, and read
        them back: ``label_propagation``'s materialization step."""
        t0 = time.time()
        it_dir = os.path.join(self.ckpt.root, f"labels_iter_{it}")
        obs = Observation()
        self._write(stepped.observe(obs, F.count_if(
            F.col("label") < F.col("old_label")).alias("changed")), it_dir)
        changed = int(obs.get["changed"])
        write_manifest(
            it_dir,
            {
                "stage": f"labels_iter_{it}",
                "fingerprint": self.fingerprint,
                "changed": changed,
                "converged": changed == 0,
                "wall_ms": int((time.time() - t0) * 1000),
            },
        )
        self.counters.append(
            {"stage": "labels", "iteration": it, "changed": changed}
        )
        return self._read(it_dir), changed

    def _write_clusters(self, out: DataFrame, out_dir: str,
                        iterations: int) -> DataFrame:
        self._write(out, out_dir)
        write_manifest(
            out_dir,
            {"stage": "clusters", "fingerprint": self.fingerprint,
             "iterations": iterations},
        )
        self.counters.append(
            {"stage": "clusters", "recomputed": True,
             "iterations": iterations}
        )
        return self._read(out_dir)

    # -- full run ------------------------------------------------------------
    def run(self, df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
        df, doc_rep = collapse_exact_dups(df, self.cfg, id_col, text_col)
        sigs = self.signatures_stage(df, id_col, text_col)
        pairs = self.pairs_stage(sigs, id_col)
        clusters = self.clusters_stage(pairs, df.select(id_col), id_col)
        return expand_exact_dups(clusters, doc_rep, id_col)

    def metrics(self) -> list[dict]:
        return list(self.counters)
