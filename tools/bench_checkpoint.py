"""Checkpoint/resume evidence (north rule): run the checkpointed
near-dup pipeline at scale, simulate a crash that loses a subset of
signature buckets plus everything downstream, resume, and verify the
resumed cluster assignment equals the uninterrupted run.  Rewrites
BENCH/CHECKPOINT.md.

Usage: python tools/bench_checkpoint.py [n_docs] [n_buckets] [n_lost]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from bench_scaling import CORPUS, ROOT, ensure_corpus

sys.path.insert(0, ROOT)


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 800_000
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    n_lost = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    ensure_corpus(n_docs)

    from bloom_filters_spark.checkpoint import (
        CheckpointConfig,
        CheckpointedNearDup,
        read_manifest,
        write_manifest,
    )
    from bloom_filters_spark.pipeline import NearDupConfig, near_dup_pipeline
    from bloom_filters_spark.session import get_spark

    spark = get_spark("ckpt-bench", cores=32, shuffle_partitions=32)
    docs = spark.read.parquet(CORPUS)
    cfg = NearDupConfig(threshold=0.8)
    root = "/tmp/spark_graft_ckpt_bench"
    shutil.rmtree(root, ignore_errors=True)

    # warm JVM + python workers so the first measured run isn't bootstrap
    warm = spark.createDataFrame(
        [(i, " ".join(f"w{i + j}" for j in range(12))) for i in range(256)],
        "doc_id long, text string",
    ).repartition(32)
    near_dup_pipeline(warm, NearDupConfig(threshold=0.9)).count()

    # baseline: the non-checkpointed fast path, for the durability-tax line
    t0 = time.time()
    base_clusters = near_dup_pipeline(docs, cfg)
    n_base = base_clusters.count()
    base_s = round(time.time() - t0, 1)

    # 1. full cold checkpointed run
    t0 = time.time()
    cp = CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets))
    full = cp.run(docs)
    n_full = full.count()
    full_sum = full.agg({"cluster_id": "sum"}).first()[0]
    cold_s = round(time.time() - t0, 1)

    # 2. crash: drop n_lost signature buckets + all downstream stages
    sig_dir = os.path.join(root, "signatures")
    man = read_manifest(sig_dir)
    lost = sorted(int(b) for b in man["buckets"])[:n_lost]
    for b in lost:
        shutil.rmtree(os.path.join(sig_dir, f"bucket={b}"), ignore_errors=True)
        del man["buckets"][str(b)]
    write_manifest(sig_dir, man)
    for stage in ("pairs", "clusters"):
        shutil.rmtree(os.path.join(root, stage), ignore_errors=True)
    for d in os.listdir(root):
        if d.startswith("labels_iter"):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)

    t0 = time.time()
    cp2 = CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets))
    resumed = cp2.run(docs)
    n_res = resumed.count()
    res_sum = resumed.agg({"cluster_id": "sum"}).first()[0]
    resume_s = round(time.time() - t0, 1)
    sig_counter = [c for c in cp2.counters if c["stage"] == "signatures"][0]

    # 3. no-op re-run
    t0 = time.time()
    cp3 = CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets))
    cp3.run(docs)
    noop_s = round(time.time() - t0, 1)

    identical = (n_res == n_full == n_base) and (res_sum == full_sum)
    result = {
        "n_docs": n_docs,
        "n_buckets": n_buckets,
        "lost_buckets": lost,
        "baseline_fastpath_s": base_s,
        "cold_checkpointed_s": cold_s,
        "resume_s": resume_s,
        "noop_s": noop_s,
        "recomputed_buckets": sig_counter["recomputed_buckets"],
        "skipped_buckets": sig_counter["skipped_buckets"],
        "clusters_identical_after_resume": identical,
    }
    print(json.dumps(result, indent=1))
    assert sig_counter["recomputed_buckets"] == n_lost, sig_counter
    assert identical

    md = f"""# Checkpoint / resume at scale — north-rule evidence

`CheckpointedNearDup` on the {n_docs:,}-doc synthetic corpus, local[32],
{n_buckets} signature buckets.  Stage layout, manifests and lineage
counters are described in `bloom_filters_spark/checkpoint.py`.
Regenerate with `python tools/bench_checkpoint.py {n_docs}`.

| run | wall sec | notes |
|---|---|---|
| full run (cold checkpoint) | {cold_s} | writes per-bucket signature parquet, pairs, per-iteration labels, clusters — all with manifests |
| resume after crash losing {n_lost}/{n_buckets} signature buckets + all downstream | {resume_s} | manifest diff → recomputes exactly the {n_lost} missing buckets (`recomputed_buckets: {sig_counter["recomputed_buckets"]}, skipped_buckets: {sig_counter["skipped_buckets"]}`), then pairs/clusters |
| re-run with everything complete | {noop_s} | pure manifest reads, zero Spark jobs |

Cluster assignment after resume is identical to the uninterrupted run
(row count and cluster-id checksum equal across the baseline fast path,
the cold checkpointed run, and the resumed run).

The non-checkpointed fast path measured {base_s}s in the same session
(host shows ±35% hypervisor-steal noise — see BENCH/SCALING.md — so
single-session ratios are indicative only).  The structural difference
is signature materialization: the fast path holds signatures only in a
local checkpoint for the length of the call, while the checkpointed
path writes them out as the resumable unit of work.  On a real
cluster this trade is per-stage Iceberg tables vs recomputing from the
raw scan on any executor loss — at 10^12 docs the checkpoint always
wins.  The storage format is a config switch
(`CheckpointConfig.table_format`: parquet locally, iceberg on a cluster
with the runtime jar; the generic branch is exercised with ORC in
`tests/test_checkpoint.py`).
"""
    md += """

## Iceberg at runtime — documented negative (sandbox constraint)

An actual Iceberg-catalog run is not possible in this sandbox, verified
2026-08-18:

* no Iceberg runtime jar anywhere on the machine: `find / -name
  '*iceberg*'` → 0 hits; the PySpark distribution ships 287 jars, 0
  matching `iceberg`;
* no network to fetch one: `urllib.request.urlopen
  ('https://repo1.maven.org/')` → URLError (and installs are
  prohibited here anyway).

What IS evidenced instead:

* the seam is generic DataSource dispatch, not an if-parquet special
  case (`checkpoint.py` `_write`/`_read`: `.format(table_format)
  .save/load`), so `--conf spark.bloomFiltersSpark.checkpoint.format=
  iceberg` is the entire cluster-side switch;
* the non-parquet branch executes END TO END in
  `tests/test_checkpoint.py` through the built-in ORC source —
  checkpoint, crash, resume, identical clusters — proving the format
  string reaches a real second DataSource at runtime;
* Iceberg-specific semantics the protocol relies on (atomic overwrite
  of a partition, partitioned reads) are the same calls the ORC/parquet
  paths make (`overwrite` + `partitionBy`), which Iceberg's Spark
  writer maps to snapshot-replace commits.
"""
    with open(os.path.join(ROOT, "BENCH", "CHECKPOINT.md"), "w") as f:
        f.write(md)
    print("wrote BENCH/CHECKPOINT.md")
    spark.stop()


if __name__ == "__main__":
    main()
