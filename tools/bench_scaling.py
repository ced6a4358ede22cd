"""Scaling-efficiency evidence (north rule): run the SAME dedup job at
two parallelism levels on the same parquet input and report throughput
at both plus efficiency (= speedup / 4), writing BENCH/SCALING.md.

The sandbox has no multi-node cluster; the stand-in is **N vs 4N CPU
cores** (the task instructions' "N and 4N cores" option), enforced
honestly with ``taskset``:

* level N  : ``taskset -c 0-7``  + ``local[8]``  — the JVM, its task
  threads AND its Python workers all share 8 cores, exactly like an
  8-core executor fleet;
* level 4N : ``taskset -c 0-31`` + ``local[32]``.

Without pinning, a ``local[8]`` run on a 32-core box quietly borrows
the idle 24 cores for Python workers / GC / shuffle threads and the
"8-core" time is fiction (measured: unpinned local[8] beat local[32]).

Each level runs in a fresh subprocess (own JVM); within a process the
job runs five times and we report the MIN of runs 2..5 (the standard
steady-state statistic: JIT + Python-worker warmup extend past run 1,
and the firecracker host adds ±30% neighbor noise — both only ever
inflate a run, never deflate it; all warm trials are reported alongside
for transparency).

Usage: python tools/bench_scaling.py [n_docs]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the per-level subprocesses and their Spark Python workers import the
# package from this checkout
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

N_DOCS_DEFAULT = 200_000
CORPUS = "/tmp/spark_graft_scaling_corpus"

RUN_TEMPLATE = r"""
import json, sys, time
from bloom_filters_spark.session import get_spark
from bloom_filters_spark.pipeline import NearDupConfig, near_dup_pipeline

cores = {cores}
spark = get_spark(
    "scaling-%d" % cores, cores=cores, shuffle_partitions=cores,
    extra_conf={{
        # ~83MB corpus -> ~1MB splits give 2-3 task waves per level so
        # stragglers amortize (at cluster scale files are larger and the
        # 128MB default applies)
        "spark.sql.files.maxPartitionBytes": "1048576",
    }},
)
docs = spark.read.parquet({corpus!r})
n_docs = docs.count()
cfg = NearDupConfig(threshold=0.8)
timings = []
for trial in range(5):
    # drop every cached plan so a trial can never reuse the previous
    # trial's persisted signatures/pairs (Spark's cache manager matches
    # by logical plan, and each trial builds the identical plan)
    spark.catalog.clearCache()
    t0 = time.time()
    clusters = near_dup_pipeline(docs, cfg)
    n = clusters.count()
    timings.append(time.time() - t0)
import statistics
print(json.dumps({{"cores": cores, "n_docs": n_docs, "rows": n,
                   "warm_sec": round(min(timings[1:]), 2),
                   "warm_trials": [round(x, 2) for x in timings[1:]],
                   "cold_sec": round(timings[0], 2)}}))
spark.stop()
"""


def ensure_corpus(n_docs: int):
    marker = f"{CORPUS}/_n{n_docs}"
    if os.path.exists(marker):
        return
    code = f"""
from bloom_filters_spark.session import get_spark
from bloom_filters_spark.sources.pages import pages_table
spark = get_spark("gen", cores=32)
pages_table(spark, {n_docs}, seed=11).select("doc_id", "text").write.mode(
    "overwrite").parquet({CORPUS!r})
open({marker!r}, "w").close()
spark.stop()
"""
    subprocess.run([sys.executable, "-c", code], check=True)


def run_level(cores: int) -> dict:
    code = RUN_TEMPLATE.format(cores=cores, corpus=CORPUS)
    cpu_list = f"0-{cores - 1}"
    out = subprocess.run(
        ["taskset", "-c", cpu_list, sys.executable, "-c", code],
        check=True, capture_output=True, text=True,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else N_DOCS_DEFAULT
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    assert hi == 4 * lo, "levels must be N and 4N"
    ensure_corpus(n_docs)
    results = [run_level(lo), run_level(hi)]
    r8, r32 = results
    speedup = r8["warm_sec"] / r32["warm_sec"]
    efficiency = speedup / 4
    summary = {
        "n_docs": n_docs,
        "levels": [lo, hi],
        f"cores{lo}": {**r8, "docs_per_sec": round(n_docs / r8["warm_sec"], 1)},
        f"cores{hi}": {**r32, "docs_per_sec": round(n_docs / r32["warm_sec"], 1)},
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(efficiency, 3),
    }
    print(json.dumps(summary, indent=2))
    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    with open(os.path.join(ROOT, "BENCH", f"scaling_{lo}_{hi}.json"), "w") as f:
        json.dump(summary, f, indent=2)


if __name__ == "__main__":
    main()



