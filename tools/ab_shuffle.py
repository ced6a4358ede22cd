"""A/B harness for shuffle-path tuning of the near-dup pipeline
(VERDICT r02 item #7): run the SAME pinned job at one core level under
named config variants, fresh JVM per run, min-of-warm-trials statistic —
identical methodology to tools/bench_scaling.py so results compare.

Usage: python tools/ab_shuffle.py <cores> <variant> [variant ...]
       python tools/ab_shuffle.py 32 base nocomp zstd part4x
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from bench_scaling import CORPUS, ensure_corpus  # noqa: E402

VARIANTS: dict[str, dict] = {
    # current defaults (control)
    "base": {},
    # shuffle bytes are ~random 8-byte hashes + ids: lz4 ratio ~1, so
    # compression may be two pure-overhead memory passes on this
    # DRAM-bound host (shuffle files live in page cache anyway)
    "nocomp": {
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
    },
    # denser codec: more CPU (abundant at 32 cores), fewer bytes
    "zstd": {"spark.io.compression.codec": "zstd"},
    # smaller reduce-side agg hash maps -> better cache locality; AQE
    # coalesces the small post-band stages back down
    "part4x": {"__shuffle_partitions_mult": 4},
    # fewer, larger shuffle-write flushes
    "bigbuf": {
        "spark.shuffle.file.buffer": "1m",
        "spark.shuffle.localDisk.file.output.buffer": "1m",
    },
    # shuffle files on tmpfs: removes filesystem/journal overhead from
    # the band exchange (page cache already absorbs most of it -> tests
    # whether any residual IO path matters)
    "shmdir": {"spark.local.dir": "/dev/shm/spark-ab"},
    # AQE partition coalescing off: post-band stages are small; measures
    # whether the coalesce re-plan overhead costs more than it saves
    "aqeoff": {"spark.sql.adaptive.coalescePartitions.enabled": "false"},
    # round-3 follow-up: with nocomp+1m now the session default, "base"
    # IS the adopted combo; smallbuf isolates the 1m-buffer component by
    # reverting ONLY the buffers to Spark's 32k default (compression
    # stays off).  Motivated by the sf0.1 finding that 1m buffers cost
    # ~2x on tiny shuffles (bypass-merge allocates one buffer per reduce
    # partition per map task).
    "smallbuf": {
        "spark.shuffle.file.buffer": "32k",
        "spark.shuffle.localDisk.file.output.buffer": "32k",
    },
    # compromise candidate: 4x fewer syscalls than 32k, 8x less buffer
    # allocation per bypass-merge map task than 1m
    "midbuf": {
        "spark.shuffle.file.buffer": "128k",
        "spark.shuffle.localDisk.file.output.buffer": "128k",
    },
    # force the serialized sort-shuffle writer in place of bypass-merge
    # (which at partitions <= 200 writes one file PER reduce partition
    # per map task — 32 streams/task here; the sort path writes one
    # spill file + index per task, sequential IO, one write buffer)
    "sortshuf": {"spark.shuffle.sort.bypassMergeThreshold": "1"},
    # candidate production default from the screening round: the two
    # compatible winners together (compression off + bigger shuffle
    # write buffers); confirmed head-to-head before adoption
    "combo": {
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
        "spark.shuffle.file.buffer": "1m",
        "spark.shuffle.localDisk.file.output.buffer": "1m",
    },
}

RUN_TEMPLATE = r"""
import json, sys, time
sys.path.insert(0, "/root/repo")
from bloom_filters_spark.session import get_spark
from bloom_filters_spark.pipeline import NearDupConfig, near_dup_pipeline

cores = {cores}
conf = {conf!r}
mult = conf.pop("__shuffle_partitions_mult", 1)
conf.setdefault("spark.sql.files.maxPartitionBytes", "1048576")
spark = get_spark("ab-%d" % cores, cores=cores,
                  shuffle_partitions=cores * mult, extra_conf=conf)
docs = spark.read.parquet({corpus!r})
docs.count()
cfg = NearDupConfig(threshold=0.8)
timings = []
for trial in range(5):
    spark.catalog.clearCache()
    t0 = time.time()
    n = near_dup_pipeline(docs, cfg).count()
    timings.append(time.time() - t0)
print(json.dumps({{"variant": {variant!r}, "cores": cores, "rows": n,
                   "warm_sec": round(min(timings[1:]), 2),
                   "warm_trials": [round(x, 2) for x in timings[1:]],
                   "cold_sec": round(timings[0], 2)}}))
spark.stop()
"""


def run(cores: int, variant: str, n_docs: int) -> dict:
    ensure_corpus(n_docs)
    code = RUN_TEMPLATE.format(
        cores=cores, conf=dict(VARIANTS[variant]), corpus=CORPUS,
        variant=variant,
    )
    env = {**os.environ, "PYTHONPATH": "/root/repo"}
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", code],
        check=True, capture_output=True, text=True, env=env,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main():
    cores = int(sys.argv[1])
    names = sys.argv[2:] or ["base", "nocomp", "zstd", "part4x", "bigbuf"]
    n_docs = int(os.environ.get("AB_N_DOCS", 800_000))
    results = []
    for name in names:
        r = run(cores, name, n_docs)
        results.append(r)
        print(json.dumps(r), flush=True)
    best = min(results, key=lambda r: r["warm_sec"])
    print(f"# best: {best['variant']} {best['warm_sec']}s", file=sys.stderr)


if __name__ == "__main__":
    main()
