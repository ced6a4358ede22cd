"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the same config block is what we'd ship
to a multi-executor cluster via ``spark-submit`` (AQE on, Arrow on,
shuffle partitions sized to the cluster, UTC timezone pinned for oracle
comparison).
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bloom_filters_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # at cluster scale this is ~2-3x total executor cores; locally = cores
        shuffle_partitions = max(cores, 8)
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    # The compression-off A/B win below is a SINGLE-HOST result (shuffle
    # files never cross a network and the payloads are ~incompressible
    # 8-byte hashes).  On a real fleet (non-local master) shuffles cross
    # the wire, so compression stays ON by default there and the env var
    # only opts out explicitly.
    # strictly local[...] / local[N,F] / bare "local" — NOT
    # local-cluster[...], whose separate executor JVMs fetch shuffle
    # blocks over sockets and belong with the compression-on default
    local_master = master == "local" or master.startswith("local[")
    compress_default = "false" if local_master else "true"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 12g, not "as much as the box has": on this DRAM-bandwidth-bound
        # sandbox a huge G1 heap means huge young collections whose copying
        # saturates memory bandwidth — measured 73s→18s warm pipeline at 32
        # cores going 48g→12g with capped GC threads
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # shuffle tuning from the round-3 paired A/B (BENCH/SCALING.md,
        # "Round-3 shuffle-conf A/B"): hot-path shuffle rows are 8-byte
        # hashes + ids (~incompressible), so lz4 is two wasted memory passes
        # — compression off + 1m write buffers won both paired head-to-heads
        # (-7.5% wall at 32 cores, -24% at 8).  The off-default applies
        # ONLY under a local[] master (see compress_default above): a
        # non-local master keeps Spark's compression-on default unless
        # SPARK_GRAFT_SHUFFLE_COMPRESS=false explicitly opts out.
        # Buffer-size isolation (SCALING.md): 1m-vs-32k orderings flip
        # across measurement windows (second-order vs host noise); 1m won
        # 2/3 paired windows and stays.  Fleet caveat: on the bypass-merge
        # path (reduce partitions <= spark.shuffle.sort.bypassMergeThreshold,
        # default 200) each concurrent map task allocates one buffer PER
        # reduce partition — worst case 200 MB/task at 1m.  Above the
        # threshold the sort shuffle uses one buffer per spill stream and
        # 1m is safe at any partition count.  SPARK_GRAFT_SHUFFLE_BUFFER
        # overrides for bypass-merge-heavy deployments.
        .config(
            "spark.shuffle.compress",
            os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", compress_default),
        )
        .config(
            "spark.shuffle.spill.compress",
            os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", compress_default),
        )
        .config(
            "spark.shuffle.file.buffer",
            os.environ.get("SPARK_GRAFT_SHUFFLE_BUFFER", "1m"),
        )
        .config(
            "spark.shuffle.localDisk.file.output.buffer",
            os.environ.get("SPARK_GRAFT_SHUFFLE_BUFFER", "1m"),
        )
        .config(
            "spark.driver.extraJavaOptions",
            "-Dio.netty.tryReflectionSetAccessible=true "
            "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    existing = SparkContext._active_spark_context
    spark = builder.getOrCreate()
    if existing is not None:
        # getOrCreate returned the pre-existing session: static confs
        # (master, cores, shuffle buffers, driver JVM flags) from THIS
        # call were silently ignored, even when the master matches — an
        # A/B harness that relies on them would measure the old config
        # twice with no error
        import warnings

        warnings.warn(
            f"get_spark: a session with master="
            f"{spark.sparkContext.master!r} already exists (requested "
            f"{master!r}); its static confs stay and those of this call "
            "were IGNORED — stop the old session first for a "
            "fresh-config JVM",
            RuntimeWarning,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
