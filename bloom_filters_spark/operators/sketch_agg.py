"""Distributed sketch aggregation: partition-local build → monoid merge.

This is the reference's ``merge`` law (SURVEY.md §0) mapped onto Spark's
partial+final aggregation: ``mapInPandas`` builds one sketch per input
partition (vectorized adds over Arrow batches), the driver (or a
``groupBy`` for keyed variants) merges the handful of partition sketches.
Sketch state rides as JSON bytes — the reference's ``saveAsJSON``
checkpoint format — so partials are themselves checkpointable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bloom_filters_spark.hashing import DEFAULT_SEED
from bloom_filters_spark.sketches import (
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    TopK,
)

# Spark SQL types whose values ride the vectorized uint64-lane hash path
# (hashing.xxh64_u64) instead of per-value str()+scalar-xxh64.  The
# decision comes from the SPARK schema, not per-batch pandas dtypes, so
# build and probe sides of the same column always agree on the element
# encoding (a per-batch dtype sniff could flip between int64 and float64
# depending on null layout and silently break membership).
_INTEGRAL_SPARK_TYPES = ("tinyint", "smallint", "int", "bigint")


def _is_integral(df: DataFrame, col: str) -> bool:
    return dict(df.dtypes)[col] in _INTEGRAL_SPARK_TYPES


_U64_HI, _U64_LO = "__u64_hi", "__u64_lo"


def _u64_split_cols(col: str):
    """JVM-side exact transport for integral keys: split the bigint into
    unsigned 32-bit halves.  Nulls in a batch make pandas promote int64
    to float64, which silently rounds values above 2^53 — but each half
    is < 2^32 and therefore float64-exact, so the Arrow roundtrip is
    lossless even on null-bearing batches (the old direct int64 path
    could hash a rounded value on the build side and the exact value on
    the probe side, a false negative in a no-FN contract)."""
    c = F.col(col).cast("bigint")
    return [
        F.shiftrightunsigned(c, 32).alias(_U64_HI),
        c.bitwiseAND(F.lit(0xFFFFFFFF)).alias(_U64_LO),
    ]


def _u64_from_split(hi: pd.Series, lo: pd.Series):
    """(notna mask, exact int64 ndarray of the non-null values)."""
    notna = hi.notna().to_numpy()
    hi_u = hi.to_numpy(dtype=np.float64, na_value=0.0)[notna].astype(np.uint64)
    lo_u = lo.to_numpy(dtype=np.float64, na_value=0.0)[notna].astype(np.uint64)
    return notna, ((hi_u << np.uint64(32)) | lo_u).view(np.int64)


def _partition_sketches(df: DataFrame, col: str, make, add_batch,
                        as_u64: bool = False, integral_str: bool = False):
    """mapInPandas: one sketch per partition → rows of sketch JSON bytes.

    ``integral_str``: the column is integral but the sketch's element
    domain is str (CMS point queries arrive as strings).  A batch
    containing nulls arrives as float64, where ``str(5.0)`` would hash
    a different element than the query-side ``str(5)`` and ids above
    2^53 are already rounded — so the values ride the same exact
    uint32-halves transport as ``as_u64`` and are stringified from the
    rebuilt int64."""

    def build(batches):
        sketch = None
        for pdf in batches:
            if as_u64:
                _, vals = _u64_from_split(pdf[_U64_HI], pdf[_U64_LO])
            elif integral_str:
                _, exact = _u64_from_split(pdf[_U64_HI], pdf[_U64_LO])
                vals = [str(v) for v in exact.tolist()]
            else:
                vals = [str(v) for v in pdf[col].dropna().tolist()]
            if len(vals) == 0:
                continue
            if sketch is None:
                sketch = make()
            add_batch(sketch, vals)
        if sketch is not None:
            yield pd.DataFrame({"sketch": [sketch.to_bytes()]})

    projected = (
        df.select(*_u64_split_cols(col))
        if as_u64 or integral_str
        else df.select(col)
    )
    return projected.mapInPandas(build, "sketch binary")


def _merge_partials(partials: DataFrame, cls, fanin: int = 64):
    """Merge per-partition sketch partials into one sketch.

    Up to ``fanin`` input partitions the partials are collected and
    folded on the driver (≤ fanin rows — cheap and allocation-light).
    Above it, a tree level runs first: partials group by
    ``pmod(partition_id, fanin)`` and merge INSIDE executors
    (``applyInPandas``), so the driver sees ≤ fanin pre-merged sketches
    no matter how many input partitions the scan had — at 100k-partition
    scans with multi-MB CMS/Bloom bitsets the old flat collect was
    driver memory and single-threaded merge time.  Every sketch routed
    here merges as a commutative monoid (bitset OR / counter sum /
    register max), so the result is byte-identical regardless of merge
    order — pytest asserts tree ≡ sequential."""
    if partials.rdd.getNumPartitions() > fanin:
        def _merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
            merged = cls.from_bytes(pdf["sketch"].iloc[0])
            for blob in pdf["sketch"].iloc[1:]:
                merged = merged.merge(cls.from_bytes(blob))
            return pd.DataFrame({"sketch": [merged.to_bytes()]})

        partials = (
            partials.withColumn(
                "_g", F.pmod(F.spark_partition_id(), F.lit(fanin))
            )
            .groupBy("_g")
            .applyInPandas(_merge_group, "sketch binary")
        )
    rows = partials.collect()
    if not rows:
        return None
    merged = cls.from_bytes(rows[0]["sketch"])
    for r in rows[1:]:
        merged = merged.merge(cls.from_bytes(r["sketch"]))
    return merged


def build_bloom(df: DataFrame, col: str, capacity: int, error_rate: float,
                seed: int = DEFAULT_SEED) -> BloomFilter:
    """Distributed Bloom build: per-partition bitsets OR-merged.
    Integral columns hash as uint64 lanes (vectorized) — same element
    domain as the probe side in ``bloom_filter_column``."""
    partials = _partition_sketches(
        df,
        col,
        lambda: BloomFilter.create(capacity, error_rate, seed),
        lambda s, vals: s.add_batch(vals),
        as_u64=_is_integral(df, col),
    )
    out = _merge_partials(partials, BloomFilter)
    return out if out is not None else BloomFilter.create(capacity, error_rate, seed)


def _membership_prune(df: DataFrame, col: str, probe, keep: bool) -> DataFrame:
    """Shared probe shape for Bloom/Xor/Cuckoo pre-filters: a boolean
    pandas UDF over ONLY the key column, consumed by a JVM-side filter —
    every other column stays out of the Arrow roundtrip (a full-row
    mapInPandas was measured 2-3x slower on wide tables).  Integral
    columns probe as one int64 ndarray per batch (nulls are never
    members); other types fall back to per-value str()."""
    as_u64 = _is_integral(df, col)
    state: dict = {}

    if as_u64:
        # hi/lo 32-bit halves: exact even when nulls promote the pandas
        # batch to float64 (see _u64_split_cols) — build and probe share
        # this element encoding unconditionally.
        @F.pandas_udf("boolean")
        def member(hi: pd.Series, lo: pd.Series) -> pd.Series:
            sk = state.get("sk")
            if sk is None:
                sk = state["sk"] = probe()
            notna, arr = _u64_from_split(hi, lo)
            mask = np.zeros(len(hi), dtype=bool)
            if len(arr):
                mask[notna] = sk.has_batch(arr)
            return pd.Series(mask)

        cond = member(*_u64_split_cols(col))
    else:
        @F.pandas_udf("boolean")
        def member(s: pd.Series) -> pd.Series:
            sk = state.get("sk")
            if sk is None:
                sk = state["sk"] = probe()
            mask = sk.has_batch([str(v) for v in s.tolist()])
            return pd.Series(mask)

        cond = member(F.col(col))
    return df.filter(cond if keep else ~cond)


def bloom_filter_column(df: DataFrame, col: str, bloom: BloomFilter,
                        keep: bool = True) -> DataFrame:
    """Membership pre-filter: keep rows whose ``col`` might be in the
    Bloom filter (no false negatives; FPs expected — follow with an
    exact join when exactness matters).  The filter bytes broadcast in
    the UDF closure."""
    blob = bloom.to_bytes()
    return _membership_prune(
        df, col, lambda: BloomFilter.from_bytes(blob), keep
    )


#: Default cardinality ceiling for the driver-bound sequential builders
#: (XOR peel / cuckoo kicks / scalable growth are order-dependent, so
#: their construction cannot be a distributed monoid).  ~10^6 8-byte
#: keys ≈ tens of MB of driver heap and a few seconds of sequential
#: insert — comfortably safe; beyond it the right tool is
#: :func:`build_bloom`, whose build IS the distributed monoid.
DEFAULT_MAX_DRIVER_KEYS = 1_000_000


def _collect_distinct_guarded(df: DataFrame, col: str, max_keys: int,
                              op_name: str) -> list:
    """Distinct keys of ``col`` streamed to the driver partition-by-
    partition (``toLocalIterator`` — never materializes the whole column
    in one collect buffer), aborting with a clear error the moment the
    cardinality exceeds ``max_keys``.  This is the guard that keeps the
    sequential sketch builders from silently OOMing the driver when
    pointed at a high-cardinality column."""
    out: list = []
    for r in df.select(col).distinct().toLocalIterator(prefetchPartitions=True):
        out.append(r[0])
        if len(out) > max_keys:
            raise ValueError(
                f"{op_name}: distinct cardinality of column {col!r} exceeds "
                f"max_keys={max_keys}. This builder constructs the sketch "
                f"sequentially on the driver (the reference's "
                f"peeling/kick/growth semantics are insertion-order-"
                f"dependent), so it is intended for modest-cardinality "
                f"deny/seen lists. For high-cardinality membership "
                f"pruning use build_bloom/build_partitioned_bloom — their "
                f"bitset-OR builds are fully distributed monoids. To "
                f"proceed anyway, pass a larger max_keys explicitly."
            )
    return out


def build_xor(df: DataFrame, col: str, bits_per_fingerprint: int = 8,
              seed: int = DEFAULT_SEED,
              max_keys: int = DEFAULT_MAX_DRIVER_KEYS):
    """XOR-filter build over the DISTINCT values of a column.

    The peeling construction is inherently sequential
    (/root/reference/src/bloom/xor-filter.ts:157-235), so the build runs
    on the driver over the collected distinct key set — XOR filters are
    for *static, modest-cardinality* deny/seen lists (their win is probe
    speed + size, not build parallelism).  The distinct() dedup itself
    is distributed, the collect is streamed, and ``max_keys`` aborts
    early on high-cardinality columns (use :func:`build_bloom` there).
    """
    from bloom_filters_spark.sketches.xor_filter import XorFilter

    raw = _collect_distinct_guarded(df, col, max_keys, "build_xor")
    # sort: the XOR peeling construction is order-sensitive, and the
    # distinct() collect order varies run to run — sorting makes the
    # serialized filter bytes deterministic, like the sibling builders
    if _is_integral(df, col):
        values = np.sort(np.array(raw, dtype=np.int64))
    else:
        values = sorted(str(v) for v in raw)
    return XorFilter.from_items(values, bits_per_fingerprint, seed=seed)


def xor_filter_column(df: DataFrame, col: str, xf, keep: bool = True) -> DataFrame:
    """Membership pre-filter against a broadcast XOR filter (no false
    negatives for the built set; ~2^-bits FP rate — follow with an exact
    join when exactness matters)."""
    from bloom_filters_spark.sketches.xor_filter import XorFilter

    blob = xf.save_as_json()
    return _membership_prune(
        df, col, lambda: XorFilter.from_json(blob), keep
    )


def build_partitioned_bloom(df: DataFrame, col: str, capacity: int,
                            error_rate: float, seed: int = DEFAULT_SEED):
    """Distributed PartitionedBloom build (k slices, hash i addresses
    slice i — partitioned-bloom-filter.ts:46-73); per-partition filters
    OR-merge like the plain Bloom."""
    from bloom_filters_spark.sketches.partitioned_bloom import (
        PartitionedBloomFilter,
    )

    partials = _partition_sketches(
        df,
        col,
        lambda: PartitionedBloomFilter.create(capacity, error_rate, seed=seed),
        lambda s, vals: s.add_batch(vals),
        as_u64=_is_integral(df, col),
    )
    out = _merge_partials(partials, PartitionedBloomFilter)
    if out is None:
        out = PartitionedBloomFilter.create(capacity, error_rate, seed=seed)
    return out


def partitioned_bloom_filter_column(df: DataFrame, col: str, pbf,
                                    keep: bool = True) -> DataFrame:
    from bloom_filters_spark.sketches.partitioned_bloom import (
        PartitionedBloomFilter,
    )

    blob = pbf.to_bytes()
    return _membership_prune(
        df, col, lambda: PartitionedBloomFilter.from_bytes(blob), keep
    )


def build_scalable_bloom(df: DataFrame, col: str, initial_size: int = 1024,
                         initial_error_rate: float = 1e-3,
                         seed: int = DEFAULT_SEED,
                         max_keys: int = DEFAULT_MAX_DRIVER_KEYS):
    """ScalableBloom build over the distinct values of a column.

    Growth (push a double-size sub-filter when load >= 0.5,
    scalable-bloom-filter.ts:107-140) depends on insertion order, so
    there is no merge monoid — the build runs on the driver over the
    collected distinct key set, SORTED for run-to-run determinism.
    The structure exists for unknown-cardinality feeds (a batch engine
    that knows n would size a plain Bloom); this builder is the
    seen-list shape: stream keys in, let the filter grow.  The collect
    is streamed and ``max_keys``-guarded (plain Bloom is the distributed
    fallback for high-cardinality columns)."""
    from bloom_filters_spark.sketches.scalable_bloom import ScalableBloomFilter

    raw = _collect_distinct_guarded(df, col, max_keys, "build_scalable_bloom")
    if _is_integral(df, col):
        values = np.array(sorted(int(v) for v in raw), dtype=np.int64)
    else:
        values = sorted(str(v) for v in raw)
    sbf = ScalableBloomFilter(initial_size, initial_error_rate, seed=seed)
    sbf.add_batch(values)
    return sbf


def scalable_bloom_filter_column(df: DataFrame, col: str, sbf,
                                 keep: bool = True) -> DataFrame:
    from bloom_filters_spark.sketches.scalable_bloom import ScalableBloomFilter

    blob = sbf.to_bytes()
    return _membership_prune(
        df, col, lambda: ScalableBloomFilter.from_bytes(blob), keep
    )


def build_cuckoo(df: DataFrame, col: str, error_rate: float = 1e-3,
                 bucket_size: int = 4, seed: int = DEFAULT_SEED,
                 max_keys: int = DEFAULT_MAX_DRIVER_KEYS):
    """Cuckoo-filter build over the DISTINCT values of a column.

    Like the XOR filter, insertion (random kicks with rollback,
    cuckoo-filter.ts:176-237) is inherently sequential, so the build
    runs on the driver over the collected distinct key set — cuckoo
    filters are for static-to-slowly-churning deny/seen lists where
    ``remove`` support matters.  Keys are sorted before insertion so
    the filter bytes are deterministic run-to-run.

    Sizing caveat (faithful reference semantics): the reference's kick
    displacement jumps to ``|index ^ hash(fp)| % size``
    (cuckoo-filter.ts:195-215), an address ``has()`` can never re-derive
    from the element because its second index is ``(h ^ hash(fp)) %
    size`` off the FULL hash — any kicked fingerprint becomes invisible
    to lookups (measured ~35% false negatives at the nominal 0.955
    load).  A membership pre-filter must be FN-free, so we build at low
    load (kick-free in practice), verify every key probes positive, and
    double the table until that holds.  The collect is streamed and
    ``max_keys``-guarded (plain Bloom is the distributed fallback for
    high-cardinality columns)."""
    from bloom_filters_spark.sketches.cuckoo import CuckooFilter

    raw = _collect_distinct_guarded(df, col, max_keys, "build_cuckoo")
    if _is_integral(df, col):
        values = np.array(sorted(int(v) for v in raw), dtype=np.int64)
    else:
        values = sorted(str(v) for v in raw)
    capacity = max(len(values), 1) * 4
    while True:
        ck = CuckooFilter.create(capacity, error_rate, bucket_size, seed=seed)
        ok = all(ck.add(v) for v in (values.tolist() if isinstance(values, np.ndarray) else values))
        if ok and bool(ck.has_batch(values).all() if len(values) else True):
            return ck
        capacity *= 2


def cuckoo_filter_column(df: DataFrame, col: str, ck, keep: bool = True) -> DataFrame:
    """Membership pre-filter against a broadcast cuckoo filter (no false
    negatives for the built set; FPs expected — follow with an exact
    join when exactness matters)."""
    from bloom_filters_spark.sketches.cuckoo import CuckooFilter

    blob = ck.save_as_json()
    return _membership_prune(
        df, col, lambda: CuckooFilter.from_json(blob), keep
    )


def build_counting_bloom(df: DataFrame, col: str, capacity: int,
                         error_rate: float, seed: int = DEFAULT_SEED):
    """Distributed CountingBloom build: per-partition counter arrays,
    elementwise-sum merged (the counting variant's monoid)."""
    from bloom_filters_spark.sketches.counting_bloom import CountingBloomFilter

    partials = _partition_sketches(
        df,
        col,
        lambda: CountingBloomFilter.create(capacity, error_rate, seed),
        lambda s, vals: s.add_batch(vals),
        as_u64=_is_integral(df, col),
    )
    out = _merge_partials(partials, CountingBloomFilter)
    if out is None:
        out = CountingBloomFilter.create(capacity, error_rate, seed)
    return out


def counting_bloom_remove(cbf, df: DataFrame, col: str,
                          max_keys: int = DEFAULT_MAX_DRIVER_KEYS):
    """Retract a (small) key set from a counting Bloom filter.

    The retraction set is streamed to the driver (``max_keys``-guarded)
    — counting-bloom retractions are for bounded churn (tombstones,
    takedowns).  At cluster scale the same effect falls out of the merge
    monoid: build negative partials per partition and counter-sum them
    in."""
    raw = _collect_distinct_guarded(df, col, max_keys, "counting_bloom_remove")
    if _is_integral(df, col):
        vals = np.array(raw, dtype=np.int64)
    else:
        vals = [str(v) for v in raw]
    cbf.remove_batch(vals)
    return cbf


def counting_bloom_filter_column(df: DataFrame, col: str, cbf,
                                 keep: bool = True) -> DataFrame:
    """Membership pre-filter against a broadcast counting Bloom filter."""
    from bloom_filters_spark.sketches.counting_bloom import CountingBloomFilter

    blob = cbf.to_bytes()
    return _membership_prune(
        df, col, lambda: CountingBloomFilter.from_bytes(blob), keep
    )


def hll_distinct(df: DataFrame, col: str, m: int = 4096,
                 seed: int = DEFAULT_SEED) -> float:
    """Distributed HLL cardinality estimate (register-max merge)."""
    partials = _partition_sketches(
        df,
        col,
        lambda: HyperLogLog(m, seed),
        lambda s, vals: s.update_batch(vals),
        as_u64=_is_integral(df, col),
    )
    merged = _merge_partials(partials, HyperLogLog)
    return merged.count() if merged is not None else 0.0


def build_cms(df: DataFrame, col: str, error_rate: float = 1e-4,
              accuracy: float = 0.999, seed: int = DEFAULT_SEED) -> CountMinSketch:
    """Distributed CMS build (elementwise matrix-sum merge).

    NOTE: stays on the str() element domain regardless of column type,
    because CMS point queries (``cms_counts``, TopK replay) come in as
    strings — build and query must share the domain."""
    partials = _partition_sketches(
        df,
        col,
        lambda: CountMinSketch.create(error_rate, accuracy, seed),
        lambda s, vals: s.update_batch(vals),
        integral_str=_is_integral(df, col),
    )
    out = _merge_partials(partials, CountMinSketch)
    return out if out is not None else CountMinSketch.create(error_rate, accuracy, seed)


def cms_counts(spark: SparkSession, cms: CountMinSketch, keys: list[str]) -> DataFrame:
    """Point-query a merged CMS for a list of keys → DataFrame."""
    est = cms.count_batch(keys)
    return spark.createDataFrame(
        [(k, int(v)) for k, v in zip(keys, est.tolist())],
        "key string, est_count long",
    )


def topk_exact(df: DataFrame, col: str, k: int) -> DataFrame:
    """The engine's exact batch top-k (SURVEY.md §2.4 TopK row):
    groupBy().count() + deterministic ORDER BY count DESC, value ASC
    LIMIT k — Spark plans partial+final hash agg and
    TakeOrderedAndProject; one shuffle.  The rank is assigned AFTER
    LIMIT k over the ≤k surviving rows — as 1 + the count of rows that
    sort strictly earlier, via a broadcast self-join (k² comparisons on
    k≈10s of rows).  Not a window: an unpartitioned rank window — even
    one declared over lit(0), which the optimizer folds away — plans a
    single-partition WindowExec and trips Spark's global-window
    warning, which this engine treats as a real-hazard-only signal."""
    top = (
        df.groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("frequency"))
        .orderBy(F.desc("frequency"), F.asc("value"))
        .limit(k)
    )
    other = F.broadcast(
        top.select(
            F.col("value").alias("_v"),
            F.col("frequency").alias("_f"),
            F.lit(1).alias("_one"),
        )
    )
    # NULL-safe "sorts strictly earlier" matching ORDER BY frequency
    # DESC, value ASC (Spark asc = NULLS FIRST): a NULL value precedes
    # every non-NULL value at the same frequency.  Plain `_v < value`
    # is NULL (never true) whenever either side is NULL, which
    # duplicated/skipped ranks on NULL-valued frequency ties.
    earlier = (F.col("_f") > F.col("frequency")) | (
        (F.col("_f") == F.col("frequency"))
        & (
            (F.col("_v").isNull() & F.col("value").isNotNull())
            | (F.col("_v") < F.col("value"))
        )
    )
    return (
        top.join(other, earlier, "left")
        .groupBy("value", "frequency")
        .agg((F.count("_one") + 1).cast("int").alias("rank"))
    )


def topk_sketch(df: DataFrame, col: str, k: int, error_rate: float = 1e-3,
                accuracy: float = 0.999, seed: int = DEFAULT_SEED) -> TopK:
    """Sketch-parity top-k: merged distributed CMS + driver-side heap
    replay over the distinct keys (reference TopK.add semantics with
    batched counts, tests/topk.test.ts:31-89)."""
    cms = build_cms(df, col, error_rate, accuracy, seed)
    t = TopK(k, error_rate, accuracy, seed)
    t.sketch = cms
    # replay: feed candidate keys once each with their estimated
    # frequency — equivalent to reference batched adds (the count path
    # hits the same CMS).  Candidates are the exact top 10*k keys by
    # count (one distributed agg + bounded collect), NOT all distinct
    # keys: collecting the full key set is a driver bottleneck at high
    # cardinality.  A key outside the true top 10*k can only belong in
    # the sketch heap if its CMS overestimate exceeds the true rank-k
    # count; the additive error is < error_rate * n, negligible at the
    # default 1e-3 vs a 10x count margin — same answer, bounded driver.
    # NULLs are excluded end-to-end: the build side dropna()s them, so
    # they have no CMS count (and an unfiltered None key would crash
    # the sorted() below on a nullable column)
    keys = [r["value"] for r in
            df.filter(F.col(col).isNotNull())
            .groupBy(F.col(col).alias("value"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .orderBy(F.desc("_n"), F.asc("value"))
            .limit(10 * k)
            .collect()]
    for key in sorted(keys):  # deterministic tie-break order
        freq = cms.count(str(key))
        if len(t.heap) < k or freq >= t.heap[0][0]:
            for i, (_, v) in enumerate(t.heap):
                if v == key:
                    del t.heap[i]
                    break
            import bisect

            bisect.insort_left(t.heap, [freq, key], key=lambda e: e[0])
            if len(t.heap) > k:
                t.heap.pop(0)
    return t
