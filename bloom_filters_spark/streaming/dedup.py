"""Streaming dedup: exact (watermark + dropDuplicates), stateful
seen-fingerprint (applyInPandasWithState with a per-bucket Bloom
filter — the reference's sketch state as Spark streaming state), and a
foreachBatch incremental near-dup pattern.

SURVEY.md §2.6 ("streaming variant"): the batch engine is the primary
target; these provide the readStream → dedup → writeStream path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bloom_filters_spark.functions.text import doc_fingerprint_expr
from bloom_filters_spark.sketches.bloom import BloomFilter


def streaming_exact_dedup(
    stream: DataFrame,
    ts_col: str = "warc_ts",
    key_col: str = "url",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Spark-native streaming dedup: keep the first row per key within
    the watermark window (state auto-expired by the watermark)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [key_col]
    )


def streaming_fingerprint_dedup(
    stream: DataFrame,
    text_col: str = "text",
    n_buckets: int = 16,
    bloom_capacity: int = 100_000,
    bloom_fpr: float = 1e-4,
):
    """Custom stateful operator: per-bucket Bloom filter state over
    document fingerprints — emits only rows whose fingerprint was not
    seen before in the bucket (false-positive rate = Bloom fpr: a tiny
    fraction of NEW docs may be dropped; NO duplicates pass).

    State = the reference's Bloom JSON bytes (saveAsJSON checkpoint
    format) keyed by fingerprint bucket: sketch state as Spark streaming
    state, merged incrementally across micro-batches.
    """
    with_fp = stream.withColumn("fp", doc_fingerprint_expr(F.col(text_col)))
    with_bucket = with_fp.withColumn(
        "bucket", F.pmod(F.col("fp"), F.lit(n_buckets)).cast("int")
    )
    out_schema = T.StructType(
        with_bucket.schema.fields.copy()
    )
    state_schema = T.StructType([T.StructField("bloom", T.BinaryType())])

    cap, fpr = bloom_capacity, bloom_fpr

    def dedup_fn(key, pdf_iter, state):
        if state.exists:
            (blob,) = state.get
            bloom = BloomFilter.from_bytes(bytes(blob))
        else:
            bloom = BloomFilter.create(cap, fpr)
        for pdf in pdf_iter:
            fps = [str(v) for v in pdf["fp"].tolist()]
            seen = bloom.has_batch(fps)
            fresh = pdf[~seen]
            if len(fresh):
                # also dedup within the batch itself
                fresh = fresh.drop_duplicates(subset=["fp"])
                bloom.add_batch([str(v) for v in fresh["fp"].tolist()])
                yield fresh
        state.update((bloom.to_bytes(),))

    return with_bucket.groupBy("bucket").applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def run_incremental_near_dup(
    spark,
    stream: DataFrame,
    cfg,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
):
    """foreachBatch incremental near-dup: each micro-batch's signatures
    are banded and joined against the accumulated BAND store (then both
    bands and signatures are appended), emitting pairs (new doc, any
    doc) — the standard incremental-LSH pattern where stream state
    lives in tables, not in executor memory.

    The band store is what makes this O(batch) instead of O(stream):
    the old side is a plain parquet scan of 16-byte (band_hash, id)
    rows, NOT a re-banding of every stored signature per micro-batch.
    Signatures are stored too, but touched only by the (tiny) candidate
    verification join.

    Candidates are the union of the new×OLD band join AND a
    within-batch self-join over the new bands (``candidate_pairs``) —
    two near-dups arriving in the SAME micro-batch are paired too, not
    just across batches.

    Idempotency: every store write lands in an ``epoch=<id>``
    subdirectory with mode=overwrite, and the old-side reads filter to
    ``epoch < current`` (a pushed-down partition filter).  A replayed
    epoch therefore rewrites exactly its own slice — bands, signatures
    and pairs can never duplicate or desync across failure/restart, and
    a partially-written crashed epoch is invisible to its own replay.

    Returns the StreamingQuery; pairs land under ``store_dir``/pairs.
    """
    import os

    from bloom_filters_spark.operators.minhash_spark import estimated_jaccard_expr
    from bloom_filters_spark.operators.pairs import candidate_pairs
    from bloom_filters_spark.pipeline import lsh_bands, signatures

    sig_store = os.path.join(store_dir, "signatures")
    band_store = os.path.join(store_dir, "bands")
    pair_store = os.path.join(store_dir, "pairs")

    # the stores are only joinable by a config that produced them: a
    # restart with changed shingle/signature/band params would not
    # error — the cross join would just quietly miss (and zip_with
    # pads mismatched signature lengths with nulls, so the verify
    # filter drops every cross-epoch pair).  A sidecar pins the
    # compatibility-relevant fields at store creation and refuses a
    # mismatched restart.  (Driver-local file ops, like
    # compact_epochs; an object-store deployment swaps in its client.)
    import json as _json

    cfg_fields = {
        "shingle_size": cfg.shingle_size,
        "num_hashes": cfg.num_hashes,
        "bands": cfg.bands,
        "seed": cfg.seed,
        "max_value": cfg.max_value,
        "band_hash_bits": cfg.band_hash_bits,
    }
    os.makedirs(store_dir, exist_ok=True)
    sidecar = os.path.join(store_dir, "_store_config.json")
    if os.path.exists(sidecar):
        with open(sidecar) as fh:
            prior = _json.load(fh)
        diff = {k: (prior.get(k), v) for k, v in cfg_fields.items()
                if prior.get(k) != v}
        if diff:
            raise ValueError(
                f"store {store_dir} was created with a different config "
                f"(stored vs requested): {diff} — cross-epoch joins "
                "would silently miss; restart with the original params "
                "or point at a fresh store_dir"
            )
    else:
        with open(sidecar, "w") as fh:
            _json.dump(cfg_fields, fh)

    def _epoch_dir(base: str, epoch_id: int) -> str:
        return os.path.join(base, f"epoch={int(epoch_id)}")

    def _read_prior_epochs(base: str, epoch_id: int):
        """All rows from epochs strictly before this one (replay-safe),
        or None if the store does not exist yet.  Only path-not-found
        maps to None — any other read failure must raise, or a
        transient store error would silently drop every cross-epoch
        candidate for the batch."""
        from pyspark.errors import AnalysisException

        try:
            df = spark.read.parquet(base)
        except AnalysisException as exc:
            msg = str(exc)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                return None
            raise
        return df.where(F.col("epoch") < F.lit(int(epoch_id))).drop("epoch")

    def process_batch(batch_df, epoch_id):
        sigs = signatures(batch_df, cfg, id_col, text_col).persist()
        if sigs.take(1):
            new_bands = lsh_bands(sigs, cfg, id_col).persist()

            # within-batch candidates: self-join over the new bands
            # (hot-band star fallback included), id1 < id2
            within = candidate_pairs(new_bands, id_col=id_col).select(
                "id1", "id2"
            )

            old_bands = _read_prior_epochs(band_store, epoch_id)
            old_sigs = _read_prior_epochs(sig_store, epoch_id)
            if old_bands is not None:
                # same guard as the batch checkpoint path: a band store
                # written at the other band_hash_bits width would be
                # silently unjoinable (int->long upcast never matches a
                # folded hash), so refuse rather than miss every
                # cross-epoch dup
                old_t = dict(old_bands.dtypes).get("band_hash")
                new_t = dict(new_bands.dtypes)["band_hash"]
                if old_t != new_t:
                    raise ValueError(
                        f"band store {band_store} holds {old_t} band "
                        f"hashes but cfg band width {cfg.band_hash_bits} "
                        f"emits {new_t}: pin band_hash_bits to the width "
                        "the store was created with"
                    )
                cross = (
                    new_bands.join(
                        old_bands.withColumnRenamed(id_col, "id_old"),
                        ["band_id", "band_hash"],
                    )
                    .where(F.col(id_col) != F.col("id_old"))
                    .select(
                        F.col(id_col).alias("id1"), F.col("id_old").alias("id2")
                    )
                )
                cands = within.unionByName(cross)
            else:
                cands = within
            cands = cands.dropDuplicates(["id1", "id2"])

            # id1 is always a new doc; id2 may be new (within) or old
            # (cross) — look its signature up in the union
            sig_lookup = (
                sigs if old_sigs is None else sigs.unionByName(old_sigs)
            )
            joined = (
                cands.join(
                    sigs.select(
                        F.col(id_col).alias("id1"),
                        F.col("signature").alias("sig1"),
                    ),
                    "id1",
                )
                .join(
                    sig_lookup.select(
                        F.col(id_col).alias("id2"),
                        F.col("signature").alias("sig2"),
                    ),
                    "id2",
                )
                .withColumn(
                    "jaccard_est",
                    estimated_jaccard_expr(
                        F.col("sig1"), F.col("sig2"), cfg.num_hashes
                    ),
                )
                .filter(F.col("jaccard_est") >= cfg.threshold)
                .select("id1", "id2", "jaccard_est")
            )
            joined.write.mode("overwrite").parquet(
                _epoch_dir(pair_store, epoch_id)
            )
            new_bands.write.mode("overwrite").parquet(
                _epoch_dir(band_store, epoch_id)
            )
            new_bands.unpersist()
            sigs.write.mode("overwrite").parquet(
                _epoch_dir(sig_store, epoch_id)
            )
        sigs.unpersist()

    writer = stream.writeStream.foreachBatch(process_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def compact_epochs(spark, store_base: str, below_epoch: int) -> int:
    """Maintenance op for the incremental-LSH epoch stores: merge every
    ``epoch=<id>`` partition with ``id < below_epoch`` into ONE
    consolidated partition, bounding the small-file count of a
    long-running stream (one directory per micro-batch otherwise grows
    without limit).

    Replay-idempotency contract: ``below_epoch`` must be <= the last
    COMMITTED epoch id + 1 (Spark only ever replays the first
    uncommitted epoch, so every id strictly below a committed id is
    final).  The merged rows land under ``epoch=<below_epoch - 1>`` —
    an id that can no longer replay — so ``_read_prior_epochs``'s
    ``epoch < current`` filter sees exactly the same rows before and
    after compaction, for both in-flight and replayed epochs.

    Crash-safe in two phases, using Spark's convention that
    underscore-prefixed paths are invisible to readers:

    1. write the merged rows to ``_compacting`` and then a
       ``_compact_manifest.json`` marker — readers still see the
       original epoch directories;
    2. overwrite ``epoch=<below_epoch-1>`` from ``_compacting``, delete
       the older epoch directories, then the marker and the temp dir.

    A crash in phase 1 leaves the store untouched (re-run restarts the
    merge); a crash in phase 2 is resumed from the manifest — the temp
    dir, not the (possibly half-rewritten) store, is authoritative.
    Returns the number of epoch directories that were merged away (0 =
    nothing to do).  Local/posix filesystem ops; an object-store
    deployment swaps in its FileSystem client for the directory moves.
    """
    import json
    import os
    import re
    import shutil

    if below_epoch < 1:
        raise ValueError(f"below_epoch must be >= 1, got {below_epoch}")
    tmp = os.path.join(store_base, "_compacting")
    manifest = os.path.join(store_base, "_compact_manifest.json")

    def epoch_dirs():
        out = {}
        for name in os.listdir(store_base):
            m = re.fullmatch(r"epoch=(\d+)", name)
            if m:
                out[int(m.group(1))] = os.path.join(store_base, name)
        return out

    if os.path.exists(manifest):  # resume a phase-2 crash
        with open(manifest) as fh:
            below_epoch = json.load(fh)["below_epoch"]
    else:
        victims = {e: d for e, d in epoch_dirs().items() if e < below_epoch}
        if len(victims) <= 1:
            return 0
        merged = (
            spark.read.parquet(store_base)
            .where(F.col("epoch") < F.lit(int(below_epoch)))
            .drop("epoch")
        )
        merged.write.mode("overwrite").parquet(tmp)
        with open(manifest, "w") as fh:
            json.dump({"below_epoch": int(below_epoch)}, fh)

    target = os.path.join(store_base, f"epoch={int(below_epoch) - 1}")
    spark.read.parquet(tmp).write.mode("overwrite").parquet(target)
    removed = 0
    for e, d in epoch_dirs().items():
        if e < below_epoch - 1:
            shutil.rmtree(d)
            removed += 1
    os.remove(manifest)
    shutil.rmtree(tmp)
    return removed + 1  # the rewritten target partition was merged too
