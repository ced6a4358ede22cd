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
    the old side is a plain parquet scan of 16-byte (band_id,
    band_hash, id) rows, NOT a re-banding of every stored signature per micro-batch.
    Signatures are stored too, but touched only by the (tiny) candidate
    verification join.

    Candidates are the union of the new×OLD band join
    (``operators.pairs.cross_band_pairs``, the batch incremental path's
    join) AND a within-batch self-join over the new bands
    (``candidate_pairs`` at ``cfg.max_band_group``, so a hot band group
    within a batch is star linked) — two near-dups arriving in the SAME
    micro-batch are paired too, not just across batches.  They are
    verified by the batch pipeline's step (``pipeline.verify_candidates``)
    against the new and stored signatures, so the pair columns follow
    ``cfg.verify``: ``jaccard_est`` (estimate) or ``jaccard`` (exact).
    Exact mode needs shingles in the signature store, so the store pins
    ``verify`` along with the signature and band parameters.

    Idempotency: every store write lands in an ``epoch=<id>``
    subdirectory with mode=overwrite, and the old-side reads filter to
    ``epoch < current`` (a pushed-down partition filter).  A replayed
    epoch therefore rewrites exactly its own slice — bands, signatures
    and pairs can never duplicate or desync across failure/restart, and
    a partially-written crashed epoch is invisible to its own replay.

    Returns the StreamingQuery; pairs land under ``store_dir``/pairs.
    """
    import os

    from bloom_filters_spark.operators.pairs import (
        candidate_pairs,
        cross_band_pairs,
    )
    from bloom_filters_spark.pipeline import (
        lsh_bands,
        release_checkpoint,
        signatures,
        verify_candidates,
    )

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

    from bloom_filters_spark.checkpoint import publish_json

    cfg_fields = {
        "shingle_size": cfg.shingle_size,
        "num_hashes": cfg.num_hashes,
        "bands": cfg.bands,
        "seed": cfg.seed,
        "max_value": cfg.max_value,
        # the band row format (32-bit band hash): a store written with
        # 64-bit hashes, or before the width was recorded, would be
        # silently unjoinable, so the check below refuses it
        "band_hash_bits": 32,
        # "exact" verifies against stored shingles, which an
        # "estimate" store does not hold; a store written before verify
        # was recorded is refused too
        "verify": cfg.verify,
    }

    def _read_prior_epochs(base: str, epoch_id: int):
        """All rows from epochs strictly before ``epoch_id``
        (replay-safe), or None if the store does not exist yet.  Only
        path-not-found maps to None — any other read failure must raise,
        or a transient store error would silently drop every cross-epoch
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

    if cfg.boilerplate_max_df is not None:
        # a batch has no corpus-wide shingle frequencies to prune with
        raise ValueError("run_incremental_near_dup does not prune "
                         "boilerplate: boilerplate_max_df must be None")
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
        publish_json(sidecar, cfg_fields)

    def _epoch_dir(base: str, epoch_id: int) -> str:
        return os.path.join(base, f"epoch={int(epoch_id)}")

    def process_batch(batch_df, epoch_id):
        sigs = signatures(batch_df, cfg, id_col, text_col).persist()
        if sigs.take(1):
            new_bands = lsh_bands(sigs, cfg, id_col).persist()

            # within-batch candidates: self-join over the new bands
            # (hot-band star fallback included), id1 < id2
            within = candidate_pairs(new_bands, cfg.max_band_group, id_col)

            old_bands = _read_prior_epochs(band_store, epoch_id)
            old_sigs = _read_prior_epochs(sig_store, epoch_id)
            if old_bands is not None:
                # a doc id re-sent in a later epoch is both new and old,
                # so one pair can come from both sides
                cands = within.unionByName(
                    cross_band_pairs(new_bands, old_bands, id_col)
                ).dropDuplicates(["id1", "id2"])
            else:
                cands = within
            # id1 is always a new doc; id2 may be new (within) or old
            # (cross) — look both up in the union
            sig_lookup = (
                sigs if old_sigs is None else sigs.unionByName(old_sigs)
            )
            cands, _, pairs = verify_candidates(cands, sig_lookup, cfg, id_col)
            pairs.write.mode("overwrite").parquet(
                _epoch_dir(pair_store, epoch_id)
            )
            release_checkpoint(cands)
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
       ``_compact_manifest.json`` marker (tmp + fsync + rename, so a
       torn marker is never published) — readers still see the
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

    from bloom_filters_spark.checkpoint import publish_json

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
        publish_json(manifest, {"below_epoch": int(below_epoch)})

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
