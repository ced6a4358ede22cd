"""Structured Streaming dedup tests: file source → dedup → memory sink,
driven synchronously with processAllAvailable (SURVEY.md §2.6)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from bloom_filters_spark.sources.pages import PAGES_SCHEMA, generate_pages_pdf


@pytest.fixture()
def staged_pages(spark, tmp_path):
    """Two micro-batch parquet drops with overlapping duplicate docs."""
    import numpy as np

    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf1 = generate_pages_pdf(np.arange(0, 300), seed=5)
    pdf2 = generate_pages_pdf(np.arange(200, 500), seed=5)  # 100 overlap
    spark.createDataFrame(pdf1, PAGES_SCHEMA).write.parquet(src + "/b1")
    spark.createDataFrame(pdf2, PAGES_SCHEMA).write.parquet(src + "/b2")
    return src


def test_streaming_exact_dedup(spark, staged_pages, tmp_path):
    from bloom_filters_spark.streaming.dedup import streaming_exact_dedup

    static = spark.read.parquet(staged_pages + "/*")
    stream = spark.readStream.schema(static.schema).parquet(staged_pages + "/*")
    q = (
        streaming_exact_dedup(stream, ts_col="warc_ts", key_col="url")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT url, count(*) AS n FROM dedup_out GROUP BY url")
    assert out.filter(F.col("n") > 1).count() == 0
    n_distinct = static.select("url").distinct().count()
    assert spark.table("dedup_out").count() == n_distinct


def test_streaming_fingerprint_dedup_bloom_state(spark, staged_pages):
    from bloom_filters_spark.streaming.dedup import streaming_fingerprint_dedup

    static = spark.read.parquet(staged_pages + "/*")
    stream = spark.readStream.schema(static.schema).parquet(staged_pages + "/*")
    q = (
        streaming_fingerprint_dedup(stream, text_col="text", n_buckets=4)
        .writeStream.format("memory")
        .queryName("fp_dedup_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.table("fp_dedup_out")
    # no two emitted rows share a fingerprint (no duplicates pass)
    dup_fps = (
        out.groupBy("fp").count().filter(F.col("count") > 1).count()
    )
    assert dup_fps == 0
    # Bloom FPs may drop a few novel docs, but the bulk must pass
    from bloom_filters_spark.functions.text import doc_fingerprint_expr

    n_distinct_fp = (
        static.select(doc_fingerprint_expr(F.col("text")).alias("fp"))
        .distinct()
        .count()
    )
    assert out.count() >= 0.99 * n_distinct_fp
    assert out.count() <= n_distinct_fp


def test_incremental_near_dup_foreachbatch(spark, tmp_path):
    import numpy as np

    from bloom_filters_spark.pipeline import NearDupConfig
    from bloom_filters_spark.streaming.dedup import run_incremental_near_dup

    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: originals; batch 2: near-copies of batch-1 docs
    pdf1 = generate_pages_pdf(np.arange(0, 200, 2), seed=9)   # even = originals
    pdf2 = generate_pages_pdf(np.arange(1, 201, 2), seed=9)   # odd = mutations
    spark.createDataFrame(pdf1, PAGES_SCHEMA).write.parquet(src + "/b1")
    spark.createDataFrame(pdf2, PAGES_SCHEMA).write.parquet(src + "/b2")

    static = spark.read.parquet(src + "/*")
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
        .select("doc_id", "text")
    )
    store = str(tmp_path / "store")
    cfg = NearDupConfig(threshold=0.8)
    q = run_incremental_near_dup(
        spark, stream, cfg, store, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    pairs = spark.read.parquet(store + "/pairs")
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    # every exact-copy planted pair (odd = copy of odd-1 at mutation level
    # 0.0) that landed in different batches must be found
    assert len(got) > 0
    for id1, id2 in got:
        assert abs(id1 - id2) == 1  # only planted (2k, 2k+1) pairs exist


def test_incremental_store_config_mismatch_raises(spark, tmp_path):
    """Restarting a stream against an existing store with changed
    signature/band params must refuse: the cross-epoch join would not
    error, it would just silently miss every prior-epoch dup."""
    import numpy as np

    from bloom_filters_spark.pipeline import NearDupConfig
    from bloom_filters_spark.streaming.dedup import run_incremental_near_dup

    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = generate_pages_pdf(np.arange(20), seed=3)
    spark.createDataFrame(pdf, PAGES_SCHEMA).write.parquet(src + "/b1")
    static = spark.read.parquet(src + "/*")
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(src + "/*")
        .select("doc_id", "text")
    )
    store = str(tmp_path / "store")
    q = run_incremental_near_dup(
        spark, stream, NearDupConfig(threshold=0.8), store,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    with pytest.raises(ValueError, match="different config"):
        run_incremental_near_dup(
            spark, stream, NearDupConfig(threshold=0.8, num_hashes=64,
                                         bands=16),
            store, checkpoint_dir=str(tmp_path / "ckpt2"),
        )
    # a store whose band rows hold 64-bit hashes: refused before any
    # batch runs, since its bands can never join the 32-bit ones
    sidecar = os.path.join(store, "_store_config.json")
    with open(sidecar) as fh:
        stored = json.load(fh)
    assert stored["band_hash_bits"] == 32
    with open(sidecar, "w") as fh:
        json.dump({**stored, "band_hash_bits": 64}, fh)
    with pytest.raises(ValueError, match="different config"):
        run_incremental_near_dup(
            spark, stream, NearDupConfig(threshold=0.8), store,
            checkpoint_dir=str(tmp_path / "ckpt3"),
        )


def test_incremental_near_dup_refuses_boilerplate_pruning(spark, tmp_path):
    """A batch has no corpus-wide shingle frequencies to prune with, so
    boilerplate_max_df is refused before the query starts or the store
    is created."""
    from bloom_filters_spark.pipeline import NearDupConfig
    from bloom_filters_spark.streaming.dedup import run_incremental_near_dup

    src = str(tmp_path / "src")
    os.makedirs(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    store = str(tmp_path / "store")
    with pytest.raises(ValueError, match="boilerplate_max_df"):
        run_incremental_near_dup(
            spark, stream, NearDupConfig(boilerplate_max_df=0.3), store,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
    assert not os.path.exists(store)
    assert not spark.streams.active


def _torn_json_dump(obj, fp, **kw):
    """json.dump that dies part-way through its write."""
    fp.write(json.dumps(obj, **kw)[:7])
    fp.flush()
    raise OSError("simulated crash mid-write")


def test_store_config_torn_write_then_restart(spark, tmp_path, monkeypatch):
    """A crash while the store's config sidecar is written leaves no
    torn sidecar: the restart creates it and runs, and the published
    sidecar still refuses a changed config."""
    import numpy as np

    from bloom_filters_spark.pipeline import NearDupConfig
    from bloom_filters_spark.streaming.dedup import run_incremental_near_dup

    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = generate_pages_pdf(np.arange(20), seed=3)
    spark.createDataFrame(pdf, PAGES_SCHEMA).write.parquet(src + "/b1")
    static = spark.read.parquet(src + "/*")
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(src + "/*")
        .select("doc_id", "text")
    )
    store = str(tmp_path / "store")
    cfg = NearDupConfig(threshold=0.8)
    monkeypatch.setattr(json, "dump", _torn_json_dump)
    with pytest.raises(OSError, match="simulated crash"):
        run_incremental_near_dup(spark, stream, cfg, store,
                                 checkpoint_dir=str(tmp_path / "ckpt"))
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(store, "_store_config.json"))

    q = run_incremental_near_dup(spark, stream, cfg, store,
                                 checkpoint_dir=str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(store + "/signatures").count() == 20
    with open(os.path.join(store, "_store_config.json")) as fh:
        assert json.load(fh)["num_hashes"] == cfg.num_hashes
    with pytest.raises(ValueError, match="different config"):
        run_incremental_near_dup(
            spark, stream, NearDupConfig(threshold=0.8, num_hashes=64,
                                         bands=16),
            store, checkpoint_dir=str(tmp_path / "ckpt2"),
        )


def test_compact_epochs_torn_marker_then_rerun(spark, tmp_path, monkeypatch):
    """A crash while compact_epochs writes its marker leaves no torn
    marker: the store reads as before, and the re-run compacts."""
    from bloom_filters_spark.streaming.dedup import compact_epochs

    base = str(tmp_path / "bands")
    rows = [(i, i * 7, i % 4) for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, v long, epoch int") \
        .write.partitionBy("epoch").parquet(base)

    def content():
        return sorted(map(tuple, spark.read.parquet(base).collect()))

    before = content()
    monkeypatch.setattr(json, "dump", _torn_json_dump)
    with pytest.raises(OSError, match="simulated crash"):
        compact_epochs(spark, base, 3)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(base, "_compact_manifest.json"))
    assert content() == before

    assert compact_epochs(spark, base, 3) == 3  # epochs 0-2 → epoch=2
    assert content() == sorted((d, v, max(e, 2)) for d, v, e in before)
    assert {n for n in os.listdir(base) if n.startswith("epoch=")} \
        == {"epoch=2", "epoch=3"}


def test_incremental_near_dup_within_batch_pairs(spark, tmp_path):
    """Two near-dups arriving in the SAME micro-batch must be paired —
    the new bands self-join, not only the new×old store join."""
    import numpy as np

    from bloom_filters_spark.pipeline import NearDupConfig
    from bloom_filters_spark.streaming.dedup import run_incremental_near_dup

    src = str(tmp_path / "src")
    os.makedirs(src)
    # originals AND their near-copies all in ONE parquet drop = one batch
    pdf = generate_pages_pdf(np.arange(0, 60), seed=11)
    spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.parquet(
        src + "/b1"
    )

    static = spark.read.parquet(src + "/*")
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(src + "/*")
        .select("doc_id", "text")
    )
    store = str(tmp_path / "store")
    q = run_incremental_near_dup(
        spark, stream, NearDupConfig(threshold=0.8), store,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    pairs = spark.read.parquet(store + "/pairs")
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert len(got) > 0  # was silently empty before the self-join fix
    for id1, id2 in got:
        assert abs(id1 - id2) == 1  # only planted (2k, 2k+1) pairs exist


def test_incremental_near_dup_epoch_replay_idempotent(spark, tmp_path):
    """Replaying the same epochs against an existing store (fresh
    checkpoint, same source) must overwrite per-epoch slices, not
    append duplicates or desync bands from signatures."""
    import numpy as np

    from bloom_filters_spark.pipeline import NearDupConfig
    from bloom_filters_spark.streaming.dedup import run_incremental_near_dup

    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf1 = generate_pages_pdf(np.arange(0, 100, 2), seed=9)
    pdf2 = generate_pages_pdf(np.arange(1, 101, 2), seed=9)
    spark.createDataFrame(pdf1, PAGES_SCHEMA).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(pdf2, PAGES_SCHEMA).coalesce(1).write.parquet(src + "/b2")

    static = spark.read.parquet(src + "/*")
    store = str(tmp_path / "store")
    cfg = NearDupConfig(threshold=0.8)

    def run(ckpt):
        stream = (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
            .select("doc_id", "text")
        )
        q = run_incremental_near_dup(spark, stream, cfg, store,
                                     checkpoint_dir=str(tmp_path / ckpt))
        q.processAllAvailable()
        q.stop()

    run("ckpt1")
    first = sorted(
        (r["id1"], r["id2"])
        for r in spark.read.parquet(store + "/pairs").collect()
    )
    # replay: fresh checkpoint re-delivers the same files as epochs 0..1
    run("ckpt2")
    second = sorted(
        (r["id1"], r["id2"])
        for r in spark.read.parquet(store + "/pairs").collect()
    )
    assert first == second  # no duplicated pairs after replay
    # band and signature stores also hold exactly one slice per epoch
    bands = spark.read.parquet(store + "/bands")
    sigs = spark.read.parquet(store + "/signatures")
    assert bands.select("epoch").distinct().count() == 2
    assert sigs.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0


def test_incremental_near_dup_crash_replay_from_checkpoint(spark, tmp_path):
    """Kill-and-resume e2e: process two file-drop epochs, then simulate
    a crash that happened AFTER epoch 1's store writes but BEFORE the
    engine committed epoch 1 (delete the checkpoint's commit marker —
    exactly the on-disk state a mid-batch kill leaves).  On restart the
    engine genuinely replays epoch 1 against a store that already holds
    its output, then processes a third drop.  The oracle is a clean
    control run over the same three drops: the crashed-and-resumed
    store must contain the IDENTICAL pair set — nothing lost, nothing
    duplicated."""
    import numpy as np

    from bloom_filters_spark.pipeline import NearDupConfig
    from bloom_filters_spark.streaming.dedup import run_incremental_near_dup

    cfg = NearDupConfig(threshold=0.8)

    def stage(dirname, drops):
        src = str(tmp_path / dirname)
        os.makedirs(src)
        for i, ids in enumerate(drops):
            pdf = generate_pages_pdf(ids, seed=17)
            spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.parquet(
                f"{src}/b{i}"
            )
        return src

    def start(src, store, ckpt):
        static = spark.read.parquet(src + "/*")
        stream = (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
            .select("doc_id", "text")
        )
        return run_incremental_near_dup(
            spark, stream, cfg, store, checkpoint_dir=ckpt
        )

    # planted near-dup pairs are (2k, 2k+1); split so pairs span epochs
    drop1 = np.arange(0, 40, 2)     # originals
    drop2 = np.arange(1, 41, 2)     # their near-copies (cross-epoch pairs)
    drop3 = np.arange(40, 60)       # originals AND copies (within-batch)

    def collect_pairs(store):
        df = spark.read.parquet(store + "/pairs")
        rows = [(r["id1"], r["id2"]) for r in df.collect()]
        assert len(rows) == len(set(rows)), "duplicated pairs in store"
        return set(rows)

    # --- control: clean uninterrupted run over all three drops
    ctl_src = stage("ctl_src", [drop1, drop2, drop3])
    ctl_store = str(tmp_path / "ctl_store")
    q = start(ctl_src, ctl_store, str(tmp_path / "ctl_ckpt"))
    q.processAllAvailable()
    q.stop()
    expected = collect_pairs(ctl_store)
    assert len(expected) > 0

    # --- crashed run: two drops, kill, un-commit epoch 1, drop 3, resume
    src = stage("crash_src", [drop1, drop2])
    store = str(tmp_path / "crash_store")
    ckpt = str(tmp_path / "crash_ckpt")
    q = start(src, store, ckpt)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()  # fully release the checkpoint before restart
    # the store already holds epoch 1's bands/sigs/pairs; removing the
    # commit marker makes the restart replay epoch 1 from its offsets
    commit_1 = os.path.join(ckpt, "commits", "1")
    assert os.path.exists(commit_1)
    os.remove(commit_1)
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):  # hadoop checksum sidecar of the commit
        os.remove(crc)

    pdf3 = generate_pages_pdf(drop3, seed=17)
    spark.createDataFrame(pdf3, PAGES_SCHEMA).coalesce(1).write.parquet(
        src + "/b2"
    )
    q = start(src, store, ckpt)
    q.processAllAvailable()
    q.stop()

    assert collect_pairs(store) == expected


def test_compact_epochs_preserves_replay(spark, tmp_path):
    """20 micro-batches → compact bands+signatures below the last
    committed epoch → replay the last epoch (delete its commit marker,
    restart) → pairs output identical to an uncompacted control run;
    compacted stores read back row-identical with a bounded directory
    count."""
    import numpy as np

    from bloom_filters_spark.pipeline import NearDupConfig
    from bloom_filters_spark.streaming.dedup import (
        compact_epochs,
        run_incremental_near_dup,
    )

    n_batches = 20
    src = str(tmp_path / "src")
    os.makedirs(src)
    for b in range(n_batches):
        ids = np.arange(b, 400, n_batches)  # spreads planted (2k,2k+1)
        pdf = generate_pages_pdf(ids, seed=9)
        spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.parquet(
            src + f"/b{b:02d}"
        )
    static = spark.read.parquet(src + "/*")
    cfg = NearDupConfig(threshold=0.8)

    def run(store, ckpt):
        stream = (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
            .select("doc_id", "text")
        )
        q = run_incremental_near_dup(spark, stream, cfg, store,
                                     checkpoint_dir=ckpt)
        q.processAllAvailable()
        q.stop()

    def pairs_of(store):
        return sorted(
            (r["id1"], r["id2"])
            for r in spark.read.parquet(store + "/pairs").collect()
        )

    control = str(tmp_path / "store_ctl")
    run(control, str(tmp_path / "ckpt_ctl"))
    want = pairs_of(control)
    assert len(want) > 0

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    run(store, ckpt)
    assert pairs_of(store) == want

    # pre-compaction content + epoch count
    bands_before = sorted(
        map(tuple, spark.read.parquet(store + "/bands").drop("epoch").collect())
    )
    sigs_before = sorted(
        map(tuple,
            spark.read.parquet(store + "/signatures").drop("epoch").collect())
    )
    n_epochs = spark.read.parquet(store + "/bands").select(
        "epoch").distinct().count()
    assert n_epochs == n_batches

    # compact everything below the LAST epoch (all are committed)
    last = n_batches - 1
    for sub in ("bands", "signatures"):
        merged = compact_epochs(spark, store + "/" + sub, last)
        assert merged == last  # epochs 0..18 merged into epoch=18
        left = spark.read.parquet(store + "/" + sub).select(
            "epoch").distinct().count()
        assert left == 2  # epoch=18 (merged) + epoch=19
    assert sorted(
        map(tuple, spark.read.parquet(store + "/bands").drop("epoch").collect())
    ) == bands_before
    assert sorted(
        map(tuple,
            spark.read.parquet(store + "/signatures").drop("epoch").collect())
    ) == sigs_before

    # replay the last epoch against the compacted store: un-commit it
    commit = os.path.join(ckpt, "commits", str(last))
    assert os.path.exists(commit)
    os.remove(commit)
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run(store, ckpt)
    assert pairs_of(store) == want  # identical pairs after replay

    # compacting an already-compacted store is a no-op
    assert compact_epochs(spark, store + "/bands", last) == 0


def _run_stream(spark, src, store, ckpt, cfg):
    static = spark.read.parquet(src + "/*")
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
        .select("doc_id", "text")
    )
    from bloom_filters_spark.streaming.dedup import run_incremental_near_dup

    q = run_incremental_near_dup(spark, stream, cfg, store, checkpoint_dir=ckpt)
    q.processAllAvailable()
    q.stop()


def test_incremental_near_dup_star_links_hot_band(spark, tmp_path):
    """More than cfg.max_band_group identical docs in ONE micro-batch:
    the within-batch candidates star-link the hot band group instead of
    emitting all n(n-1)/2 pairs, and every copy is still paired."""
    from bloom_filters_spark.pipeline import NearDupConfig

    n = 40
    boiler = " ".join(f"b{j}" for j in range(30))
    docs = [(i, boiler) for i in range(n)]
    docs += [(100 + i, f"unique doc {i} with words {i*7} {i*13} filler")
             for i in range(5)]
    src = str(tmp_path / "src")
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(1) \
        .write.parquet(src + "/b1")
    store = str(tmp_path / "store")
    _run_stream(spark, src, store, str(tmp_path / "ckpt"),
                NearDupConfig(threshold=0.8, max_band_group=10))
    got = {(r["id1"], r["id2"])
           for r in spark.read.parquet(store + "/pairs").collect()}
    assert len(got) < n * (n - 1) // 2, len(got)
    assert {i for p in got for i in p} == set(range(n))


def test_incremental_near_dup_exact_verify(spark, tmp_path):
    """verify="exact" decides on exact shingle Jaccard, within a batch
    and against the stored shingles of earlier epochs; a store created
    in estimate mode refuses an exact-mode restart, and a store whose
    sidecar does not record verify refuses any restart."""
    import numpy as np

    from bloom_filters_spark.operators.arrow_sig import arrow_shingle_set_py
    from bloom_filters_spark.pipeline import NearDupConfig

    src = str(tmp_path / "src")
    pdfs = [generate_pages_pdf(np.arange(0, 60, 2), seed=9),    # originals
            generate_pages_pdf(np.concatenate(                  # copies +
                [np.arange(1, 61, 2), np.arange(60, 90)]), seed=9)]  # within
    for i, pdf in enumerate(pdfs):
        spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.parquet(
            f"{src}/b{i}")
    texts = {int(r["doc_id"]): r["text"]
             for r in spark.read.parquet(src + "/*").collect()}
    cfg = NearDupConfig(threshold=0.7, verify="exact")
    store = str(tmp_path / "store")
    _run_stream(spark, src, store, str(tmp_path / "ckpt"), cfg)
    pairs = spark.read.parquet(store + "/pairs").collect()
    assert any(r["id2"] < 60 for r in pairs)  # cross-epoch pairs
    assert any(r["id1"] >= 60 for r in pairs)  # within-batch pairs
    for r in pairs:
        sa = set(arrow_shingle_set_py(texts[r["id1"]], cfg.shingle_size,
                                      cfg.max_value))
        sb = set(arrow_shingle_set_py(texts[r["id2"]], cfg.shingle_size,
                                      cfg.max_value))
        true_j = len(sa & sb) / len(sa | sb)
        assert r["jaccard"] == pytest.approx(true_j)
        assert true_j >= cfg.threshold

    est_store = str(tmp_path / "est_store")
    _run_stream(spark, src, est_store, str(tmp_path / "est_ckpt"),
                NearDupConfig(threshold=0.7))
    with pytest.raises(ValueError, match="different config"):
        _run_stream(spark, src, est_store, str(tmp_path / "est_ckpt2"), cfg)

    # a sidecar written before verify was pinned cannot say whether the
    # store holds shingles: it is refused, even under its own mode
    path = os.path.join(store, "_store_config.json")
    with open(path) as fh:
        side = json.load(fh)
    del side["verify"]
    with open(path, "w") as fh:
        json.dump(side, fh)
    with pytest.raises(ValueError, match="different config"):
        _run_stream(spark, src, store, str(tmp_path / "ckpt2"), cfg)
