"""Checkpoint/resume tests (SURVEY.md §5.2 item 5): kill-and-resume must
not recompute completed partitions and must produce identical clusters."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from bloom_filters_spark import checkpoint
from bloom_filters_spark.checkpoint import (
    CheckpointConfig,
    CheckpointedNearDup,
    read_manifest,
)
from bloom_filters_spark.operators import arrow_sig, components
from bloom_filters_spark.pipeline import NearDupConfig, near_dup_pipeline


@pytest.fixture()
def docs_df(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def clusters_dict(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def hot_band_docs(spark):
    """100 identical boilerplate docs (one band group far above
    max_band_group=10) plus 5 unique docs."""
    boiler = " ".join(f"b{j}" for j in range(30))
    docs = [(i, boiler) for i in range(100)]
    docs += [(200 + i, f"unique doc {i} with words {i*7} {i*13} {i*17} filler")
             for i in range(5)]
    return spark.createDataFrame(docs, "doc_id long, text string")


def boilerplate_docs(spark):
    """40 docs that share only a 40-word navigation block, plus three
    copies (100-102) of one real text behind the same block."""
    boiler = " ".join(f"nav{j}" for j in range(40))
    docs = [
        (i, boiler + " " + " ".join(f"u{i}w{j * 7 + i}" for j in range(8)))
        for i in range(40)
    ]
    real = " ".join(f"core{j}" for j in range(30))
    docs += [(i, boiler + " " + real) for i in (100, 101, 102)]
    return spark.createDataFrame(docs, "doc_id long, text string")


def exact_copy_docs(spark):
    """20 distinct texts in near-dup twins (one word apart), each sent
    1-3 times with case and whitespace changes the pre-dedup undoes."""
    docs = []
    for i in range(20):
        text = " ".join([f"g{i // 2}w{j}" for j in range(11)] + [f"own{i}"])
        for copy in (text, text.upper(), text.replace(" ", " \t "))[: i % 3 + 1]:
            docs.append((len(docs), copy))
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_checkpointed_matches_direct(spark, docs_df, tmp_path):
    inputs = [
        ("docs", docs_df, NearDupConfig(threshold=0.7)),
        ("hot_band", hot_band_docs(spark),
         NearDupConfig(threshold=0.8, max_band_group=10)),
        ("boilerplate", boilerplate_docs(spark),
         NearDupConfig(threshold=0.7, boilerplate_max_df=0.5)),
        ("exact_copies", exact_copy_docs(spark),
         NearDupConfig(threshold=0.7, exact_prededup="on")),
    ]
    got = {}
    for name, df, cfg in inputs:
        direct = clusters_dict(near_dup_pipeline(df, cfg))
        cp = CheckpointedNearDup(
            spark, cfg, CheckpointConfig(str(tmp_path / name), n_buckets=8)
        )
        got[name] = clusters_dict(cp.run(df))
        assert got[name] == direct, name
    # the hot band was star linked into one cluster, not split
    assert set(got["hot_band"][i] for i in range(100)) == {0}
    n_pairs = spark.read.parquet(str(tmp_path / "hot_band" / "pairs")).count()
    assert n_pairs < 100 * 99 // 2, n_pairs
    # pruned, the shared block links nothing: the 40 docs stay apart
    assert len(set(got["boilerplate"].values())) == 41
    # the stages hold one representative per distinct normalized text,
    # and the twins still link across them
    man = read_manifest(str(tmp_path / "exact_copies" / "signatures"))
    assert sum(b["rows"] for b in man["buckets"].values()) == 20
    assert len(set(got["exact_copies"].values())) == 10


@pytest.mark.parametrize("table_format", ["parquet", "orc"])
def test_empty_input_runs_and_resumes(spark, tmp_path, table_format):
    """An empty input writes no signature bucket file: the cold run
    still gives empty clusters, and a resume over its store too."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    cfg = NearDupConfig(threshold=0.7)
    ck = CheckpointConfig(str(tmp_path), n_buckets=4, table_format=table_format)
    assert CheckpointedNearDup(spark, cfg, ck).run(empty).count() == 0
    cp2 = CheckpointedNearDup(spark, cfg, ck)
    assert cp2.run(empty).count() == 0
    stages = {c["stage"]: c for c in cp2.metrics()}
    assert stages["signatures"]["recomputed_buckets"] == 0
    assert stages["pairs"]["recomputed"] is False
    assert stages["clusters"]["recomputed"] is False


def crash_signature_buckets(root, buckets):
    """Simulate a crash that lost the given signature buckets and every
    stage downstream of them."""
    sig_dir = os.path.join(root, "signatures")
    man = read_manifest(sig_dir)
    for b in buckets:
        del man["buckets"][b]
        shutil.rmtree(os.path.join(sig_dir, f"bucket={b}"), ignore_errors=True)
    with open(os.path.join(sig_dir, "_manifest.json"), "w") as f:
        json.dump(man, f)
    shutil.rmtree(os.path.join(root, "pairs"))
    shutil.rmtree(os.path.join(root, "clusters"))
    for d in os.listdir(root):
        if d.startswith("labels_iter_"):
            shutil.rmtree(os.path.join(root, d))


def label_iterations(root):
    return sorted(int(d[len("labels_iter_"):]) for d in os.listdir(root)
                  if d.startswith("labels_iter_"))


def test_resume_skips_completed_buckets(spark, docs_df, tmp_path):
    cfg = NearDupConfig(threshold=0.7)
    root = str(tmp_path)
    cp1 = CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets=8))
    first = clusters_dict(cp1.run(docs_df))

    crash_signature_buckets(root, ("2", "5"))

    cp2 = CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets=8))
    second = clusters_dict(cp2.run(docs_df))
    assert second == first

    sig_counter = [c for c in cp2.metrics() if c["stage"] == "signatures"][0]
    assert sig_counter["recomputed_buckets"] == 2
    assert sig_counter["skipped_buckets"] == 6

    # the row counts the manifests record (observed on the writes)
    # equal the rows actually in the written tables
    sig_dir = os.path.join(root, "signatures")
    written = {str(r["bucket"]): r["count"] for r in
               spark.read.parquet(sig_dir).groupBy("bucket").count().collect()}
    recorded = {b: m["rows"] for b, m in read_manifest(sig_dir)["buckets"].items()}
    assert set(recorded) == {str(b) for b in range(8)}
    assert recorded == {b: written.get(b, 0) for b in recorded}
    assert sum(recorded.values()) == docs_df.count()
    pair_dir = os.path.join(root, "pairs")
    assert read_manifest(pair_dir)["rows"] == spark.read.parquet(pair_dir).count()
    assert read_manifest(pair_dir)["rows"] > 0


def test_resume_under_boilerplate_pruning(spark, tmp_path, monkeypatch):
    """A resume prunes its lost buckets with the hot-shingle set stored
    in the signatures manifest, without detecting it again, and gives
    near_dup_pipeline's clusters (pre-dedup on as well)."""
    cfg = NearDupConfig(threshold=0.7, boilerplate_max_df=0.5,
                        exact_prededup="on")
    df = boilerplate_docs(spark)
    root = str(tmp_path)
    expected = clusters_dict(near_dup_pipeline(df, cfg))
    first = clusters_dict(
        CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets=8)).run(df)
    )
    assert first == expected
    hot = read_manifest(os.path.join(root, "signatures"))["hot_shingles"]
    assert hot and hot == sorted(hot)

    crash_signature_buckets(root, ("1", "4", "6"))
    detected = []
    monkeypatch.setattr(arrow_sig, "detect_hot_shingles",
                        lambda *a, **k: detected.append(a))
    cp2 = CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets=8))
    assert clusters_dict(cp2.run(df)) == expected
    assert detected == []
    sig_counter = [c for c in cp2.metrics() if c["stage"] == "signatures"][0]
    assert sig_counter["recomputed_buckets"] == 3

    # a manifest without the set counts as written under another
    # config: every stage recomputes, none reads the old rows
    monkeypatch.undo()
    man = read_manifest(os.path.join(root, "signatures"))
    del man["hot_shingles"]
    checkpoint.write_manifest(os.path.join(root, "signatures"), man)
    cp3 = CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets=8))
    assert clusters_dict(cp3.run(df)) == expected
    stages = {c["stage"]: c for c in cp3.metrics()}
    assert stages["signatures"]["recomputed_buckets"] == 8
    assert stages["pairs"]["recomputed"] is True
    assert stages["clusters"]["recomputed"] is True


def test_torn_manifest_recomputes_stage(spark, docs_df, tmp_path):
    """A truncated manifest reads as absent: the resume recomputes that
    stage instead of crashing, and the clusters stay the same."""
    cfg = NearDupConfig(threshold=0.7)
    root = str(tmp_path)
    first = clusters_dict(
        CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets=4)).run(docs_df)
    )
    man_path = os.path.join(root, "pairs", "_manifest.json")
    with open(man_path) as f:
        text = f.read()
    with open(man_path, "w") as f:
        f.write(text[: len(text) // 2])
    assert read_manifest(os.path.join(root, "pairs")) is None

    cp2 = CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets=4))
    assert clusters_dict(cp2.run(docs_df)) == first
    stages = {c["stage"]: c for c in cp2.metrics()}
    assert stages["signatures"]["recomputed_buckets"] == 0
    assert stages["pairs"]["recomputed"] is True
    assert read_manifest(os.path.join(root, "pairs"))["rows"] == stages["pairs"]["rows"]


def test_pair_mode_reaches_candidate_pairs(spark, docs_df, tmp_path, monkeypatch):
    """cfg.pair_mode is fingerprinted, so it must also select the
    candidate exchange; the clusters match near_dup_pipeline's."""
    cfg = NearDupConfig(threshold=0.7, pair_mode="count_join")
    modes = []
    real = checkpoint.candidate_pairs

    def spy(bands, max_band_group, id_col, mode="grouped"):
        modes.append(mode)
        return real(bands, max_band_group, id_col, mode=mode)

    monkeypatch.setattr(checkpoint, "candidate_pairs", spy)
    cp = CheckpointedNearDup(spark, cfg, CheckpointConfig(str(tmp_path), n_buckets=4))
    got = clusters_dict(cp.run(docs_df))
    assert modes == ["count_join"]
    assert got == clusters_dict(near_dup_pipeline(docs_df, cfg))


def test_small_run_solves_components_on_driver(spark, docs_df, tmp_path):
    """An edge set under the driver threshold is solved in one pass:
    no label-propagation iteration is checkpointed."""
    cfg = NearDupConfig(threshold=0.7)
    root = str(tmp_path)
    CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets=4)).run(docs_df)
    assert label_iterations(root) == []
    assert read_manifest(os.path.join(root, "clusters"))["iterations"] == 0


def test_labelprop_resumes_from_last_iteration(spark, docs_df, tmp_path,
                                               monkeypatch):
    """Above the driver threshold (forced to 0 here) the clusters stage
    checkpoints every label-propagation iteration; a crash after
    iteration 1 resumes from it and gives near_dup_pipeline's
    clusters."""
    cfg = NearDupConfig(threshold=0.7)
    root = str(tmp_path)
    expected = clusters_dict(near_dup_pipeline(docs_df, cfg))
    monkeypatch.setattr(components, "DRIVER_EDGE_THRESHOLD", 0)
    cp1 = CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets=4))
    assert clusters_dict(cp1.run(docs_df)) == expected
    iters = label_iterations(root)
    assert iters[0] == 1 and len(iters) >= 2

    # crash after labels_iter_1 was published
    shutil.rmtree(os.path.join(root, "clusters"))
    for k in iters[1:]:
        shutil.rmtree(os.path.join(root, f"labels_iter_{k}"))

    cp2 = CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets=4))
    assert clusters_dict(cp2.run(docs_df)) == expected
    resumed = [c["iteration"] for c in cp2.metrics() if c["stage"] == "labels"]
    assert resumed and resumed[0] == 2
    assert label_iterations(root) == iters
    stages = {c["stage"]: c for c in cp2.metrics()}
    assert stages["pairs"]["recomputed"] is False
    assert stages["clusters"]["iterations"] == iters[-1]

    # crash after the last (converged) iteration: the resume runs no
    # iteration, records the converged one's number, and builds no edge
    # set (a job that builds it stores its local-checkpoint blocks)
    shutil.rmtree(os.path.join(root, "clusters"))
    sc = spark.sparkContext

    def cached_rdds():
        return {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}

    before = cached_rdds()
    cp3 = CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets=4))
    assert clusters_dict(cp3.run(docs_df)) == expected
    assert cached_rdds() <= before
    stages = {c["stage"]: c for c in cp3.metrics()}
    assert "labels" not in stages
    assert stages["clusters"]["iterations"] == iters[-1]
    assert read_manifest(os.path.join(root, "clusters"))["iterations"] == \
        iters[-1]


def test_full_resume_is_all_skips(spark, docs_df, tmp_path):
    cfg = NearDupConfig(threshold=0.7)
    root = str(tmp_path)
    CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets=4)).run(docs_df)
    cp2 = CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets=4))
    cp2.run(docs_df)
    stages = {c["stage"]: c for c in cp2.metrics()}
    assert stages["signatures"]["recomputed_buckets"] == 0
    assert stages["pairs"]["recomputed"] is False
    assert stages["clusters"]["recomputed"] is False


def test_config_change_invalidates(spark, docs_df, tmp_path):
    root = str(tmp_path)
    CheckpointedNearDup(
        spark, NearDupConfig(threshold=0.7), CheckpointConfig(root, n_buckets=4)
    ).run(docs_df)
    cfg2 = NearDupConfig(threshold=0.8)
    cp2 = CheckpointedNearDup(spark, cfg2, CheckpointConfig(root, n_buckets=4))
    got = clusters_dict(cp2.run(docs_df))
    sig_counter = [c for c in cp2.metrics() if c["stage"] == "signatures"][0]
    assert sig_counter["recomputed_buckets"] == 4
    assert got == clusters_dict(near_dup_pipeline(docs_df, cfg2))


def test_table_format_seam_generic_branch(spark, docs_df, tmp_path):
    """The non-parquet storage branch (format(...).save/load) must
    produce identical clusters and resume behavior — exercised with ORC
    (bundled with Spark) standing in for Iceberg, which needs a runtime
    jar this sandbox lacks."""
    cfg = NearDupConfig(threshold=0.7)
    root = str(tmp_path)
    ck = CheckpointConfig(root, n_buckets=4, table_format="orc")
    got = clusters_dict(CheckpointedNearDup(spark, cfg, ck).run(docs_df))
    assert got == clusters_dict(near_dup_pipeline(docs_df, cfg))
    # resume: second run skips every stage
    cp2 = CheckpointedNearDup(spark, cfg, CheckpointConfig(root, n_buckets=4,
                                                           table_format="orc"))
    cp2.run(docs_df)
    stages = {c["stage"]: c for c in cp2.metrics()}
    assert stages["signatures"]["recomputed_buckets"] == 0
    assert stages["pairs"]["recomputed"] is False


def test_table_format_resolves_from_session_conf(spark, docs_df, tmp_path):
    """table_format=None must resolve from the session conf key — the
    one-flag cluster deployment path (--conf ...checkpoint.format=iceberg
    flips every checkpoint table with zero code changes)."""
    from bloom_filters_spark.checkpoint import FORMAT_CONF_KEY

    root = str(tmp_path)
    spark.conf.set(FORMAT_CONF_KEY, "orc")
    try:
        cp = CheckpointedNearDup(
            spark, NearDupConfig(threshold=0.7), CheckpointConfig(root, n_buckets=4)
        )
        assert cp.table_format == "orc"
        got = clusters_dict(cp.run(docs_df))
    finally:
        spark.conf.unset(FORMAT_CONF_KEY)
    assert got == clusters_dict(
        near_dup_pipeline(docs_df, NearDupConfig(threshold=0.7))
    )
    # the stage tables were actually written as ORC, not parquet
    sig_dir = os.path.join(root, "signatures")
    bucket0 = [d for d in os.listdir(sig_dir) if d.startswith("bucket=")][0]
    files = os.listdir(os.path.join(sig_dir, bucket0))
    assert any(f.endswith(".orc") for f in files), files
    assert not any(f.endswith(".parquet") for f in files), files
    # default (no conf, no explicit format) stays parquet
    cp2 = CheckpointedNearDup(
        spark, NearDupConfig(threshold=0.7),
        CheckpointConfig(str(tmp_path) + "_p", n_buckets=4),
    )
    assert cp2.table_format == "parquet"
