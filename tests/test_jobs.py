"""spark-submit entry points driven end-to-end as subprocesses (the
actual user surface: argument parsing, stage wiring, metrics JSON).
Runs at sf0.001 to keep the suite fast."""

import json
import os
import subprocess
import sys
from dataclasses import asdict

import pytest

from bloom_filters_spark.pipeline import NearDupConfig

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = "/root/testdata/sf0.001/documents.parquet"


def _run_job(script, *args):
    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", script), *args],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    import pyspark.sql.functions as F

    path = str(tmp_path_factory.mktemp("jobs") / "pages.parquet")
    d = spark.read.parquet(DOCS)
    d.select(
        F.concat(
            F.lit("https://WWW.site"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".com:443/p/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.current_timestamp().alias("warc_ts"),
        F.col("text").cast("binary").alias("html"),
        "text", "lang",
    ).write.mode("overwrite").parquet(path)
    return path


def test_curate_job_chain(tmp_path):
    out = str(tmp_path / "curated")
    m = _run_job(
        "curate_job.py", "--input", DOCS, "--output", out,
        "--max-rare-ppm", "900000", "--dedup", "exact",
        "--stratify-col", "lang", "--stratify-fraction", "0.5",
        "--split", "train=0.8,val=0.1,test=0.1",
    )
    st = m["stages"]
    assert st["rows_in"] == 500
    # every requested stage reported, monotone non-increasing
    keys = ["rows_in", "after_rarity", "after_exact_dedup",
            "after_stratify", "rows_out"]
    vals = [st[k] for k in keys]
    assert vals == sorted(vals, reverse=True)
    assert sum(m["splits"].values()) == st["rows_out"] > 0
    # metrics JSON persisted next to the output
    assert json.load(open(out + "_metrics.json")) == m


def test_curate_job_pages_stages(pages_parquet, tmp_path):
    out = str(tmp_path / "curated_pages")
    m = _run_job(
        "curate_job.py", "--input", pages_parquet, "--output", out,
        "--pages", "--latest-revision",
        "--blocklist", "site0.com,site3.com", "--domain-cap", "5",
    )
    st = m["stages"]
    # 7 synthetic hosts; blocking 2 drops 2/7 of 500; cap 5/host
    assert st["after_blocklist"] == 357
    assert st["after_domain_cap"] == 25 == st["rows_out"]


def test_curate_job_rejects_bad_flags(tmp_path):
    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "curate_job.py"),
         "--input", DOCS, "--output", str(tmp_path / "x"),
         "--domain-cap", "3"],
        capture_output=True, text=True, timeout=120, env=env,
    )
    assert out.returncode != 0
    assert "--domain-cap requires --pages" in out.stderr


def test_near_dup_job_with_curation(tmp_path):
    out = str(tmp_path / "clusters")
    m = _run_job(
        "near_dup_job.py", "--input", DOCS, "--output", out,
        "--sample-fraction", "0.5",
    )
    cur = m["curation"]
    assert cur["rows_in"] == 500
    assert 0 < cur["after_sample"] < 500
    assert m["rows"] == cur["after_sample"]
    assert m["clusters"] <= m["rows"]
    # the metrics name the config that ran, job defaults included
    assert m["config"] == asdict(NearDupConfig(exact_prededup="auto"))


def test_near_dup_job_against(spark, tmp_path):
    """--against on sf0.001 split into an increment (doc_id % 10 = 5)
    and a corpus: verified new×corpus pairs in the metrics JSON; the
    incremental mode refuses --exact-prededup on before reading input."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(DOCS)
    new, corpus = str(tmp_path / "new.parquet"), str(tmp_path / "old.parquet")
    docs.filter(F.col("doc_id") % 10 == 5).write.parquet(new)
    docs.filter(F.col("doc_id") % 10 != 5).write.parquet(corpus)
    out = str(tmp_path / "pairs")
    m = _run_job(
        "near_dup_job.py", "--input", new, "--output", out,
        "--against", corpus,
    )
    assert m["pairs"] == 3
    assert json.load(open(out + "_metrics.json")) == m

    env = {**os.environ, "PYTHONPATH": REPO}
    bad = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "near_dup_job.py"),
         "--input", new, "--output", str(tmp_path / "x"),
         "--against", corpus, "--exact-prededup", "on"],
        capture_output=True, text=True, timeout=120, env=env,
    )
    assert bad.returncode != 0
    assert "--exact-prededup on is not supported together with --against" \
        in bad.stderr


def test_near_dup_job_checkpoint_with_pruning_and_prededup(spark, tmp_path):
    """--checkpoint-root takes --boilerplate-max-df and --exact-prededup
    on, and writes the same clusters as the job without it."""
    flags = ["--input", DOCS, "--boilerplate-max-df", "0.5",
             "--exact-prededup", "on"]
    direct, ckpt = str(tmp_path / "direct"), str(tmp_path / "ckpt_out")
    _run_job("near_dup_job.py", *flags, "--output", direct)
    m = _run_job("near_dup_job.py", *flags, "--output", ckpt,
                 "--checkpoint-root", str(tmp_path / "ckpt"),
                 "--checkpoint-buckets", "4")
    assert m["rows"] == 500
    assert m["config"] == asdict(NearDupConfig(boilerplate_max_df=0.5,
                                               exact_prededup="on"))
    assert os.path.exists(tmp_path / "ckpt" / "signatures" / "_manifest.json")

    def clusters(path):
        return {r["doc_id"]: r["cluster_id"]
                for r in spark.read.parquet(path).collect()}

    assert clusters(ckpt) == clusters(direct)


def test_latest_revision_null_ts_survives(spark, tmp_path):
    """A canonical-URL group whose winning row has NULL warc_ts must
    SURVIVE --latest-revision (null-safe ts equality in the semi-join;
    a plain `=` dropped the whole group), and exact (url, ts) ties both
    survive — downstream exact dedup owns that choice."""
    import datetime

    from pyspark.sql import functions as F

    ts = lambda d: datetime.datetime(2026, 1, d)
    rows = [
        ("https://a.com/x", ts(1)), ("https://a.com/x", ts(3)),
        ("https://a.com/x", ts(2)),
        ("https://b.com/y", None), ("https://b.com/y", None),
        ("https://c.com/z", None), ("https://c.com/z", ts(7)),
    ]
    path = str(tmp_path / "pages_null_ts.parquet")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp"
    ).select(
        "url", "warc_ts",
        F.lit("body text here").alias("text"),
        F.col("url").cast("binary").alias("html"),
        F.lit("en").alias("lang"),
    ).write.mode("overwrite").parquet(path)
    out = str(tmp_path / "curated_null_ts")
    m = _run_job(
        "curate_job.py", "--input", path, "--output", out,
        "--pages", "--latest-revision",
    )
    st = m["stages"]
    # a: latest ts wins (1 row); b: all-NULL group survives (both
    # byte-identical (url, ts) ties kept); c: real ts beats NULL (1)
    assert st["after_latest_revision"] == 4


def test_curate_job_c4_and_dsir_stages(spark, tmp_path):
    """--c4-filter and --dsir-top end to end through spark-submit:
    docs get a synthetic line structure (half of them C4-dirty), then
    DSIR keeps the N best target-matching survivors."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "c4docs.parquet")
    d = spark.read.parquet(DOCS)
    good = "this tail line has plenty of extra words attached here."
    d.select(
        "doc_id", "lang",
        F.concat(
            F.col("text"), F.lit(".\n"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(good))
            .otherwise(F.lit("lorem ipsum dolor sit amet")),
            F.lit("\n"), F.col("text"), F.lit("!"),
        ).alias("text"),
    ).write.mode("overwrite").parquet(path)

    out = str(tmp_path / "curated")
    m = _run_job(
        "curate_job.py", "--input", path, "--output", out,
        "--c4-filter", "--dsir-top", "20",
        "--dsir-target", "lang = 'en'",
    )
    st = m["stages"]
    assert st["rows_in"] == 500
    # odd doc_ids carry lorem ipsum -> dropped by the C4 gate
    assert st["after_c4"] == 250
    assert st["after_dsir"] == 20 == st["rows_out"]


def test_curate_job_stage_dir_kill_resume(spark, tmp_path):
    """Per-stage resume: a run killed mid-chain (--fail-after test
    hook = deterministic kill at a stage boundary) resumes with the
    same args, skips every completed stage, and produces the exact
    output of an uninterrupted control run."""
    env = {**os.environ, "PYTHONPATH": REPO}
    chain = [
        "--max-rare-ppm", "900000", "--dedup", "exact",
        "--stratify-col", "lang", "--stratify-fraction", "0.5",
        "--split", "train=0.8,val=0.1,test=0.1",
    ]

    control_out = str(tmp_path / "control")
    m_control = _run_job(
        "curate_job.py", "--input", DOCS, "--output", control_out, *chain
    )

    out = str(tmp_path / "curated")
    stage_dir = str(tmp_path / "stages")
    crashed = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "curate_job.py"),
         "--input", DOCS, "--output", out, "--stage-dir", stage_dir,
         *chain, "--fail-after", "after_exact_dedup"],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert crashed.returncode == 3, crashed.stderr[-2000:]
    assert not os.path.exists(out)  # died before the final write
    # the two completed stages committed their checkpoints
    assert os.path.exists(
        os.path.join(stage_dir, "00_after_rarity", "_SUCCESS"))
    assert os.path.exists(
        os.path.join(stage_dir, "01_after_exact_dedup", "_SUCCESS"))

    m = _run_job(
        "curate_job.py", "--input", DOCS, "--output", out,
        "--stage-dir", stage_dir, *chain,
    )
    assert m["stages_skipped"] == ["after_rarity", "after_exact_dedup"]
    assert m["stages"] == m_control["stages"]
    assert m["splits"] == m_control["splits"]
    got = sorted(
        (r["doc_id"], r["split"])
        for r in spark.read.parquet(out).select("doc_id", "split").collect()
    )
    want = sorted(
        (r["doc_id"], r["split"])
        for r in spark.read.parquet(control_out)
        .select("doc_id", "split").collect()
    )
    assert got == want

    # a second rerun skips EVERY stage (all boundaries committed)
    m2 = _run_job(
        "curate_job.py", "--input", DOCS, "--output", out,
        "--stage-dir", stage_dir, *chain,
    )
    assert m2["stages_skipped"] == [
        "after_rarity", "after_exact_dedup", "after_stratify"
    ]
    assert m2["splits"] == m_control["splits"]

    # a half-written (uncommitted) stage re-runs: drop its _SUCCESS
    os.remove(os.path.join(stage_dir, "02_after_stratify", "_SUCCESS"))
    m3 = _run_job(
        "curate_job.py", "--input", DOCS, "--output", out,
        "--stage-dir", stage_dir, *chain,
    )
    assert m3["stages_skipped"] == ["after_rarity", "after_exact_dedup"]
    assert m3["splits"] == m_control["splits"]

    # changed args → different fingerprint → full fresh run, no skips
    m4 = _run_job(
        "curate_job.py", "--input", DOCS, "--output", out,
        "--stage-dir", stage_dir,
        "--max-rare-ppm", "900000", "--dedup", "exact",
        "--stratify-col", "lang", "--stratify-fraction", "0.4",
        "--split", "train=0.8,val=0.1,test=0.1",
    )
    assert "stages_skipped" not in m4


def test_curate_job_truncated_manifest_starts_fresh(spark, tmp_path):
    """A stage-dir manifest that fails to decode counts as absent: the
    rerun recomputes every stage and writes the same output."""
    chain = ["--max-rare-ppm", "900000", "--dedup", "exact",
             "--split", "train=0.8,val=0.1,test=0.1"]
    out = str(tmp_path / "curated")
    stage_dir = str(tmp_path / "stages")
    args = ["--input", DOCS, "--output", out, "--stage-dir", stage_dir,
            *chain]
    m1 = _run_job("curate_job.py", *args)
    rows1 = sorted(
        tuple(r) for r in spark.read.parquet(out)
        .select("doc_id", "split").collect()
    )
    manifest = os.path.join(stage_dir, "manifest.json")
    assert not os.path.exists(manifest + ".tmp")
    with open(manifest) as f:
        text = f.read()
    with open(manifest, "w") as f:
        f.write(text[: len(text) // 2])

    m2 = _run_job("curate_job.py", *args)
    assert "stages_skipped" not in m2
    assert m2["stages"] == m1["stages"]
    assert m2["splits"] == m1["splits"]
    rows2 = sorted(
        tuple(r) for r in spark.read.parquet(out)
        .select("doc_id", "split").collect()
    )
    assert rows2 == rows1
    with open(manifest) as f:
        assert json.load(f)["completed"]
