"""spark-submit entry point for the end-to-end training-data curation
pipeline: quality filter → C4 structural gate → dedup → domain cap →
DSIR target-matching selection → language rebalance → token-budget
selection → train/val/test split.

Every stage is optional and composable; each is one of the engine's
tested operators (functions/text.py, operators/sampling.py,
operators/dedup.py, pipeline.py), each md5-ordered stage gets its own
salt (see operators/sampling.py on composed-selection bias), and every
stage's surviving row count lands in the metrics JSON — drops are
observable, never silent.

    python tools/package.py          # -> build/bloom_filters_spark.zip
    spark-submit --master <cluster> \
        --py-files build/bloom_filters_spark.zip \
        jobs/curate_job.py \
        --input  /path/to/docs.parquet \
        --output /path/to/curated \
        [--quality-filter] [--c4-filter] [--max-rare-ppm 500000] \
        [--dedup exact|near] [--threshold 0.8] \
        [--dsir-top N --dsir-target "lang = 'en'"] \
        [--pages --domain-cap K] \
        [--stratify-col lang --stratify-budget N --alpha 0.5] \
        [--token-budget-frac 0.5] \
        [--split train=0.98,val=0.01,test=0.01] \
        [--stage-dir /path/to/stage_ckpts]

Writes the curated table to ``--output`` (with a ``split`` column when
--split is given) and a one-line JSON metrics summary to
``<output>_metrics.json``.

``--stage-dir`` makes the run resumable at stage granularity: each
stage's output parquet is a committed checkpoint (Spark _SUCCESS
marker + manifest row), so a killed job rerun with the same arguments
skips every completed stage and restarts from the first incomplete
boundary; skipped stages are reported under ``stages_skipped``.
"""

from __future__ import annotations

import argparse
import json
import time


def _parse_split(spec: str) -> dict:
    out = {}
    for part in spec.split(","):
        label, _, frac = part.partition("=")
        if not label or not frac:
            raise ValueError(
                f"bad --split entry {part!r}; expected label=fraction"
            )
        out[label.strip()] = float(frac)
    return out


def _plan_fingerprint(plan_keys, args) -> str:
    """A resumed run must re-execute the SAME plan on the SAME input
    with the SAME knobs — any difference (except --output /
    --stage-dir / the test hook) starts fresh."""
    import hashlib

    cfg = {
        k: v for k, v in sorted(vars(args).items())
        if k not in ("output", "stage_dir", "fail_after")
    }
    blob = json.dumps({"plan": list(plan_keys), "args": cfg}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()


def _fs_for(spark, path_str):
    """Hadoop FileSystem + Path for ``path_str`` — the SAME filesystem
    Spark writes the stage parquet to (defaultFS-resolved), so the
    resume protocol works under spark-submit on a cluster.  Driver-
    local ``os.path`` would silently never resume there: _SUCCESS
    lands on HDFS/S3 while the check reads the driver's local disk."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def _fs_exists(spark, path_str) -> bool:
    fs, path = _fs_for(spark, path_str)
    return bool(fs.exists(path))


def _fs_read_text(spark, path_str) -> str:
    fs, path = _fs_for(spark, path_str)
    stream = fs.open(path)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _fs_write_text(spark, path_str, data: str) -> None:
    """Publish ``data`` at ``path_str`` by writing a ``.tmp`` sibling
    and renaming it over the old file: a crash mid-write leaves the old
    file (or none), never a truncated one.  Filesystems whose rename
    refuses an existing target (HDFS) get delete + rename; a crash
    between the two leaves no file, which readers treat as absent."""
    fs, path = _fs_for(spark, path_str)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(path_str + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data.encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, path):
        fs.delete(path, False)
        if not fs.rename(tmp, path):
            raise IOError(f"could not publish {path_str}")


def _run_plan(spark, df, plan, stages, args):
    """Run the stage plan; with --stage-dir, each stage's output
    parquet is a committed checkpoint (Spark's _SUCCESS marker + a
    manifest row with the count), and a rerun skips every stage whose
    checkpoint committed under the same plan fingerprint, reading the
    last completed stage's parquet instead of recomputing it.

    Without --stage-dir: the original in-memory protocol — each stage
    persists its output before the count and unpersists its input
    (without this, every count and the final write re-execute ALL
    prior stages from the source scan: O(stages**2) work at scale).
    Returns (df, skipped_stage_keys)."""
    import os

    from py4j.protocol import Py4JJavaError

    if not plan:
        return df, []

    if args.stage_dir is None:
        prev = None
        for key, fn in plan:
            new_df = fn(df).persist()
            stages[key] = new_df.count()
            if prev is not None:
                prev.unpersist()
            prev = df = new_df
            if args.fail_after == key:
                print(json.dumps({"failed_after": key}))
                raise SystemExit(3)
        return df, []

    fs, stage_root = _fs_for(spark, args.stage_dir)
    fs.mkdirs(stage_root)
    manifest_path = os.path.join(args.stage_dir, "manifest.json")
    fp = _plan_fingerprint((k for k, _ in plan), args)
    manifest = None
    if _fs_exists(spark, manifest_path):
        try:
            manifest = json.loads(_fs_read_text(spark, manifest_path))
            if manifest.get("fingerprint") != fp:
                manifest = None  # different plan/input → start fresh
        except (ValueError, Py4JJavaError):
            # unreadable or undecodable (e.g. truncated, or failing its
            # checksum): start fresh, as on a fingerprint mismatch
            manifest = None

    done = dict(manifest["completed"]) if manifest else {}

    def stage_path(i, key):
        return os.path.join(args.stage_dir, f"{i:02d}_{key}")

    skipped = []
    start = 0
    for i, (key, _) in enumerate(plan):
        path = stage_path(i, key)
        if key in done and _fs_exists(spark, os.path.join(path, "_SUCCESS")):
            stages[key] = done[key]
            skipped.append(key)
            start = i + 1
        else:
            break
    if start > 0:
        df = spark.read.parquet(stage_path(start - 1, plan[start - 1][0]))

    completed = [(k, done[k]) for k, _ in plan[:start]]
    for i in range(start, len(plan)):
        key, fn = plan[i]
        path = stage_path(i, key)
        fn(df).write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)
        stages[key] = df.count()
        completed.append((key, stages[key]))
        # manifest written AFTER the stage parquet commits: a crash
        # between the two re-runs only the crashed stage
        _fs_write_text(
            spark, manifest_path,
            json.dumps({"fingerprint": fp, "completed": completed}),
        )
        if args.fail_after == key:
            print(json.dumps({"failed_after": key}))
            raise SystemExit(3)
    return df, skipped


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--pages", action="store_true",
                   help="input is a pages(url, ..., text) table; the id "
                        "key becomes url and --domain-cap is allowed")
    p.add_argument("--latest-revision", action="store_true",
                   help="with --pages: before anything else, keep only "
                        "the newest crawl (max warc_ts, max url tie) of "
                        "each canonical URL")
    p.add_argument("--blocklist", default=None,
                   help="with --pages: comma-separated blocked domains "
                        "(subdomains match); applied right after "
                        "--latest-revision")
    p.add_argument("--c4-filter", action="store_true",
                   help="C4 structural gate: drop docs with lorem "
                        "ipsum / braces / too few sentences over "
                        "C4-kept lines")
    p.add_argument("--dsir-top", type=int, default=None,
                   help="keep the N docs whose hashed-n-gram mix best "
                        "matches --dsir-target (DSIR importance head)")
    p.add_argument("--dsir-target", default="true",
                   help="SQL boolean over input columns marking the "
                        "target slice, e.g. \"lang = 'en'\"")
    p.add_argument("--quality-filter", action="store_true",
                   help="Gopher-style composite gates (default thresholds)")
    p.add_argument("--dedup", choices=["off", "exact", "near"],
                   default="off",
                   help="exact: keep min-id per normalized fingerprint; "
                        "near: MinHash-LSH clusters, keep the longest "
                        "member per cluster")
    p.add_argument("--threshold", type=float, default=0.8,
                   help="near-dup Jaccard threshold (--dedup near)")
    p.add_argument("--domain-cap", type=int, default=None)
    p.add_argument("--stratify-col", default=None,
                   help="rebalance strata of this column (e.g. lang)")
    p.add_argument("--stratify-budget", type=int, default=None)
    p.add_argument("--stratify-fraction", type=float, default=None)
    p.add_argument("--alpha", type=float, default=0.5,
                   help="temperature for --stratify-budget (0.5 = sqrt)")
    p.add_argument("--presample-margin", type=float, default=1.3,
                   help="mega-stratum prefilter margin for the exact "
                        "stratified sampler (identical output)")
    p.add_argument("--max-rare-ppm", type=int, default=None,
                   help="drop docs whose rare-trigram fraction exceeds "
                        "this ppm (corpus-relative gibberish gate)")
    p.add_argument("--rarity-shuffle-join", action="store_true",
                   help="with --max-rare-ppm: join corpus trigram "
                        "counts with a shuffle instead of a broadcast "
                        "(needed when the trigram vocabulary is huge, "
                        "e.g. CJK web corpora)")
    p.add_argument("--token-budget-frac", type=float, default=None,
                   help="keep the best-quality-bucket-first prefix "
                        "holding this fraction of total tokens")
    p.add_argument("--split", default=None,
                   help="comma list label=fraction (must sum to 1); "
                        "adds a deterministic md5-range split column")
    p.add_argument("--stage-dir", default=None,
                   help="per-stage checkpoint directory: each stage's "
                        "output parquet lands here and a killed run "
                        "resumes at the last completed stage boundary "
                        "(same args required; a changed stage plan "
                        "starts fresh)")
    p.add_argument("--fail-after", default=None,
                   help=argparse.SUPPRESS)  # test hook: exit(3) after
                                            # completing this stage
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("curate")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    if args.domain_cap is not None and not args.pages:
        p.error("--domain-cap requires --pages")
    if args.latest_revision and not args.pages:
        p.error("--latest-revision requires --pages (url+warc_ts input)")
    if args.blocklist and not args.pages:
        p.error("--blocklist requires --pages (url-keyed input)")
    if args.stratify_col and not (
        (args.stratify_budget is None) ^ (args.stratify_fraction is None)
    ):
        p.error("--stratify-col needs exactly one of --stratify-budget "
                "/ --stratify-fraction")
    split = _parse_split(args.split) if args.split else None

    key_col = "url" if args.pages else args.id_col
    df = spark.read.parquet(args.input)
    t0 = time.time()
    stages = {"rows_in": df.count()}

    from bloom_filters_spark import curation as cur

    # ------------------------------------------------------------------
    # stage plan: an ordered list of (key, fn) where fn(df) -> df.
    # Building the plan first (instead of running stages inline) is what
    # makes --stage-dir resume possible: a resumed run replays the SAME
    # plan, skips every stage whose checkpoint committed, and restarts
    # from the first incomplete boundary.
    # ------------------------------------------------------------------
    plan = []

    if args.latest_revision:
        def _latest_revision(df):
            from bloom_filters_spark.operators.dedup import (
                keep_latest_revision,
            )

            winners = keep_latest_revision(
                df, url_col="url", ts_col="warc_ts", id_col="url"
            ).select(
                F.col("kept_id").alias("_w_url"),
                F.col("kept_ts").alias("_w_ts"),
            )
            # semi-join on (url, ts): url alone would also keep OLDER
            # rows that share the winner's exact raw url string.
            # NULL-SAFE equality on the ts key: with plain `=`, a
            # canonical-URL group whose winning row has NULL warc_ts
            # would be dropped WHOLE (NULL = NULL is NULL).  Rows that
            # tie the winner exactly on (url, ts) all survive —
            # "latest revision" is genuinely ambiguous between
            # byte-identical (url, ts) recrawls, and keeping both
            # leaves the choice to the downstream exact dedup.
            cond = F.col("url").eqNullSafe(F.col("_w_url")) & F.col(
                "warc_ts"
            ).eqNullSafe(F.col("_w_ts"))
            return df.join(winners, cond, "left_semi")

        plan.append(("after_latest_revision", _latest_revision))

    if args.blocklist:
        blocked = [b.strip() for b in args.blocklist.split(",") if b.strip()]
        plan.append(("after_blocklist",
                     lambda df: cur.blocklist_filter(df, blocked)))

    if args.quality_filter:
        plan.append(("after_quality",
                     lambda df: cur.quality_filter(df, text_col=args.text_col)))

    if args.c4_filter:
        plan.append(("after_c4",
                     lambda df: cur.c4_filter(df, text_col=args.text_col)))

    if args.max_rare_ppm is not None:
        plan.append(("after_rarity", lambda df: cur.rarity_filter(
            df, args.max_rare_ppm, key_col=key_col, text_col=args.text_col,
            broadcast_vocab=not args.rarity_shuffle_join,
        )))

    if args.dedup == "exact":
        plan.append(("after_exact_dedup", lambda df: cur.exact_dedup_keep_min(
            df, key_col=key_col, text_col=args.text_col
        )))
    elif args.dedup == "near":
        def _near_dedup(df):
            from pyspark.sql import Window

            from bloom_filters_spark.pipeline import (
                NearDupConfig,
                near_dup_pipeline,
            )

            cfg = NearDupConfig(threshold=args.threshold)
            clusters = near_dup_pipeline(
                df, cfg, id_col=key_col, text_col=args.text_col
            )
            # keep-best: longest member per cluster, min-key tiebreak
            sized = clusters.join(
                df.select(
                    F.col(key_col),
                    F.length(F.col(args.text_col)).alias("_len"),
                ),
                key_col,
            )
            w = Window.partitionBy("cluster_id").orderBy(
                F.desc("_len"), F.asc(key_col)
            )
            keep = (
                sized.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(key_col)
            )
            return df.join(keep, key_col, "left_semi")

        plan.append(("after_near_dedup", _near_dedup))

    if args.domain_cap is not None:
        plan.append(("after_domain_cap", lambda df: cur.domain_cap(
            df, args.domain_cap, key_col=key_col
        )))

    if args.dsir_top is not None:
        plan.append(("after_dsir", lambda df: cur.dsir_top_select(
            df, args.dsir_target, args.dsir_top,
            key_col=key_col, text_col=args.text_col,
        )))

    if args.stratify_col:
        def _stratify(df):
            from bloom_filters_spark.operators.sampling import (
                stratified_sample,
            )

            return stratified_sample(
                df, args.stratify_col, key_col=key_col,
                fraction=args.stratify_fraction,
                budget=args.stratify_budget, alpha=args.alpha,
                salt=cur.SALT_STRATIFY,
                presample_margin=args.presample_margin,
            )

        plan.append(("after_stratify", _stratify))

    if args.token_budget_frac is not None:
        def _token_budget(df):
            from bloom_filters_spark.functions.text import (
                STOPWORDS,
                token_count_expr,
            )
            from bloom_filters_spark.operators.sampling import (
                token_budget_select,
            )

            text = F.col(args.text_col)
            toks = F.filter(
                F.split(F.lower(text), r"\s+"), lambda x: x != F.lit("")
            )
            sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
            n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
            df = (
                df.withColumn("_tok", token_count_expr(text))
                .withColumn(
                    "_score",
                    F.floor(
                        (n_sw * F.lit(100.0))
                        / F.greatest(F.col("_tok"), F.lit(1))
                    ),
                )
            )
            return token_budget_select(
                df, "_score", "_tok", key_col=key_col,
                budget_frac=args.token_budget_frac,
                salt=cur.SALT_TOKEN_BUDGET,
            ).drop("_tok", "_score")

        plan.append(("after_token_budget", _token_budget))

    df, skipped = _run_plan(spark, df, plan, stages, args)

    if split:
        from bloom_filters_spark.operators.sampling import hash_split

        df = hash_split(df, split, key_col=key_col, salt=cur.SALT_SPLIT)

    df.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    stages["rows_out"] = out.count()
    metrics = {
        "input": args.input,
        "stages": stages,
        **({"stages_skipped": skipped} if skipped else {}),
        **(
            {
                "splits": {
                    r["split"]: r["n"]
                    for r in out.groupBy("split")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
            }
            if split
            else {}
        ),
        "wall_sec": round(time.time() - t0, 2),
    }
    line = json.dumps(metrics)
    print(line)
    with open(args.output.rstrip("/") + "_metrics.json", "w") as f:
        f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
