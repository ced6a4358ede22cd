"""spark-submit entry point for the near-duplicate clustering pipeline.

Ship the library as a zip and submit (north-rule deployment shape):

    python tools/package.py                       # -> build/bloom_filters_spark.zip
    spark-submit --master <cluster> \
        --py-files build/bloom_filters_spark.zip \
        jobs/near_dup_job.py \
        --input  /path/to/docs.parquet \
        --output /path/to/clusters \
        [--pages] [--canonicalize-urls] [--lang en] [--threshold 0.8] \
        [--checkpoint-root /path/to/ckpt] [--boilerplate-max-df 0.3] \
        [--exact-prededup auto|on|off] \
        [--against /path/to/existing_corpus.parquet] \
        [--quality-filter] [--domain-cap K] [--sample-fraction F]

``--against`` switches to incremental mode: --input is a new crawl
increment, the job emits verified (id1=new, id2=corpus, jaccard)
pairs, and the existing corpus is never re-paired against itself.  It
has no pre-dedup, so it refuses ``--exact-prededup on``.

With ``--checkpoint-root`` the run is resumable: re-submitting after a
crash recomputes only incomplete buckets/stages (see checkpoint.py).
Writes the cluster table to ``--output`` and a one-line JSON metrics
summary to ``<output>_metrics.json``.
"""

from __future__ import annotations

import argparse
import json
import time
from dataclasses import asdict


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="parquet path of docs/pages")
    p.add_argument("--output", required=True, help="output parquet path")
    p.add_argument("--pages", action="store_true",
                   help="input is a pages(url, warc_ts, html, text, lang) table")
    p.add_argument("--canonicalize-urls", action="store_true",
                   help="with --pages: collapse url variants (www., default "
                        "ports, tracking params, fragments) into one document "
                        "before the content pipeline")
    p.add_argument("--lang", default=None)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--num-hashes", type=int, default=128)
    p.add_argument("--bands", type=int, default=32)
    p.add_argument("--shingle-size", type=int, default=3)
    p.add_argument("--boilerplate-max-df", type=float, default=None)
    p.add_argument("--exact-prededup", default="auto",
                   choices=["auto", "on", "off"])
    p.add_argument("--checkpoint-root", default=None)
    p.add_argument("--checkpoint-buckets", type=int, default=32)
    p.add_argument("--against", default=None,
                   help="incremental mode: parquet path of the EXISTING "
                        "corpus; --input is the new increment.  Emits "
                        "verified (id1=new, id2=corpus, jaccard) pairs "
                        "instead of clusters — the corpus is never "
                        "re-paired against itself")
    # pre-pipeline curation (applied in this order: quality filter →
    # domain cap → sample); each stage's surviving row count lands in
    # the metrics JSON so drops are observable, never silent
    p.add_argument("--quality-filter", action="store_true",
                   help="drop docs failing the Gopher-style composite "
                        "quality gates (functions.text.gopher_flags_exprs "
                        "defaults) before dedup")
    p.add_argument("--domain-cap", type=int, default=None,
                   help="with --pages: keep at most K docs per host "
                        "(deterministic md5 rank) before dedup")
    p.add_argument("--sample-fraction", type=float, default=None,
                   help="shuffle-free deterministic sample of the input "
                        "by md5(id) prefix cut (reproducible across "
                        "runs/retries) before dedup")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("near-dup-clustering")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    # import AFTER the session exists: --py-files archives land on
    # sys.path when the SparkContext registers them (client mode)
    from bloom_filters_spark.pipeline import (
        NearDupConfig,
        near_dup_pipeline,
        pages_near_dup,
    )

    cfg = NearDupConfig(
        threshold=args.threshold,
        num_hashes=args.num_hashes,
        bands=args.bands,
        shingle_size=args.shingle_size,
        boilerplate_max_df=args.boilerplate_max_df,
        exact_prededup=args.exact_prededup,
    )
    if args.canonicalize_urls and not args.pages:
        p.error("--canonicalize-urls requires --pages (url-keyed input)")
    if args.domain_cap is not None and not args.pages:
        p.error("--domain-cap requires --pages (url-keyed input)")
    if args.against and (args.pages or args.checkpoint_root):
        # flag-compatibility errors must fire BEFORE any Spark action:
        # the curation stages below run full count() jobs
        p.error("--against is a standalone mode (plain doc tables, "
                "no --pages/--checkpoint-root)")
    if args.against and args.exact_prededup == "on":
        p.error("--exact-prededup on is not supported together with "
                "--against (the incremental mode has no pre-dedup); drop "
                "one of the flags")
    df = spark.read.parquet(args.input)
    t0 = time.time()

    curation = None
    if args.quality_filter or args.domain_cap is not None \
            or args.sample_fraction is not None:
        from bloom_filters_spark import curation as cur

        key_col = "url" if args.pages else args.id_col
        curation = {"rows_in": df.count()}
        if args.quality_filter:
            df = cur.quality_filter(df, text_col=args.text_col)
            curation["after_quality"] = df.count()
        if args.domain_cap is not None:
            df = cur.domain_cap(df, args.domain_cap, key_col=key_col)
            curation["after_domain_cap"] = df.count()
        if args.sample_fraction is not None:
            df = cur.hash_sample(df, args.sample_fraction, key_col=key_col)
            curation["after_sample"] = df.count()
    if args.against:
        from bloom_filters_spark.pipeline import near_dup_against

        result = near_dup_against(
            df, spark.read.parquet(args.against), cfg, id_col=args.id_col,
            text_col=args.text_col,
        )
    elif args.pages:
        result = pages_near_dup(df, cfg, lang=args.lang,
                                canonicalize_urls=args.canonicalize_urls)
    elif args.checkpoint_root:
        from bloom_filters_spark.checkpoint import (
            CheckpointConfig,
            CheckpointedNearDup,
        )

        cp = CheckpointedNearDup(
            spark, cfg,
            CheckpointConfig(args.checkpoint_root, args.checkpoint_buckets),
        )
        result = cp.run(df, id_col=args.id_col, text_col=args.text_col)
    else:
        result = near_dup_pipeline(
            df, cfg, id_col=args.id_col, text_col=args.text_col
        )
    result.write.mode("overwrite").parquet(args.output)

    out = spark.read.parquet(args.output)
    n_rows = out.count()
    if args.against:
        counts = {"against": args.against, "pairs": n_rows}
    else:
        n_clusters = out.select(out.columns[1]).distinct().count()
        counts = {"rows": n_rows, "clusters": n_clusters,
                  "dup_rows": n_rows - n_clusters}
    metrics = {
        "input": args.input,
        **counts,
        **({"curation": curation} if curation else {}),
        "wall_sec": round(time.time() - t0, 2),
        "config": asdict(cfg),
    }
    line = json.dumps(metrics)
    print(line)
    with open(args.output.rstrip("/") + "_metrics.json", "w") as f:
        f.write(line + "\n")
    spark.stop()

if __name__ == "__main__":
    main()
