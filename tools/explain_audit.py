"""Physical-plan audit: .explain("formatted") for the headline queries,
with automated checks for the properties that matter at 100TB scale:

* parquet scans carry PushedFilters / pruned ReadSchema (predicate +
  column pruning reached the source),
* small dimension sides broadcast (BroadcastHashJoin, not SortMerge),
* no Python round-trip appears where a built-in could run (ArrowEval /
  mapInArrow only in the kernels that need it).

Writes BENCH/PLANS.md.  Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers Spark starts import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

CHECKS = {
    # query -> (must_contain regexes, must_not_contain regexes)
    "q1_pricing_summary": (
        [r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate",
         r"ReadSchema: [^\n]*l_returnflag"],
        [r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    "q3_top_orders": (
        [r"BroadcastHashJoin", r"PushedFilters: \[.*EqualTo\(c_mktsegment"],
        [r"ArrowEvalPython"],
    ),
    "bloom_prune_semijoin": (
        [r"PushedFilters: \[.*LessThanOrEqual\(p_size"],
        [],
    ),
    "top_suppliers_per_nation": (
        [r"RunningWindowFunction|Window"],
        [r"ArrowEvalPython"],
    ),
    "dedup_exact": ([r"Window"], [r"ArrowEvalPython"]),
    "token_counts": ([r"ReadSchema: [^\n]*text"], []),
    "near_dup_clusters": ([], []),      # plan printed for inspection
    "embedding_cosine_topk": ([r"Broadcast"], []),
    "cuckoo_prune_semijoin": (
        [r"PushedFilters: \[.*LessThanOrEqual\(p_size"],
        [],
    ),
    "counting_bloom_retract": (
        [r"PushedFilters: \[.*GreaterThan\(p_size"],
        [],
    ),
    # NOTE: the final substring plan starts from localCheckpointed RDDs
    # (candidates/sets materialize eagerly), so the corpus scan is
    # audited separately via EXTRA_PLANS below
    "substring_dup_pairs": ([r"Broadcast"], [r"BatchEvalPython"]),
    "embedding_ann_recall": ([r"Broadcast"], [r"BatchEvalPython"]),
    # paragraph dedup: corpus scan pruned to (doc_id, text), partial
    # (map-side) aggregation before the exchange, zero Python
    "paragraph_dup_stats": (
        [r"ReadSchema: [^\n]*doc_id[^\n]*text", r"HashAggregate"],
        [r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    "paragraph_dedup_clean": (
        [r"ReadSchema: [^\n]*doc_id[^\n]*text"],
        [r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    # pii scrub: pure codegen'd regexp chain over the pruned scan
    "pii_scrub": (
        [r"ReadSchema: [^\n]*doc_id[^\n]*text"],
        [r"ArrowEvalPython", r"BatchEvalPython", r"Exchange"],
    ),
    # incremental dedup: both sides feed the band join from mapInArrow
    # kernels; corpus must carry a pushed doc_id filter, no scalar Python
    "incremental_near_dup": (
        [r"PushedFilters: \[.*doc_id"],
        [r"BatchEvalPython"],
    ),
    # decontamination: eval gram set must BROADCAST (never a sort-merge
    # against the corpus side); gram pass is mapInArrow by design
    "decontamination": (
        [r"BroadcastHashJoin", r"PushedFilters: \[.*doc_id"],
        [r"BatchEvalPython", r"SortMergeJoin"],
    ),
    "hash_sample": (
        # the 100TB sampling path: pure map-side filter — no exchange,
        # no Python, scan pruned to the 2 output cols
        [r"ReadSchema: [^\n]*doc_id[^\n]*lang"],
        [r"Exchange", r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    "stratified_sample": (
        # rank window on the stratum + tiny histogram broadcast back
        [r"Window", r"BroadcastHashJoin"],
        [r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    "domain_cap": (
        # host is synthesized from doc_id: text must NOT be scanned
        [r"Window", r"ReadSchema: [^\n]*doc_id"],
        [r"ReadSchema: [^\n]*text", r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    "token_budget_select": (
        # two-phase budget selection: full buckets are a plain filter;
        # only the boundary bucket is windowed
        [r"Window", r"ReadSchema: [^\n]*text"],
        [r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    "gopher_quality_flags": (
        # one codegen'd pass, pruned scan, shuffle-free, no Python
        [r"ReadSchema: [^\n]*doc_id[^\n]*text"],
        [r"Exchange", r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    "domain_blocklist": (
        # literal-array membership: shuffle-free, no Python, text unscanned
        [r"ReadSchema: [^\n]*doc_id"],
        [r"ReadSchema: [^\n]*text", r"Exchange", r"ArrowEvalPython",
         r"BatchEvalPython"],
    ),
    "latest_revision": (
        # one map-side-combined aggregate (struct-max lowers to
        # SortAggregate — partial agg still precedes the exchange);
        # text column never scanned
        [r"SortAggregate|HashAggregate", r"ReadSchema: [^\n]*doc_id"],
        [r"ReadSchema: [^\n]*text", r"Window", r"ArrowEvalPython",
         r"BatchEvalPython"],
    ),
    "rare_trigram_score": (
        # corpus trigram counts must BROADCAST back (vocab is bounded
        # by charset^3) — never a sort-merge against the explode side
        [r"BroadcastHashJoin", r"HashAggregate"],
        [r"SortMergeJoin", r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    "hash_split": (
        # map-side split labelling: scan pruned to doc_id, no exchange
        [r"ReadSchema: [^\n]*doc_id"],
        [r"ReadSchema: [^\n]*text", r"Exchange", r"ArrowEvalPython",
         r"BatchEvalPython"],
    ),
    "corpus_report": (
        # one map-side-combined aggregate over the pruned scan; no
        # windows, no joins, no Python
        [r"HashAggregate", r"ReadSchema: [^\n]*lang[^\n]*source"],
        [r"Window", r"Join", r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    "c4_quality_flags": (
        # one codegen'd higher-order-function pass: pruned scan,
        # shuffle-free, no Python anywhere
        [r"ReadSchema: [^\n]*doc_id[^\n]*text"],
        [r"Exchange", r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    "dsir_scores": (
        # bucket distributions and log-ratio table must BROADCAST back
        # to the (doc,bucket) side — never a sort-merge vs the corpus
        [r"BroadcastHashJoin", r"HashAggregate"],
        [r"SortMergeJoin", r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    "semantic_dedup": (
        # hyperplane cluster variant: pure JVM exprs + an equi-join on
        # cluster_id; no Python (the k-means path's mapInArrow is the
        # assignment kernel, not used here)
        [r"ReadSchema: [^\n]*vec_id[^\n]*embedding"],
        [r"ArrowEvalPython", r"BatchEvalPython", r"CartesianProduct"],
    ),
    "containment_decontamination": (
        # eval gram rows broadcast (candidate generator); corpus side
        # is the fused Arrow gram pass
        [r"BroadcastHashJoin", r"PushedFilters: \[.*doc_id"],
        [r"BatchEvalPython", r"SortMergeJoin"],
    ),
    "embedding_pq_recall": (
        # PQ candidate scan is the mapInArrow LUT kernel; query side
        # broadcasts for the exact re-rank; no row-Python, no cross
        [r"BroadcastHashJoin"],
        [r"BatchEvalPython", r"CartesianProduct"],
    ),
    "tfidf_top_terms": (
        # vocabulary join broadcasts; per-doc window only (never the
        # unpartitioned global-window warning shape)
        [r"BroadcastHashJoin", r"Window", r"HashAggregate"],
        [r"SortMergeJoin", r"ArrowEvalPython", r"BatchEvalPython"],
    ),
}


def _substring_gram_pass(spark, sf_dir):
    from bloom_filters_spark.operators.substring import gram_hash_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gram_hash_rows(docs, 8)


# stage sub-plans worth auditing that final query plans hide behind
# localCheckpoint boundaries: name -> (callable, must, must_not)
EXTRA_PLANS = {
    "substring_gram_pass": (
        _substring_gram_pass,
        [r"ReadSchema: [^\n]*doc_id[^\n]*text"],  # corpus scan pruned to 2 cols
        [r"BatchEvalPython"],
    ),
}


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry
    from bloom_filters_spark.session import get_spark

    spark = get_spark("explain-audit", cores=8)
    qs = entry.queries()
    sections = []
    failures = []
    targets = [(n, qs[n], m, mn) for n, (m, mn) in CHECKS.items()]
    targets += [(n, fn, m, mn) for n, (fn, m, mn) in EXTRA_PLANS.items()]
    for name, fn, must, must_not in targets:
        df = fn(spark, sf_dir)
        text = plan_text(df)
        verdicts = []
        for pat in must:
            ok = re.search(pat, text) is not None
            verdicts.append(("MUST", pat, ok))
            if not ok:
                failures.append((name, "missing", pat))
        for pat in must_not:
            ok = re.search(pat, text) is None
            verdicts.append(("MUST NOT", pat, ok))
            if not ok:
                failures.append((name, "present", pat))
        verdict_md = "\n".join(
            f"- {'✅' if ok else '❌'} {kind} `{pat}`" for kind, pat, ok in verdicts
        ) or "- (plan recorded for inspection)"
        sections.append(
            f"## {name}\n\n{verdict_md}\n\n```\n{text.strip()[:4000]}\n```\n"
        )
    spark.stop()

    with open(os.path.join(ROOT, "BENCH", "PLANS.md"), "w") as f:
        f.write(
            "# Physical-plan audit\n\n"
            "`.explain(\"formatted\")` for headline queries with automated\n"
            "checks: filters pushed to the parquet scan, columns pruned,\n"
            "small sides broadcast, no Python eval where built-ins run.\n"
            "Regenerate: `python tools/explain_audit.py`.\n\n"
            + "\n".join(sections)
        )
    print(f"wrote BENCH/PLANS.md; {len(failures)} check failures")
    for name, kind, pat in failures:
        print(f"  FAIL {name}: {kind} {pat}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
