"""Exact-substring deduplication — the third leg of training-data dedup
next to MinHash-LSH and SimHash (the north rule names "MinHash/SimHash/
suffix-array substring").

Shape follows the public methodology of suffix-array dedup for LM
training sets (Lee et al., "Deduplicating Training Data Makes Language
Models Better", 2021), re-expressed as Spark dataflow instead of a
monolithic in-memory suffix array over the whole corpus:

1. candidates — every document emits its distinct rolling-hash L-token
   gram keys from ONE mapInArrow pass over flat token buffers (no
   per-row Python, 16 bytes/gram on the wire); documents sharing a gram
   key meet in one shuffle (same hot-key star-fallback machinery as the
   LSH bands — boilerplate grams cannot go quadratic);
2. verify — candidate pairs re-check on exact STRING grams (JVM
   higher-order expressions, participants only), killing rolling-hash
   collisions: the reported pairs are exactly the pairs sharing a
   verbatim L-token substring;
3. measure — per verified pair, the exact longest common token
   substring via a per-pair SUFFIX ARRAY + Kasai LCP over the two token
   sequences (O((n+m) log(n+m)) prefix-doubling, numpy) — the classic
   cross-document LCS-via-LCP construction.

At 10^12-doc scale stage 1 is the only corpus-wide pass; stages 2-3
touch candidate participants only (dups are rare by construction).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bloom_filters_spark.operators.shingles import ROLL_PRIME, tokens_expr


def gram_hash_rows(df: DataFrame, L: int = 8, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, text) → distinct (id, gram_hash) rows, one fused Arrow pass:
    tokenize + per-token hash + rolling Horner L-gram combine +
    splitmix64 avalanche + per-doc dedup, all on flat numpy buffers."""
    import pyarrow as pa

    from bloom_filters_spark.operators.arrow_sig import (
        batch_token_hashes,
        distinct_per_doc,
        splitmix64,
    )

    P = np.uint64(ROLL_PRIME)

    def compute(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            th, td = batch_token_hashes(batch.column(1))
            n_tok = np.bincount(td, minlength=len(ids)).astype(np.int64)
            first = np.concatenate(([0], np.cumsum(n_tok)[:-1]))
            pos = np.arange(len(td), dtype=np.int64) - first[td]
            gmask = pos <= (n_tok[td] - L)  # strict: n<L docs emit nothing
            gstart = np.flatnonzero(gmask)
            gdoc = td[gstart]
            acc = np.zeros(len(gstart), dtype=np.uint64)
            for j in range(L):
                acc = acc * P + th[gstart + j]
            gd, ga = distinct_per_doc(gdoc, splitmix64(acc))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids[gd]), pa.array(ga.view(np.int64))],
                names=[id_col, "gram_hash"],
            )

    return df.select(id_col, text_col).mapInArrow(
        compute, f"{id_col} long, gram_hash long"
    )


def substring_candidates(df: DataFrame, L: int = 8, id_col: str = "doc_id",
                         text_col: str = "text",
                         max_group: int = 4096) -> DataFrame:
    """Distinct (id1, id2) candidate pairs sharing at least one rolling
    L-gram hash.  Reuses the LSH pair machinery (gram_hash as the band
    key): hot grams above ``max_group`` degrade to star linking —
    connectivity-preserving for dedup, but pair ENUMERATION is complete
    only under the cap (the contract query sizes the cap accordingly)."""
    from bloom_filters_spark.operators.pairs import candidate_pairs

    grams = gram_hash_rows(df, L, id_col, text_col)
    bands = grams.select(
        F.lit(0).alias("band_id"),
        F.col("gram_hash").alias("band_hash"),
        F.col(id_col),
    )
    return candidate_pairs(bands, max_group, id_col)


def substring_dup_pairs(df: DataFrame, L: int = 8, id_col: str = "doc_id",
                        text_col: str = "text",
                        max_group: int = 4096) -> DataFrame:
    """(id1, id2, n_shared): pairs of documents sharing >= 1 verbatim
    L-token substring, with the count of distinct shared L-grams.
    Candidates come from the hashed Arrow pass; the exact string-gram
    verification runs on candidate participants only."""
    # localCheckpoint (eager): the verify stage consumes cands three
    # times (two id projections + the pair join) — materialize the tiny
    # pair set once, with blocks GC-cleaned rather than session-pinned
    cands = substring_candidates(
        df, L, id_col, text_col, max_group
    ).localCheckpoint(eager=True)
    n_cands = cands.count()
    ids = (
        cands.select(F.col("id1").alias(id_col))
        .unionByName(cands.select(F.col("id2").alias(id_col)))
        .distinct()
    )
    if n_cands < 25_000_000:
        ids = F.broadcast(ids)
    participants = df.join(ids, id_col, "left_semi")
    # exact string grams via the Arrow-batched UDF (strict substring
    # semantics: short docs emit nothing), spread across the cluster —
    # participants only, so per-doc Python cost is bounded by the dup
    # population; localCheckpoint because BOTH join sides consume it
    from bloom_filters_spark.operators.shingles import string_shingle_sets_udf

    par = participants.sparkSession.sparkContext.defaultParallelism
    g_udf = string_shingle_sets_udf(L, strict=True)
    sets = (
        participants.repartition(par, id_col)
        .select(id_col, g_udf(F.col(text_col)).alias("g"))
        .filter(F.size("g") > 0)
        .localCheckpoint(eager=True)
    )
    a = sets.select(F.col(id_col).alias("id1"), F.col("g").alias("g1"))
    b = sets.select(F.col(id_col).alias("id2"), F.col("g").alias("g2"))
    n_shared = F.size(F.array_intersect("g1", "g2"))
    return (
        cands.join(a, "id1")
        .join(b, "id2")
        .select("id1", "id2", n_shared.cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") > 0)
    )


# ---------------------------------------------------------------------------
# suffix-array longest-common-substring (token domain)
# ---------------------------------------------------------------------------

def _suffix_array(s: np.ndarray) -> np.ndarray:
    """Suffix array by prefix doubling (numpy lexsort), O(n log n)."""
    n = len(s)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    rank = np.unique(s, return_inverse=True)[1].astype(np.int64)
    k = 1
    while True:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        r_ord, k_ord = rank[order], key2[order]
        diff = np.empty(n, dtype=np.int64)
        diff[0] = 0
        diff[1:] = (
            (r_ord[1:] != r_ord[:-1]) | (k_ord[1:] != k_ord[:-1])
        ).astype(np.int64)
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.cumsum(diff)
        rank = new_rank
        if rank[order[-1]] == n - 1:
            return order.astype(np.int64)
        k *= 2


def _lcp_kasai(s: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """Kasai LCP: lcp[r] = common prefix of sa[r] and sa[r-1], O(n)."""
    n = len(s)
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    lcp = np.zeros(n, dtype=np.int64)
    h = 0
    for i in range(n):
        r = rank[i]
        if r > 0:
            j = sa[r - 1]
            while i + h < n and j + h < n and s[i + h] == s[j + h]:
                h += 1
            lcp[r] = h
            if h:
                h -= 1
        else:
            h = 0
    return lcp


def lcs_token_len(a: np.ndarray, b: np.ndarray) -> int:
    """Exact longest common token substring of two sequences via one
    suffix array over ``a + [sep] + b`` (sep unique, so no common prefix
    spans it): LCS = max LCP between ADJACENT suffixes from opposite
    documents — the classic cross-document LCS-via-LCP identity."""
    if len(a) == 0 or len(b) == 0:
        return 0
    sep = np.int64(np.iinfo(np.int64).min)
    s = np.concatenate([a.astype(np.int64), [sep], b.astype(np.int64)])
    s = np.unique(s, return_inverse=True)[1].astype(np.int64)
    sa = _suffix_array(s)
    lcp = _lcp_kasai(s, sa)
    na = len(a)
    side = sa > na
    cross = np.zeros(len(s), dtype=bool)
    cross[1:] = side[1:] != side[:-1]
    vals = lcp[cross]
    return int(vals.max()) if len(vals) else 0


def substring_lcs_pairs(df: DataFrame, L: int = 8, id_col: str = "doc_id",
                        text_col: str = "text",
                        max_group: int = 4096) -> DataFrame:
    """(id1, id2, lcs_tokens): for every pair sharing >= 1 verbatim
    L-token substring, the EXACT longest-common-substring length in
    tokens, by per-pair suffix array over the token sequences.

    Token extraction is JVM-side (``tokens_expr``); the Arrow kernel
    int-maps the two token-string lists per pair (exact — no hash
    domain) and runs suffix array + Kasai.  Cost is per CANDIDATE PAIR,
    not per document — dups are rare, so this stage is a rounding error
    next to the corpus-wide gram pass."""
    import pyarrow as pa

    pairs = substring_dup_pairs(df, L, id_col, text_col, max_group)
    toks = df.select(
        F.col(id_col), tokens_expr(F.col(text_col)).alias("toks")
    )
    t1 = toks.select(F.col(id_col).alias("id1"), F.col("toks").alias("t1"))
    t2 = toks.select(F.col(id_col).alias("id2"), F.col("toks").alias("t2"))
    # explicit projection: joins move the join key first, and the Arrow
    # kernel reads columns positionally
    joined = (
        pairs.select("id1", "id2")
        .join(t1, "id1")
        .join(t2, "id2")
        .select("id1", "id2", "t1", "t2")
    )

    def compute(batches):
        for batch in batches:
            id1 = batch.column(0).to_numpy(zero_copy_only=False)
            id2 = batch.column(1).to_numpy(zero_copy_only=False)
            c1 = batch.column(2).to_pylist()
            c2 = batch.column(3).to_pylist()
            out = np.empty(len(id1), dtype=np.int64)
            for i in range(len(id1)):
                u = np.unique(np.array((c1[i] or []) + (c2[i] or [])))
                a = np.searchsorted(u, np.array(c1[i] or [], dtype=u.dtype))
                b = np.searchsorted(u, np.array(c2[i] or [], dtype=u.dtype))
                out[i] = lcs_token_len(a.astype(np.int64), b.astype(np.int64))
            yield pa.RecordBatch.from_arrays(
                [pa.array(id1), pa.array(id2), pa.array(out)],
                names=["id1", "id2", "lcs_tokens"],
            )

    return joined.mapInArrow(
        compute, "id1 long, id2 long, lcs_tokens long"
    )


def decontamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    L: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C style): flag every
    training document sharing at least one rolling L-token-gram with an
    evaluation corpus, plus the count of distinct shared grams (the
    severity knob — filter at >=1 for strictness, higher to tolerate
    idiom collisions).  Returns ``(id, n_contaminated_grams,
    contaminated)`` for EVERY training document.

    The 100 TB shape is what makes this one cheap: eval sets are tiny
    (10³-10⁶ docs) next to the corpus, so their distinct gram-hash set
    broadcasts and the whole operator is the corpus-side fused Arrow
    gram pass (one scan, 16-byte rows, per-doc-distinct before emit)
    plus a broadcast semi-join — zero corpus shuffles before the
    per-doc count aggregation, which is algebraic (map-side combined).
    Documents with fewer than L tokens emit no grams and come back
    ``contaminated = false`` by construction.
    """
    doc_grams = gram_hash_rows(docs, L, id_col, text_col)
    bench_grams = (
        gram_hash_rows(benchmark, L, id_col, text_col)
        .select("gram_hash")
        .distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram_hash")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.col("n_contaminated_grams"), F.lit(0).cast("long")
            ).alias("n_contaminated_grams"),
            (
                F.coalesce(F.col("n_contaminated_grams"), F.lit(0)) > 0
            ).alias("contaminated"),
        )
    )


def containment_decontamination(
    docs: DataFrame,
    benchmark: DataFrame,
    L: int = 8,
    threshold_ppm: int = 300_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
) -> DataFrame:
    """Containment-fraction decontamination — the fuzzy complement of
    ``decontamination_flags``: instead of "shares >=1 gram", compute
    per (train doc, eval doc) pair the fraction of the EVAL doc's
    distinct L-token grams the train doc contains,
    ``|G_eval ∩ G_doc| / |G_eval|`` — the Llama/Pile-style overlap
    statistic that catches partially-copied or lightly-reworded eval
    content a single 13-gram hit understates and a strict
    every-gram-match misses.  Emits ``(doc id, eval id, n_shared,
    n_eval_grams, containment_ppm)`` for pairs at or above
    ``threshold_ppm`` (integer ppm -> hash-exact cross-engine).

    Scale shape: same as the flags variant — eval grams broadcast
    (eval sets are tiny next to the corpus at any scale), the corpus
    side is the one fused Arrow gram pass, and because the broadcast
    rows carry ``eval_id`` the gram equi-join IS the candidate
    generator: only genuinely co-occurring (doc, eval) pairs ever
    materialize, never a doc x eval cross product.  The per-pair count
    aggregate is algebraic (map-side combined).
    """
    doc_grams = gram_hash_rows(docs, L, id_col, text_col)
    bench_grams = gram_hash_rows(
        benchmark, L, id_col, text_col
    ).withColumnRenamed(id_col, eval_id_col)
    eval_sizes = bench_grams.groupBy(eval_id_col).agg(
        F.count(F.lit(1)).alias("n_eval_grams")
    )
    shared = (
        doc_grams.join(F.broadcast(bench_grams), "gram_hash")
        .groupBy(id_col, eval_id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(F.broadcast(eval_sizes), eval_id_col)
        .withColumn(
            "containment_ppm",
            F.floor(
                F.col("n_shared") * 1_000_000 / F.col("n_eval_grams")
            ).cast("long"),
        )
        .where(F.col("containment_ppm") >= threshold_ppm)
        .select(
            id_col, eval_id_col, "n_shared", "n_eval_grams",
            "containment_ppm",
        )
    )
