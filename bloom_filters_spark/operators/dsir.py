"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
arXiv:2302.03169, the public method behind several LLM pretraining
mixes): score every document by how much its hashed n-gram bag looks
like a TARGET domain versus the raw SOURCE pool, then resample the
top of that importance ranking.

Spark-first shape (no per-row Python anywhere):

* features: unigram + bigram word tokens, hashed into ``n_buckets``
  buckets — one linear explode over the pruned (id, text) scan
  followed by a map-side-combined (id, bucket) count aggregate;
* the source and target bucket multinomials are tiny (``n_buckets``
  rows) aggregates of that table — broadcast back, never shuffled
  against the corpus;
* per-doc weight ``log p_target(x) − log p_source(x)`` is one
  broadcast join + sum — a single corpus shuffle end to end, identical
  at 500 rows and 10^12 rows;
* selection is ``orderBy(...).limit(k)`` (Spark's distributed
  TakeOrdered — per-partition heaps, no global sort materialization)
  or hash-seeded Gumbel resampling for the paper's stochastic variant.

Determinism: bucket ids come from a hash of the gram (xxhash64 for
production, an md5 hex prefix when cross-engine oracle parity is
needed); add-one smoothing keeps every bucket finite; per-bucket log
ratios round to 6dp before an exact integer sum, and selection breaks
ties by doc id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["dsir_importance_weights", "dsir_select"]


def _grams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, gram) rows: whitespace unigrams + adjacent bigrams of the
    lower-cased text — the hashed-feature vocabulary of the paper."""
    # drop boundary empties: trim() only strips spaces, so '\tfoo'
    # splits to ['', 'foo'] and whitespace-only docs would get
    # spurious '' grams in the feature distribution
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    t = F.col("_t")
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat(
                F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(id_col, toks.alias("_t"))
    return base.select(
        id_col, F.explode(F.concat(F.col("_t"), bigrams)).alias("_g")
    )


def _bucket(gram, n_buckets: int, bucket_hash: str):
    if bucket_hash == "md5":
        # hex-prefix bucketing: the bucket KEY is a hex string both
        # Spark and DuckDB compute identically (n_buckets must be a
        # power of 16 — 16/256/4096 via prefix length)
        width = {16: 1, 256: 2, 4096: 3}[n_buckets]
        return F.substring(F.md5(gram), 1, width)
    return F.pmod(F.xxhash64(gram), F.lit(n_buckets))


def dsir_importance_weights(
    df: DataFrame,
    target: DataFrame,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_hash: str = "xxh",
) -> DataFrame:
    """Per-document DSIR importance weight over hashed n-gram buckets.

    ``target`` is the (usually much smaller) corpus whose distribution
    the selection should match — e.g. a curated wiki/books slice; it
    only ever contributes an ``n_buckets``-row aggregate, so it can be
    any size without changing the plan shape.

    Returns ``(id, n_grams, log_ratio)`` where ``log_ratio =
    Σ_b c_doc[b]·(ln((c_tgt[b]+1)/(T+B)) − ln((c_src[b]+1)/(S+B)))``
    (bag-of-buckets multinomial log-likelihood ratio, add-one
    smoothed), with each bucket's log ratio rounded to 6dp first so the
    sum is exact and independent of partitioning.
    """
    doc_bucket = (
        _grams(df, id_col, text_col)
        .select(id_col, _bucket(F.col("_g"), n_buckets, bucket_hash).alias("_b"))
        .groupBy(id_col, "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    src = doc_bucket.groupBy("_b").agg(F.sum("_c").alias("_cs"))
    tgt = (
        _grams(target, id_col, text_col)
        .select(_bucket(F.col("_g"), n_buckets, bucket_hash).alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_ct"))
    )
    totals = src.agg(F.sum("_cs").alias("_S")).crossJoin(
        tgt.agg(F.coalesce(F.sum("_ct"), F.lit(0)).alias("_T"))
    )
    b = float(n_buckets)
    lr = F.log(
        (F.coalesce(F.col("_ct"), F.lit(0)) + 1).cast("double")
        / (F.col("_T") + b)
    ) - F.log((F.col("_cs") + 1).cast("double") / (F.col("_S") + b))
    # fixed-point micro-units: a float SUM adds the products in an order
    # that depends on partitioning, so its last bits (and the 6dp
    # rounding) would vary with parallelism; an integer SUM is exact
    ratio = (
        src.join(tgt, "_b", "left")
        .crossJoin(F.broadcast(totals))
        .select("_b", F.round(lr * 1e6).cast("bigint").alias("_lr_micro"))
    )
    return (
        doc_bucket.join(F.broadcast(ratio), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_grams"),
            (F.sum(F.col("_c") * F.col("_lr_micro")) / F.lit(1e6))
            .alias("log_ratio"),
        )
    )


def dsir_select(
    weights: DataFrame,
    k: int,
    mode: str = "topk",
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick ``k`` documents from a ``dsir_importance_weights`` result.

    ``topk``: deterministic head of the importance ranking (weight
    desc, id asc) — Spark executes the orderBy+limit as a distributed
    TakeOrdered (per-partition top-k heaps merged on the driver), no
    global sort.

    ``gumbel``: the paper's importance RESAMPLING without replacement
    via the Gumbel-top-k trick — key = log_ratio + Gumbel(0,1) noise,
    seeded per-row from a hash of (id, seed) so the draw is
    deterministic and cluster-size-independent.
    """
    if mode == "topk":
        key = F.col("log_ratio")
    elif mode == "gumbel":
        # u in (0,1) from the row hash; g = -ln(-ln(u))
        u = (
            (F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 40))
             + 0.5)
            / float(1 << 40)
        )
        key = F.col("log_ratio") - F.log(-F.log(u))
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return (
        weights.select("*", key.alias("_key"))
        .orderBy(F.desc("_key"), F.asc(id_col))
        .limit(k)
        .drop("_key")
    )
