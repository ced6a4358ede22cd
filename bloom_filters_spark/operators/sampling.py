"""Deterministic sampling and data-selection operators.

Engine additions beyond the reference (SURVEY §2.7): the reference
library (Callidon/bloom-filters) has no sampling surface; these are the
curation steps a web-scale training pipeline runs right after dedup —
per-language / per-domain rebalancing and "fill a token budget with the
best documents".

Design rules shared by every operator here:

* **Deterministic, engine-portable randomness.**  Rows are ordered /
  thresholded by ``md5(key)`` — Spark and DuckDB produce identical
  lowercase hex, so the *exact same rows* are selected by the oracle
  SQL, by a re-run, and by a resumed job.  ``rand(seed)`` is rejected
  on purpose: its stream depends on partitioning, so a repartitioned
  retry would sample a different set.
* **Salt composed stages.**  Every operator takes a ``salt``;
  stages of one pipeline must use distinct salts, or the later
  stage's selection is biased by the earlier one's (an unsalted
  sample after an unsalted cap keeps ~everything — the cap's
  survivors have small hashes by construction).
* **Declared plans.**  Everything is window/agg/join DataFrame ops —
  no Python in the row path — so Catalyst keeps pushdown/pruning and
  whole-stage codegen.
* **Keys must be non-null.**  ``md5(NULL)`` is NULL: a null key is
  silently DROPPED by the threshold/split filters but ranks FIRST in
  the window operators (Spark sorts nulls first ascending) — two
  different wrong answers.  Clean or coalesce the key column first;
  these operators do not pay an extra pass to validate it.

Scale notes (100 TB):

* ``stratified_sample`` sorts within each stratum (one hash-partition
  exchange on the stratum key).  A stratum is a language or a domain —
  a single stratum holding tens of TB makes the per-stratum sort the
  straggler; for those use :func:`hash_threshold_sample`, which is
  **shuffle-free** (a map-side filter) at the cost of exact-count
  control (binomial rate around the target fraction).
* ``token_budget_select`` never globally sorts the corpus: it
  aggregates per score-bucket (small), resolves the budget boundary on
  the driver over the bucket histogram, then resolves WITHIN the
  boundary bucket the same way one level down (md5-prefix sub-buckets),
  so the only ordered window is ~1/65536 of one bucket — no
  single-partition global sort anywhere.  The caller must pass a
  *coarse* integer score (bucketed — e.g. 0..100); ``max_buckets``
  guards the driver collect.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rank_hash_expr(key_col: str, salt: str = ""):
    """Portable deterministic per-row hash used as the sampling order.

    ``salt`` decorrelates COMPOSED md5-ordered operators: e.g. a
    per-domain cap keeps the k SMALLEST md5(key) per host, so a later
    unsalted hash-threshold sample of the survivors would keep nearly
    all of them (their hashes are small by construction, not uniform).
    Give each stage of a pipeline its own salt and the selections are
    independent again.  The DuckDB mirror is
    ``md5(key::VARCHAR || 'salt')``."""
    c = F.col(key_col).cast("string")
    return F.md5(F.concat(c, F.lit(salt)) if salt else c)


def hash_threshold_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Shuffle-free deterministic sample: keep rows whose md5(key) prefix
    falls below ``fraction`` of the 32-bit hex space.

    This is the 100 TB path: a pure map-side filter (no exchange, no
    sort, whole-stage codegen), reproducible across engines and runs.
    The kept count is binomial around ``fraction * n`` rather than
    exact; use :func:`stratified_sample` when exact per-stratum counts
    matter and the strata fit a sort.
    """
    if not (0.0 <= fraction <= 1.0):
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    if fraction == 1.0:
        return df
    # 8 hex chars = 32 bits of the md5; lexicographic compare on the
    # zero-padded hex threshold is identical in Spark and DuckDB.
    cut = format(int(fraction * (1 << 32)), "08x")
    return df.filter(
        F.substring(rank_hash_expr(key_col, salt), 1, 8) < F.lit(cut)
    )


def hash_split(
    df: DataFrame,
    weights: "dict[str, float]",
    key_col: str = "doc_id",
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: label each row by which
    contiguous md5-prefix range its hash falls in.  ``weights`` maps
    label → fraction (must sum to ~1); ranges are laid out in the
    dict's insertion order, so the FIRST label owns the lowest hash
    range — meaning a row's label never changes when later splits are
    re-weighted among themselves.

    Shuffle-free map-side labelling (same plan shape as
    :func:`hash_threshold_sample`); portable and retry-stable, so the
    same document lands in the same split on every engine, run, and
    cluster size — the property that keeps eval sets uncontaminated
    across reshuffles/re-ingestions.
    """
    if not weights:
        raise ValueError("weights must be a non-empty {label: fraction}")
    bad = {k: v for k, v in weights.items() if not (0.0 <= v <= 1.0)}
    if bad:
        # a negative weight would pass the sum check but make its own
        # range unreachable and silently mis-size its neighbors
        raise ValueError(f"weights must each be in [0, 1], got {bad}")
    tot = sum(weights.values())
    if not (0.999 <= tot <= 1.001):
        raise ValueError(f"weights must sum to 1 (got {tot})")
    h = F.substring(rank_hash_expr(key_col, salt), 1, 8)
    expr = None
    acc = 0.0
    labels = list(weights)
    for label in labels[:-1]:
        acc += weights[label]
        cut = F.lit(format(min(int(acc * (1 << 32)), (1 << 32) - 1), "08x"))
        expr = F.when(h < cut, label) if expr is None else expr.when(h < cut, label)
    last = F.lit(labels[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


# auto-presample switch: engage the hash-prefix precut once SOME
# stratum would make the rank window sort more than this many rows in a
# single task — below it, one task's in-memory sort is cheaper than the
# precut's extra aggregate + driver histogram.  1.3 retains ~30%
# headroom over the quota, making the per-stratum shortfall (binomial
# under-draw) a <1e-9 event at any quota >= ~200 while still cutting a
# mega-stratum's sort input by quota/N * 1.3.
PRESAMPLE_AUTO_THRESHOLD = 2_000_000
PRESAMPLE_AUTO_MARGIN = 1.3


def _resolve_auto_margin(counts: DataFrame, max_strata: int):
    """Decide ``presample_margin`` for ``"auto"``: one scalar aggregate
    over the per-stratum histogram.  Returns the margin when a stratum
    exceeds :data:`PRESAMPLE_AUTO_THRESHOLD` rows AND the histogram is
    small enough for the precut's driver-side shortfall check; None
    (the plain path) otherwise — auto never raises on too many strata,
    it just declines the precut."""
    stats = counts.agg(
        F.max("_n").alias("_mx"), F.count(F.lit(1)).alias("_ns")
    ).collect()[0]
    if stats["_mx"] is None:
        return None
    if stats["_mx"] >= PRESAMPLE_AUTO_THRESHOLD and stats["_ns"] <= max_strata:
        return PRESAMPLE_AUTO_MARGIN
    return None


def _presample_precut(
    df: DataFrame,
    h,
    counts: DataFrame,
    on,
    margin: float,
    max_strata: int,
) -> DataFrame:
    """Shared hash-prefix precut for the rank-within-stratum operators
    (:func:`stratified_sample`, :func:`per_stratum_cap`).

    ``counts`` must carry ``(_strat, _n, _quota)``.  Rows whose 32-bit
    hash prefix falls under ``quota/N * margin`` of the hash space
    survive the prefilter, so the per-stratum rank sort sees
    ~``quota*margin`` rows instead of ``N`` — the mega-stratum scale
    path.  Exactness protocol: the quota smallest hashes all lie under
    the cut whenever the cut retained >= quota rows; a per-stratum
    shortfall check (one tiny aggregate + driver compare over the
    ``max_strata``-guarded histogram) re-admits the full tail of any
    stratum where the binomial draw came up short, so the later rank
    filter returns EXACTLY the unfiltered computation's rows.

    Returns ``df`` + ``_h`` + the counts columns, prefiltered.
    """
    if margin <= 0:
        raise ValueError(f"presample_margin must be > 0, got {margin}")
    # the shortfall protocol collects the per-stratum histogram —
    # guard it like token_budget_select's max_buckets.  The collected
    # rows then REPLACE the counts plan (a literal driver-built frame),
    # so the action-time broadcast join below never recomputes the
    # corpus-wide aggregate behind `counts`.
    quota_rows = counts.collect()
    if len(quota_rows) > max_strata:
        raise ValueError(
            f"{len(quota_rows)} strata exceeds max_strata="
            f"{max_strata}; the presample shortfall check collects "
            "the per-stratum histogram to the driver — use the "
            "plain path (presample_margin=None) or coarser strata"
        )
    counts = df.sparkSession.createDataFrame(quota_rows, counts.schema)
    # per-stratum prefilter BEFORE the rank sort: keep rows whose
    # 32-bit hash prefix is under quota/N*margin of the hash space
    counts = counts.withColumn(
        "_cut",
        F.least(
            F.lit(float(1 << 32)),
            F.ceil(
                F.col("_quota").cast("double")
                / F.col("_n").cast("double")
                * F.lit(float(margin))
                * F.lit(float(1 << 32))
            ).cast("double"),
        ).cast("long"),
    )
    hv = F.conv(F.substring(F.col("_h"), 1, 8), 16, 10).cast("long")
    base = (
        df.withColumn("_h", h)
        .join(F.broadcast(counts), on)
        .withColumn("_hv", hv)
    )
    pre = base.filter(F.col("_hv") < F.col("_cut"))
    # shortfall check: the prefilter is only valid for a stratum if
    # it retained >= quota rows (then the quota smallest hashes all
    # lie under the cut); re-rank any short stratum unfiltered
    surv = {
        r["_strat"]: r["_m"]
        for r in pre.groupBy("_strat")
        .agg(F.count(F.lit(1)).alias("_m"))
        .collect()
    }
    quotas = {r["_strat"]: r["_quota"] for r in quota_rows}
    short = [s for s, q in quotas.items() if surv.get(s, 0) < q]
    if short:
        null_short = any(s is None for s in short)
        sc = F.col("_strat").isin([s for s in short if s is not None])
        if null_short:
            sc = sc | F.col("_strat").isNull()
        pre = pre.unionByName(
            base.filter(sc & (F.col("_hv") >= F.col("_cut")))
        )
    return pre.drop("_hv", "_cut")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str = "doc_id",
    fraction: Optional[float] = None,
    budget: Optional[int] = None,
    alpha: float = 1.0,
    salt: str = "",
    presample_margin: Optional[float] | str = "auto",
    max_strata: int = 1_000_000,
) -> DataFrame:
    """Exact-count deterministic stratified sample.  A NULL stratum is
    a legitimate stratum (null-safe joins throughout, matching
    :func:`per_stratum_cap`'s window behavior).

    Two modes:

    * ``fraction=f`` — keep ``ceil(f * N_s)`` rows from each stratum
      ``s`` (proportional sampling).
    * ``budget=T, alpha=a`` — temperature sampling: stratum ``s`` gets
      ``k_s = min(N_s, ceil(T * W_s / Σ_t W_t))`` rows, where
      ``W_s = floor(N_s^a * 2^20)`` is a **fixed-point** weight.  ``a=1``
      reproduces proportional allocation of ``T``; ``a→0`` flattens
      toward uniform-per-stratum (the multilingual-rebalancing trick).

    Within a stratum, the kept rows are the ``k_s`` smallest by
    ``md5(key)`` — deterministic, engine-portable, order-independent.

    Determinism of the quotas: the weights are summed as *integers*
    (fixed-point), so ``Σ W_t`` is exact in any aggregation order —
    a float weight sum would differ by ulps between engines (and
    between retries) and could flip a ``ceil`` at a quota boundary.
    The remaining float ops (sqrt, one mul, one div, ceil) are
    per-row and IEEE-identical across engines for ``alpha`` in
    {0.5, 1.0} (``sqrt`` is correctly rounded; ``pow`` for other
    alphas is run-deterministic but only ~1-ulp portable).

    Plan: one exchange on ``strata_col`` (window rank), plus a tiny
    per-stratum count aggregate broadcast back.  Skewed mega-strata
    make the rank sort the straggler — mitigations: the shuffle-free
    :func:`hash_threshold_sample` (module docstring), or
    ``presample_margin``.

    ``presample_margin`` (default ``"auto"``: one tiny aggregate over
    the per-stratum histogram engages the precut only when some stratum
    exceeds ``PRESAMPLE_AUTO_THRESHOLD`` rows — the plain path result
    is IDENTICAL either way; pass a float to force, None to disable)
    is the scale path for exact counts on huge strata: before ranking,
    each stratum is pre-filtered
    to rows whose 32-bit hash prefix falls under
    ``quota/N * margin`` of the hash space, so the per-stratum sort
    sees ~``quota*margin`` rows instead of ``N`` (sampling 1% of a
    mega-stratum sorts ~1.3% of it).  The result is **identical** to
    the unfiltered computation: the quota smallest hashes all lie
    under the cut whenever the cut holds at least ``quota`` rows, and
    a per-stratum shortfall check (one tiny aggregate) re-ranks any
    stratum where the binomial draw came up short — without the
    margin's prefilter — so exactness never depends on luck.
    """
    if (fraction is None) == (budget is None):
        raise ValueError("pass exactly one of fraction= or budget=")
    h = rank_hash_expr(key_col, salt).alias("_h")
    w = Window.partitionBy(strata_col).orderBy("_h", key_col)
    ranked = df.withColumn("_h", h).withColumn(
        "_rk", F.row_number().over(w)
    )
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    if fraction is not None:
        if not (0.0 <= fraction <= 1.0):
            raise ValueError(f"fraction must be in [0, 1], got {fraction}")
        quota = F.ceil(F.lit(float(fraction)) * F.col("_n").cast("double"))
    else:
        n_dbl = F.col("_n").cast("double")
        if alpha == 0.5:
            pw = F.sqrt(n_dbl)
        elif alpha == 1.0:
            pw = n_dbl
        else:
            pw = F.pow(n_dbl, F.lit(float(alpha)))
        scale = float(1 << 20)
        counts = counts.withColumn(
            "_w", F.floor(pw * F.lit(scale)).cast("long")
        )
        # integer sum over the tiny per-stratum histogram: order-free
        # exact, unlike a float sum.  A broadcast scalar-aggregate
        # cross-join, not a window — an unpartitioned window (even one
        # declared with a foldable lit() key, which the optimizer
        # strips) plans a single-partition WindowExec and trips its
        # global-window warning
        counts = counts.crossJoin(
            F.broadcast(counts.agg(F.sum("_w").alias("_wtot")))
        )
        quota = F.least(
            F.col("_n"),
            F.ceil(
                F.lit(float(budget))
                * F.col("_w").cast("double")
                / F.col("_wtot").cast("double")
            ),
        )
    counts = counts.withColumn("_quota", quota)
    # counts' stratum column is renamed so the join key is unambiguous
    # AND null-safe: plain `join(..., strata_col)` uses `=`, which
    # silently drops every NULL-stratum row
    counts = counts.withColumnRenamed(strata_col, "_strat")
    on = F.col(strata_col).eqNullSafe(F.col("_strat"))
    aux = ["_h", "_rk", "_strat", "_n", "_w", "_wtot", "_quota"]
    # persist the histogram across the auto decision + precut collect
    # (two driver actions over the same aggregate), released before
    # return — the precut rebuilds counts as a literal frame, so the
    # returned plan never re-scans the corpus for it
    auto = presample_margin == "auto"
    if auto:
        counts = counts.persist()
        presample_margin = _resolve_auto_margin(counts, max_strata)
    if presample_margin is not None:
        pre = _presample_precut(
            df, h, counts, on, presample_margin, max_strata
        )
        if auto:
            counts.unpersist()
        ranked = pre.withColumn("_rk", F.row_number().over(w))
        return ranked.filter(F.col("_rk") <= F.col("_quota")).drop(*aux)
    if auto:
        counts.unpersist()
    out = (
        ranked.join(F.broadcast(counts), on)
        .filter(F.col("_rk") <= F.col("_quota"))
        .drop(*aux)
    )
    return out


def per_stratum_cap(
    df: DataFrame,
    strata_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "",
    presample_margin: Optional[float] | str = "auto",
    max_strata: int = 1_000_000,
) -> DataFrame:
    """Keep at most ``k`` rows per stratum (C4-style per-domain cap),
    chosen deterministically as the ``k`` smallest ``md5(key)`` within
    the stratum.  One exchange on ``strata_col``.

    ``presample_margin`` (default ``"auto"``, same switch as
    :func:`stratified_sample`) is the hot-stratum scale path — the same
    hash-prefix precut: a domain with 10⁸ pages under ``k=10⁵``
    pre-filters to ~``k*margin`` rows before the rank sort, instead of
    sorting the whole stratum in one window task.  Exact by the
    shortfall protocol (see :func:`_presample_precut`); costs one extra
    aggregate + a ``max_strata``-guarded driver histogram."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    w = Window.partitionBy(strata_col).orderBy("_h", key_col)
    h = rank_hash_expr(key_col, salt)
    # ONE per-stratum histogram serves both the auto decision and the
    # precut (persisted across the two driver actions, released before
    # return — the precut rebuilds it as a literal frame from the rows
    # it collects anyway, so nothing downstream re-scans the corpus)
    counts = (
        df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_quota", F.least(F.lit(int(k)), F.col("_n")))
        .withColumnRenamed(strata_col, "_strat")
    )
    auto = presample_margin == "auto"
    if auto:
        counts = counts.persist()
        presample_margin = _resolve_auto_margin(counts, max_strata)
    if presample_margin is None:
        if auto:
            counts.unpersist()
        return (
            df.withColumn("_h", h)
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= F.lit(int(k)))
            .drop("_h", "_rk")
        )
    on = F.col(strata_col).eqNullSafe(F.col("_strat"))
    pre = _presample_precut(df, h, counts, on, presample_margin, max_strata)
    if auto:
        counts.unpersist()
    return (
        pre.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.lit(int(k)))
        .drop("_h", "_rk", "_strat", "_n", "_quota")
    )


def token_budget_select(
    df: DataFrame,
    score_col: str,
    token_col: str,
    key_col: str = "doc_id",
    budget: Optional[int] = None,
    budget_frac: Optional[float] = None,
    max_buckets: int = 100_000,
    salt: str = "",
) -> DataFrame:
    """Data selection under a token budget: walk documents from the
    highest ``score_col`` bucket down and keep the prefix whose
    cumulative ``token_col`` stays within the budget.  A NULL score
    sorts below every real bucket (Spark's DESC NULLS LAST); NULL
    tokens count as 0.  ``salt`` decorrelates the boundary-bucket
    prefix from upstream md5-ordered stages (see module docstring).

    Semantics (identical to one global ordered cumulative sum): order
    all rows by ``(score DESC, md5(key), key)``; keep each row iff the
    running token total *including it* is ≤ budget.  The prefix rule —
    once the budget is hit nothing later is admitted, even if it would
    fit — keeps the output a deterministic function of the corpus.

    Distributed plan (no global sort of the corpus):

    1. aggregate tokens per score bucket — one small shuffle;
    2. resolve the boundary bucket + remaining budget on the driver
       over the (score → tokens) histogram, sorted descending
       (``max_buckets`` guards the collect: the score MUST be a coarse
       integer bucket, e.g. 0..100 — raise, never OOM, past the guard);
    3. keep full buckets above the boundary with a plain filter
       (map-side, codegen); resolve the residual prefix INSIDE the
       boundary bucket by recursing one level on the md5's own leading
       hex digits: a second tiny histogram picks the landing
       sub-bucket, earlier sub-buckets pass a map-side filter, and the
       ordered cumulative sum runs over that single sub-bucket only
       (~bucket/65536 rows) — no global single-partition window.

    ``budget_frac`` computes ``budget = floor(frac * Σ tokens)`` from
    the data (one extra tiny aggregate), so the selection rate is
    scale-free.
    """
    if (budget is None) == (budget_frac is None):
        raise ValueError("pass exactly one of budget= or budget_frac=")
    hist = (
        df.groupBy(score_col)
        .agg(
            F.coalesce(
                F.sum(F.col(token_col).cast("long")), F.lit(0)
            ).alias("_tok")
        )
        .orderBy(F.col(score_col).desc())   # DESC NULLS LAST
    )
    rows = hist.collect()
    if len(rows) > max_buckets:
        raise ValueError(
            f"{len(rows)} distinct {score_col!r} buckets exceeds "
            f"max_buckets={max_buckets}; pass a coarser integer score "
            "bucket (this guard exists so the driver histogram collect "
            "cannot OOM)"
        )
    if budget is None:
        total = sum(r["_tok"] for r in rows)
        budget = int(budget_frac * total)

    remaining = int(budget)
    full_scores = []
    # explicit flag, NOT a None sentinel: a NULL score is itself a
    # legitimate (last) bucket, so boundary_score=None must stay
    # distinguishable from "no boundary"
    boundary_found = False
    boundary_score = None
    boundary_budget = 0
    for r in rows:
        if r["_tok"] <= remaining:
            full_scores.append(r[score_col])
            remaining -= r["_tok"]
        else:
            boundary_found = True
            boundary_score = r[score_col]
            boundary_budget = remaining
            break

    score = F.col(score_col)
    if not boundary_found:
        # whole corpus fits the budget
        return df
    real_full = [s for s in full_scores if s is not None]
    full_cond = None
    if real_full:
        full_cond = score >= F.lit(min(real_full))
    if len(real_full) < len(full_scores):  # NULL bucket fit entirely
        null_cond = score.isNull()
        full_cond = null_cond if full_cond is None else (full_cond | null_cond)
    kept_full = df.filter(full_cond) if full_cond is not None else None
    boundary_cond = (
        score.isNull() if boundary_score is None
        else score == F.lit(boundary_score)
    )
    # Boundary-bucket prefix WITHOUT a global single-partition sort:
    # the global order (md5, key) is refined by the md5's own leading
    # hex digits, so sub-bucketing on the first `boundary_prefix_len`
    # hex chars (65536 sub-buckets at 4) preserves the order BETWEEN
    # sub-buckets for free.  Resolve which sub-bucket the residual
    # budget lands in on the driver (tiny histogram, ≤16^4 rows), keep
    # earlier sub-buckets with a map-side filter, and run the ordered
    # cumulative sum over the ONE landing sub-bucket — a window whose
    # partition is ~1/65536 of the bucket instead of all of it.
    boundary_prefix_len = 4
    tok_long = F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    # persist: the boundary bucket is scanned up to three times (the
    # sub-bucket histogram collect below, then the `below` and `edge`
    # branches at execution) — without this each pass re-runs the
    # corpus filter + md5 from the source scan.  Spark's LRU evicts it
    # after the caller materializes; the bucket is ~1/|score buckets|
    # of the corpus by construction.
    b = (
        df.filter(boundary_cond)
        .withColumn("_h", rank_hash_expr(key_col, salt))
        .withColumn(
            "_sb",
            F.conv(
                F.substring(F.col("_h"), 1, boundary_prefix_len), 16, 10
            ).cast("long"),
        )
        .persist()
    )
    sb_rows = (
        b.groupBy("_sb")
        .agg(F.sum(tok_long).alias("_tok"))
        .orderBy("_sb")
        .collect()
    )
    rem = int(boundary_budget)
    landing_sb = None
    landing_budget = 0
    for r in sb_rows:
        if r["_tok"] <= rem:
            rem -= r["_tok"]
        else:
            landing_sb = r["_sb"]
            landing_budget = rem
            break
    if landing_sb is None:
        # cannot happen when the bucket exceeded the budget, but stay
        # safe: the whole boundary bucket fits
        boundary = b.drop("_h", "_sb")
    else:
        below = b.filter(F.col("_sb") < F.lit(landing_sb)).drop("_h", "_sb")
        # partitionBy(_sb) = one group (all rows share landing_sb):
        # semantically the single ordered prefix, but a declared
        # partition spec — and at scale a 1/16^len-sized one
        wb = Window.partitionBy("_sb").orderBy("_h", key_col)
        edge = (
            b.filter(F.col("_sb") == F.lit(landing_sb))
            .withColumn("_cum", F.sum(tok_long).over(wb))
            .filter(F.col("_cum") <= F.lit(landing_budget))
            .drop("_h", "_sb", "_cum")
        )
        boundary = below.unionByName(edge)
    # materialize the kept boundary rows (<= the bucket: the residual-
    # budget prefix) so the full bucket cache can be released now
    # rather than lingering until LRU eviction in a long session
    boundary = boundary.persist()
    boundary.count()
    b.unpersist()
    return boundary if kept_full is None else kept_full.unionByName(boundary)
