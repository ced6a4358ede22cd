"""Near-duplicate detection + clustering pipeline (the flagship flow).

    pages/documents → shingles → MinHash signatures → LSH bands →
    candidate pairs → Jaccard verify → connected components → clusters

Stage boundaries (= shuffles): band grouping, pair dedup, verify join,
label propagation.  Everything before banding is map-only: one
``mapInArrow`` kernel signs each document's text once
(``operators/arrow_sig.py``), and the band rows and the verify join
both read those stored signatures — no document is signed twice.  The
incremental shape (``near_dup_against``) is the same with the band
grouping replaced by a new×corpus band equi-join.

Verification semantics: ``verify="estimate"`` applies the reference's
``compareWith`` decision — (# equal signature positions)/k >= threshold
(``/root/reference/src/sketch/min-hash.ts:117-132``) — which is the
parity target for dup-pair recall.  ``verify="exact"`` uses exact
Jaccard over shingle sets (the reference's own test oracle,
``tests/min-hash.test.ts:8-11``).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bloom_filters_spark.hashing import DEFAULT_SEED
from bloom_filters_spark.operators.components import connected_components
from bloom_filters_spark.operators.minhash_spark import (
    estimated_jaccard_expr,
    exact_jaccard_expr,
)
from bloom_filters_spark.operators.pairs import (
    candidate_pairs,
    cross_band_pairs,
)
from bloom_filters_spark.operators.shingles import DEFAULT_MAX_VALUE
from bloom_filters_spark.sketches.minhash import MinHashFactory

# exact_prededup="auto" collapses only when the HLL-estimated exact-dup
# rate exceeds this fraction
PREDEDUP_MIN_RATE = 0.05


@dataclass
class NearDupConfig:
    shingle_size: int = 3            # w words per shingle
    num_hashes: int = 128            # k signature length
    bands: int = 32                  # b (rows r = k // b)
    max_value: int = DEFAULT_MAX_VALUE
    seed: int = DEFAULT_SEED         # MinHash param RNG seed
    threshold: float = 0.8           # Jaccard accept threshold
    verify: str = "estimate"         # estimate | exact
    max_band_group: int = 64         # all-pairs cap per LSH band group
    # CMS frequent-shingle (boilerplate) pruning: shingles appearing in
    # more than this fraction of documents are dropped before MinHash —
    # navigation chrome / legal footers otherwise dominate signatures
    # and create hot LSH bands.  None disables.  The batch runners
    # prune; the streaming runner refuses it.  The detection pass emits
    # a few hundred candidate rows, not the shingle universe (see
    # detect_hot_shingles).
    boilerplate_max_df: float | None = None
    # HLL-gated exact pre-dedup: estimate distinct text fingerprints
    # with native HLL++ (approx_count_distinct — one map-side-combined
    # scan); when the estimated exact-duplicate rate exceeds
    # PREDEDUP_MIN_RATE, collapse byte-identical (normalized) texts to
    # one representative before MinHash/LSH and re-expand afterwards.
    # Web corpora are commonly 30-50% exact dups — collapsing first
    # saves that fraction of signature compute and shrinks hot bands.
    # Cluster-assignment-preserving: identical texts always estimate
    # Jaccard 1 and link anyway; empty-normalized texts are exempted so
    # they stay singletons exactly like the base path.  (The internal
    # PAIRS stage then reports representative pairs only, so parity
    # tests that compare raw pairs keep this "off"; cluster output is
    # identical either way.)  "auto" | "on" | "off"; default off,
    # pages_near_dup opts into "auto".
    exact_prededup: str = "off"
    # candidate-pair exchange strategy (operators/pairs.py):
    # "grouped" — one shuffle straight to collect_list (faster at both
    # measured core counts, BENCH/SCALING.md round 2);
    # "count_join" — opt-in: pre-count band hashes and collect_list
    # only the duplicated ones (caps per-key buffer state; the band
    # table is consumed twice)
    pair_mode: str = "grouped"

    def __post_init__(self):
        if self.num_hashes % self.bands != 0:
            raise ValueError("num_hashes must be divisible by bands")
        if self.verify not in ("estimate", "exact"):
            raise ValueError(
                f"verify must be 'estimate' or 'exact', not {self.verify!r}")
        if self.pair_mode not in ("grouped", "count_join"):
            raise ValueError("pair_mode must be 'grouped' or 'count_join', "
                             f"not {self.pair_mode!r}")

    @property
    def rows_per_band(self) -> int:
        return self.num_hashes // self.bands

    def factory(self) -> MinHashFactory:
        return MinHashFactory(self.num_hashes, self.max_value, self.seed)


def signatures(df: DataFrame, cfg: NearDupConfig, id_col: str = "doc_id",
               text_col: str = "text", hot_shingles=None) -> DataFrame:
    """(id, text) → (id[, shingles], signature): the Arrow signature
    kernel at ``cfg``'s parameters.

    Shingle sets are only materialized when the verify mode needs exact
    Jaccard — in estimate mode the signature alone feeds banding and
    verification, and shingle arrays are pure Arrow/persist overhead
    (measured ~16s of 28s stage time at 200k docs × 32 cores).
    ``hot_shingles`` must be the set the bands were pruned with.
    """
    from bloom_filters_spark.operators.arrow_sig import signatures_arrow

    return signatures_arrow(
        df, cfg.factory(),
        shingle_size=cfg.shingle_size, max_value=cfg.max_value,
        id_col=id_col, text_col=text_col,
        need_shingles=cfg.verify == "exact",
        hot_shingles=hot_shingles,
    )


def lsh_bands(sigs: DataFrame, cfg: NearDupConfig, id_col: str = "doc_id") -> DataFrame:
    """signatures → exploded (band_id, band_hash, doc_id)."""
    from bloom_filters_spark.operators.arrow_sig import bands_arrow

    return bands_arrow(sigs, cfg.bands, cfg.rows_per_band, id_col)


def hot_shingle_set(df: DataFrame, cfg: NearDupConfig, n_docs,
                    id_col: str = "doc_id", text_col: str = "text"):
    """The boilerplate shingles every signature is pruned of: a sorted
    int list from ``detect_hot_shingles`` over ``df``, or None when
    ``cfg.boilerplate_max_df`` is.  ``n_docs`` is a callable counting
    ``df``, only called when pruning is on."""
    if cfg.boilerplate_max_df is None:
        return None
    from bloom_filters_spark.operators.arrow_sig import detect_hot_shingles

    return detect_hot_shingles(
        df, n_docs(), cfg.boilerplate_max_df, cfg.shingle_size,
        cfg.max_value, id_col, text_col,
    ).tolist()


def collapse_exact_dups(df: DataFrame, cfg: NearDupConfig,
                        id_col: str = "doc_id", text_col: str = "text"):
    """HLL-gated exact pre-dedup (``cfg.exact_prededup``): ``(df cut to
    one representative per normalized text, doc → representative
    map)``, or ``(df, None)`` when it is off or the gate declines.  The
    gate and the representatives (per-group minimum ids) depend on the
    input alone; :func:`expand_exact_dups` undoes it on the clusters."""
    if cfg.exact_prededup == "off":
        return df, None
    # ASCII-only lowercase (translate A-Z), matching the Arrow
    # kernel's byte-level token domain: with Unicode F.lower, two
    # texts differing only in non-ASCII letter case would collapse
    # here but shingle differently in the kernel — breaking the
    # "cluster output is identical either way" contract
    lowered = F.translate(
        F.col(text_col),
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        "abcdefghijklmnopqrstuvwxyz",
    )
    norm = F.regexp_replace(F.trim(lowered), r"\s+", " ")
    fps = df.select(
        id_col,
        F.when(F.length(norm) > 0, F.xxhash64(norm)).alias("_fp"),
    )
    if cfg.exact_prededup == "auto":
        # the HLL cardinality gate: one scan, partial-aggregated
        row = fps.filter(F.col("_fp").isNotNull()).agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("_fp").alias("d"),
        ).first()
        n, d = row["n"], row["d"]
        if n == 0 or d >= (1.0 - PREDEDUP_MIN_RATE) * n:
            return df, None
    rep = fps.filter(F.col("_fp").isNotNull()).groupBy("_fp").agg(
        F.min(id_col).alias("_rep")
    )
    # checkpointed, not cached, for the reason verify_candidates gives:
    # it sits under the verify side's plan
    doc_rep = fps.join(rep, "_fp", "left").select(
        id_col, F.coalesce("_rep", F.col(id_col)).alias("_rep")
    ).localCheckpoint(eager=False)
    rep_ids = doc_rep.filter(F.col(id_col) == F.col("_rep")).select(id_col)
    return df.join(rep_ids, id_col, "left_semi"), doc_rep


def expand_exact_dups(clusters: DataFrame, doc_rep: DataFrame | None,
                      id_col: str = "doc_id") -> DataFrame:
    """Representatives' clusters → every doc's: each doc inherits its
    representative's cluster (rep ids are per-group minima, so
    cluster_id stays "min doc id in component").  ``doc_rep`` None (no
    collapse) returns ``clusters`` as they are."""
    if doc_rep is None:
        return clusters
    rep_clusters = clusters.select(F.col(id_col).alias("_rep"), "cluster_id")
    return doc_rep.join(rep_clusters, "_rep").select(id_col, "cluster_id")


def verify_candidates(cands: DataFrame, sigs: DataFrame, cfg: NearDupConfig,
                      id_col: str = "doc_id"):
    """Candidate pairs → ``(candidates, participant signatures, verified
    pairs)``: the candidate → verify step every runner shares.

    ``sigs`` holds the signatures ``(id, signature[, shingles])`` the
    bands were built from, so verify reads the rows banding read: no
    document is signed again here, and banding and verify share one
    hot-shingle pruning by construction.

    The candidates are materialized once by a local checkpoint and its
    count: the id union, the semi-join and both verify joins read it,
    not the band kernel and its exchange again.  A checkpoint, not a
    cache, because AQE reuses an exchange only over plain scans, and a
    cached relation under the participant side would keep verify's two
    joins from sharing one broadcast of it.  Only the participants'
    signatures reach the verify join.  A plain semi-join against the
    candidates would shuffle ``sigs`` by id (measured 1.2GB at 800k
    docs); the id set is bounded by 2x the candidate count, so it is
    broadcast when small and the wide side streams map-side.
    """
    cands = cands.localCheckpoint(eager=False)
    n_cands = cands.count()
    ids = (
        cands.select(F.col("id1").alias(id_col))
        .unionByName(cands.select(F.col("id2").alias(id_col)))
        .distinct()
    )
    sigs = sigs.join(F.broadcast(ids) if n_cands < 25_000_000 else ids,
                     id_col, "left_semi")
    return cands, sigs, verified_pairs(cands, sigs, cfg, id_col,
                                       sigs_restricted=True)


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of ``df``'s local checkpoint now, not at driver
    GC (``DataFrame.unpersist`` does not reach them).  Nothing may read
    ``df`` afterwards: its lineage is truncated.  ``RDD.unpersist`` warns
    about that; this is the call it makes after the warning."""
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)


def verified_pairs(
    pairs: DataFrame,
    sigs: DataFrame,
    cfg: NearDupConfig,
    id_col: str = "doc_id",
    sigs_restricted: bool = False,
) -> DataFrame:
    """Candidate pairs → ``(id1, id2, jaccard_est)`` (estimate) or
    ``(id1, id2, jaccard)`` (exact), filtered at cfg.threshold.

    Join strategy: the signature table is first semi-joined down to
    the docs participating in a candidate pair, then joined to the
    pairs twice (once per endpoint).  On crawl batches that is most of
    the batch, not a rare few: 4,398 of 4,930 docs on the benchmark's
    ``small-batches`` corpus (seed 31), where 30-50% of fetches are
    exact copies.  Both endpoint joins read ONE ``side`` plan — the renames happen on
    the pairs side — so Spark plans a single broadcast of it and reuses
    it (``ReusedExchange``) for the second join: the participant
    signatures are computed once, not once per endpoint.  AQE reuses an
    exchange only when no cached relation sits under it, so callers
    materialize the candidates with a local checkpoint, not a cache.
    At adversarial pair volumes AQE falls back to a shuffle join on the
    reduced table — still strictly less data than joining the full
    signature table, and its shuffle of the side is reused the same way.
    """
    need_shingles = cfg.verify == "exact"
    if sigs_restricted:
        # caller already semi-joined sigs down to pair participants
        # (verify_candidates does) — skip the redundant distinct +
        # semi-join over the candidate set
        side = sigs
    else:
        ids = (
            pairs.select(F.col("id1").alias(id_col))
            .unionByName(pairs.select(F.col("id2").alias(id_col)))
            .distinct()
        )
        side = sigs.join(ids, id_col, "left_semi")
    side = side.select(
        id_col, "signature", *(["shingles"] if need_shingles else [])
    )

    def endpoint(df, n):
        # key endpoint idn by id_col, join, then name the side columns
        # sign / shn on the joined frame: the side plan is never renamed.
        # A left join, so only the side can be the broadcast build side
        # (an inner join would broadcast the smaller pairs table into
        # the first join and the side into the second); a pair whose
        # endpoint has no signature gets a NULL decision below and is
        # dropped by the threshold filter exactly as the inner join did
        return df.withColumnRenamed(f"id{n}", id_col).join(
            side, id_col, "left"
        ).withColumnsRenamed(
            {id_col: f"id{n}", "signature": f"sig{n}", "shingles": f"sh{n}"}
        )

    joined = endpoint(endpoint(pairs, 1), 2)

    if cfg.verify == "exact":
        name, value = "jaccard", exact_jaccard_expr(F.col("sh1"), F.col("sh2"))
    else:
        name, value = "jaccard_est", estimated_jaccard_expr(
            F.col("sig1"), F.col("sig2"), cfg.num_hashes)
    return joined.withColumn(name, value).filter(
        F.col(name) >= F.lit(cfg.threshold)).select("id1", "id2", name)


def _default_url_hash(col, round_: int):
    """Round-0 keying is plain ``xxhash64(url)`` (identical ids to
    key_mode="hash64" when no collision exists); later probe rounds mix
    the round number in as an extra hashed column."""
    return F.xxhash64(col) if round_ == 0 else F.xxhash64(col, F.lit(round_))


def collision_free_url_ids(
    pages: DataFrame,
    url_col: str = "url",
    hash_fn=None,
    max_rounds: int = 8,
) -> DataFrame:
    """Deterministic, collision-FREE url → 64-bit id map
    ``(url, _nid)``.

    Round 0 keys every distinct url with ``hash_fn(url, 0)``.  If two
    distinct urls collide on an id, the lexicographically smallest url
    keeps it and the others re-key with ``hash_fn(url, round)``,
    re-checking the FULL id set each round — so a re-keyed id can never
    silently collide with an existing one either.  Expected rounds
    beyond the first check: ~n²/2^64 (zero in practice); each check is
    one aggregate over (id, url) rows.  Every decision (min-url keeps,
    round-numbered rehash) is deterministic, so the map is stable
    across runs and resumable checkpoints.
    """
    hash_fn = hash_fn or _default_url_hash
    ids = (
        pages.select(url_col)
        .distinct()
        .withColumn("_nid", hash_fn(F.col(url_col), 0))
    )
    for round_ in range(1, max_rounds + 1):
        dup = (
            ids.groupBy("_nid")
            .agg(
                F.min(url_col).alias("_keep_url"),
                F.count(F.lit(1)).alias("_n"),
            )
            .filter(F.col("_n") > 1)
            .select("_nid", "_keep_url")
        )
        # collisions are ~n²/2^64 of the key space — always broadcastable
        losers = (
            ids.join(F.broadcast(dup), "_nid")
            .filter(F.col(url_col) != F.col("_keep_url"))
            .select(url_col)
        )
        loser_urls = [r[0] for r in losers.collect()]
        if not loser_urls:
            return ids
        rekeyed = (
            pages.sparkSession.createDataFrame(
                [(u,) for u in loser_urls], f"{url_col} string"
            )
            .withColumn("_nid", hash_fn(F.col(url_col), round_))
        )
        ids = ids.join(
            F.broadcast(rekeyed.select(url_col)), url_col, "left_anti"
        ).unionByName(rekeyed)
    raise RuntimeError(
        f"collision_free_url_ids: collisions persisted after {max_rounds} "
        f"rehash rounds — astronomically unlikely with a real 64-bit hash; "
        f"check the injected hash_fn"
    )


def pages_near_dup(
    pages: DataFrame,
    cfg: NearDupConfig | None = None,
    url_col: str = "url",
    text_col: str | None = "text",
    lang: str | None = None,
    extractor: str = "simple",
    key_mode: str = "hash64",
    canonicalize_urls: bool = False,
) -> DataFrame:
    """input_hint entry point: ``pages(url, warc_ts, html, text, lang)``
    → ``(url, cluster_url)`` with ``cluster_url`` shared by every page in
    a near-duplicate component.

    * keys are urls (strings); internally each url maps to
      ``xxhash64(url)`` so the Arrow kernels and shuffles move 8-byte
      ids, not urls.  Expected 64-bit collisions ≈ n²/2^65: ~0.03 at
      10^9 docs but ~27,000 at the advertised 10^12 — each one silently
      merging two unrelated urls into one doc id (and hence one
      cluster).  ``key_mode="collision_free"`` removes the leak: ids
      come from :func:`collision_free_url_ids` (deterministic rehash
      probing, smallest url keeps the contested id), at the cost of one
      distinct + one verification aggregate over the url set.  The
      default stays "hash64" — the right trade below ~10^10 docs;
    * ``text_col=None`` extracts text from ``html`` via
      ``sources.pages.extract_text_expr`` (byte-identical per url);
    * ``lang="en"`` prunes by language BEFORE any kernel — a native
      filter Catalyst pushes into the scan;
    * ``canonicalize_urls=True`` collapses url VARIANTS of the same
      resource (``www.``, default ports, ``utm_*``/fragment debris —
      :func:`functions.url.canonicalize_url_expr`) into ONE document
      before any text work: the content pipeline runs once per
      canonical url (representative text = the lexicographically
      smallest member url's text, a deterministic ``min_by``), and
      every member url inherits its canonical url's cluster.  At CC
      scale this is the standard first dedup stage — it removes the
      ~10-30% of fetches that are trivial url aliases for the cost of
      one partial-aggregatable shuffle over ``(canon, url)``, shrinking
      the corpus the expensive MinHash stages see.
    """
    if cfg is None:
        cfg = NearDupConfig(exact_prededup="auto")
    if lang is not None:
        pages = pages.filter(F.col("lang") == lang)
    if text_col is None:
        from bloom_filters_spark.sources.pages import (
            extract_text_expr,
            extract_text_general_expr,
        )

        extract = (
            extract_text_general_expr
            if extractor == "general"
            else extract_text_expr
        )
        pages = pages.withColumn("_text", extract(F.col("html")))
        text_col = "_text"
    if canonicalize_urls:
        from bloom_filters_spark.functions.url import canonicalize_url_expr

        pages = pages.withColumn(
            "_curl", canonicalize_url_expr(F.col(url_col))
        )
        # one representative (canon, text) per canonical url; min_by is
        # partial-aggregatable so this combines map-side before the
        # single shuffle on _curl
        reps = pages.groupBy("_curl").agg(
            F.min_by(F.col(text_col), F.col(url_col)).alias("_t")
        )
        key_src, key_col = reps, "_curl"
    else:
        key_src, key_col = pages, url_col
    if key_mode == "collision_free":
        id_map = collision_free_url_ids(key_src, key_col)
        keyed = key_src.join(id_map, key_col)
    else:
        keyed = key_src.withColumn("_nid", F.xxhash64(F.col(key_col)))
    if canonicalize_urls:
        keyed = keyed.select("_nid", "_curl", "_t")
        # every member url rides its canonical url's id
        urls = pages.select(F.col(url_col), "_curl").join(
            keyed.select("_nid", "_curl"), "_curl"
        ).select("_nid", url_col)
    else:
        keyed = keyed.select(
            "_nid", F.col(url_col), F.col(text_col).alias("_t")
        )
        urls = keyed.select("_nid", url_col)
    clusters = near_dup_pipeline(
        keyed.select("_nid", "_t"), cfg, id_col="_nid", text_col="_t"
    )
    # canonical member = lexicographically smallest url in the component:
    # stable under the internal key-hashing scheme (min _nid would leak
    # xxhash64 ordering into the user-visible contract) and exactly
    # replicable by a SQL oracle.  One extra tiny shuffle over the
    # (cluster_id, url) projection.
    labeled = clusters.join(urls, "_nid")
    canon = labeled.groupBy("cluster_id").agg(
        F.min(url_col).alias("cluster_url")
    )
    return labeled.join(canon, "cluster_id").select(url_col, "cluster_url")


def _exchange_free_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df`` when its physical plan holds no
    exchange (a scan plus narrow operators), else None.  Only such a
    plan answers without running anything: asking an exchange-bearing
    plan for its RDD runs its shuffles under AQE."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan or "AdaptiveSparkPlan" in plan:
        return None
    return df.rdd.getNumPartitions()


def near_dup_pipeline(
    df: DataFrame,
    cfg: NearDupConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    return_stages: bool = False,
):
    """Full pipeline: (id, text) → clusters(doc_id, cluster_id).

    ``return_stages=True`` also returns {sigs, bands, candidates, pairs}
    for testing/metrics.
    """
    cfg = cfg or NearDupConfig()
    # decided on the caller's plan, before the pre-dedup join below adds
    # an exchange to it
    n_in = _exchange_free_partitions(df)

    df, doc_rep = collapse_exact_dups(df, cfg, id_col, text_col)
    vertices = df.select(id_col)
    # a small batch is often one file with one row group, so one scan
    # partition: spread it round-robin over every task slot, or the
    # text kernels run as one task while the other slots idle.  A no-op
    # at corpus scale, where the scan already has enough partitions.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if n_in is not None and n_in < parallelism:
        df = df.repartition(parallelism)
    # text → signatures in one Arrow pass; the bands and the verify
    # join both read them, so no doc goes through the kernel twice (on
    # crawl batches ~90% of the docs are pair participants).  A local
    # checkpoint, not a cache, for the reason verify_candidates gives:
    # AQE reuses no broadcast exchange over a cached relation.  Banding
    # and verify read the same rows, so they are pruned with the same
    # hot-shingle set by construction.  The hot-shingle detection counts
    # `vertices`: the deduplicated frame, without the spreading shuffle.
    all_sigs = signatures(
        df, cfg, id_col, text_col,
        hot_shingles=hot_shingle_set(df, cfg, vertices.count, id_col,
                                     text_col),
    ).localCheckpoint(eager=False)
    bands = lsh_bands(all_sigs, cfg, id_col)
    # the (tiny) verified edge set is cached so the label-propagation
    # fallback can iterate over it; the driver solve collects it in the
    # same pass that fills the cache.  At cluster scale this boundary is
    # the pairs checkpoint table (checkpoint.py).
    candidates, sigs, pairs = verify_candidates(
        candidate_pairs(bands, cfg.max_band_group, id_col, mode=cfg.pair_mode),
        all_sigs, cfg, id_col,
    )
    pairs = pairs.persist()
    clusters = connected_components(pairs, vertices=vertices, id_col=id_col)
    clusters = expand_exact_dups(clusters, doc_rep, id_col)
    if return_stages:
        return clusters, {
            "sigs": sigs,
            "bands": bands,
            "candidates": candidates,
            "pairs": pairs,
        }
    # the components stage has already materialized its labels (driver
    # union-find collects the edges; labelprop localCheckpoints), so the
    # cached edge set and the checkpoints behind it can be released too:
    # a long-lived session calling once per crawl batch would otherwise
    # hold every call's signatures until driver GC
    pairs.unpersist()
    release_checkpoint(candidates)
    release_checkpoint(all_sigs)
    return clusters


def _signed_sides(new_docs: DataFrame, corpus_docs: DataFrame,
                  cfg: NearDupConfig, id_col: str, text_col: str):
    """(new, corpus) signatures at ``cfg``, both pruned with ONE hot-
    shingle set detected on the corpus (``cfg.boilerplate_max_df``):
    band hashes are comparable across the two sides only when both
    drop the same shingles."""
    hot = hot_shingle_set(corpus_docs, cfg, corpus_docs.count, id_col,
                          text_col)
    return tuple(signatures(d, cfg, id_col, text_col, hot_shingles=hot)
                 for d in (new_docs, corpus_docs))


def incremental_candidates(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    cfg: NearDupConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate (id1=new, id2=corpus) pairs between a document
    increment and an existing corpus — the rolling-crawl shape: the
    corpus is NEVER re-paired against itself, so the pair stage costs
    what the increment matches, not the archive squared.

    Both sides are signed once and banded from their signatures; the
    band equi-join is ``operators.pairs.cross_band_pairs``.  With
    ``cfg.boilerplate_max_df`` the hot-shingle set is detected on the
    corpus and prunes both sides.
    """
    cfg = cfg or NearDupConfig()
    # banding reads only the signature: skip the shingle sets exact
    # verify needs
    new_sigs, old_sigs = _signed_sides(
        new_docs, corpus_docs, replace(cfg, verify="estimate"), id_col,
        text_col,
    )
    return cross_band_pairs(lsh_bands(new_sigs, cfg, id_col),
                            lsh_bands(old_sigs, cfg, id_col), id_col)


def near_dup_against(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    cfg: NearDupConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Verified near-dup pairs (id1=new, id2=corpus, jaccard) between an
    increment and an existing corpus: ``near_dup_pipeline``'s shape on
    the incremental pair stage.  Each side is signed once (one hot-
    shingle set, detected on the corpus), held by a local checkpoint,
    banded from the stored signatures, and verified against those same
    rows (estimate or exact per ``cfg.verify``).  Ids must be
    disjoint across the two tables (they address one namespace, as in
    a rolling crawl)."""
    cfg = cfg or NearDupConfig()
    # local checkpoints, not caches, for the reason verify_candidates
    # gives: AQE reuses no broadcast exchange over a cached relation
    new_sigs, old_sigs = (
        s.localCheckpoint(eager=False)
        for s in _signed_sides(new_docs, corpus_docs, cfg, id_col, text_col)
    )
    cands, _, out = verify_candidates(
        cross_band_pairs(lsh_bands(new_sigs, cfg, id_col),
                         lsh_bands(old_sigs, cfg, id_col), id_col),
        new_sigs.unionByName(old_sigs), cfg, id_col,
    )
    # materialize the (tiny) verified edge set into its own checkpoint,
    # which cuts its lineage, so the checkpoints it was computed from
    # can be released now rather than held until driver GC
    out = out.localCheckpoint()
    for df in (cands, new_sigs, old_sigs):
        release_checkpoint(df)
    return out
