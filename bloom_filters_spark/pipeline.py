"""Near-duplicate detection + clustering pipeline (the flagship flow).

    pages/documents → shingles → MinHash signatures → LSH bands →
    candidate pairs → Jaccard verify → connected components → clusters

Stage boundaries (= shuffles): band grouping, pair dedup, verify join,
label propagation.  Everything before banding is one map-only stage:
one ``mapInArrow`` kernel turns text straight into band rows
(``operators/arrow_sig.py``), and signatures are recomputed by the same
kernel only for the docs that appear in a candidate pair.

Verification semantics: ``verify="estimate"`` applies the reference's
``compareWith`` decision — (# equal signature positions)/k >= threshold
(``/root/reference/src/sketch/min-hash.ts:117-132``) — which is the
parity target for dup-pair recall.  ``verify="exact"`` uses exact
Jaccard over shingle sets (the reference's own test oracle,
``tests/min-hash.test.ts:8-11``).  ``"both"`` returns the two columns.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bloom_filters_spark.hashing import DEFAULT_SEED
from bloom_filters_spark.operators.components import connected_components
from bloom_filters_spark.operators.minhash_spark import (
    estimated_jaccard_expr,
    exact_jaccard_expr,
)
from bloom_filters_spark.operators.pairs import candidate_pairs
from bloom_filters_spark.operators.shingles import DEFAULT_MAX_VALUE
from bloom_filters_spark.sketches.minhash import MinHashFactory


@dataclass
class NearDupConfig:
    shingle_size: int = 3            # w words per shingle
    num_hashes: int = 128            # k signature length
    bands: int = 32                  # b (rows r = k // b)
    max_value: int = DEFAULT_MAX_VALUE
    seed: int = DEFAULT_SEED         # MinHash param RNG seed
    threshold: float = 0.8           # Jaccard accept threshold
    verify: str = "estimate"         # estimate | exact | both
    max_band_group: int = 64         # all-pairs cap per LSH band group
    # band-hash width: 32 xor-folds the hash, cutting the widest
    # shuffle's rows 16 → 12 bytes at the price of ~n_rows²/2³³
    # colliding candidate groups.  Merged groups usually only ADD verify
    # work; to keep a collision from pushing a small genuine group past
    # max_band_group (star-linking through a foreign anchor = recall
    # loss), candidate_pairs groups 32-bit bands by (band_id, band_hash)
    # instead of the hash alone (operators/pairs.py _band_key).  Adopted
    # as the default after the round-5 paired ABBA measurement
    # (BENCH/scaling_8_32.json "hash32_paired_r5": 0.871x wall at 32
    # pinned cores, 0.993x at 8 — the band exchange is bandwidth-bound,
    # so 25% fewer bytes in the widest shuffle shows up directly).  Pin
    # 64 to read band tables checkpointed before the switch
    # (checkpoint.py and the incremental and streaming paths raise on a
    # width mismatch rather than mis-join).
    band_hash_bits: int = 32
    # CMS frequent-shingle (boilerplate) pruning: shingles appearing in
    # more than this fraction of documents are dropped before MinHash —
    # navigation chrome / legal footers otherwise dominate signatures
    # and create hot LSH bands.  None disables.  near_dup_pipeline and
    # the incremental paths only (checkpoint.py and streaming do not
    # prune); the detection pass emits a few hundred candidate rows,
    # not the shingle universe (see detect_hot_shingles).
    boilerplate_max_df: float | None = None
    # HLL-gated exact pre-dedup: estimate distinct text fingerprints
    # with native HLL++ (approx_count_distinct — one map-side-combined
    # scan); when the estimated exact-duplicate rate exceeds
    # prededup_min_rate, collapse byte-identical (normalized) texts to
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
    prededup_min_rate: float = 0.05
    # candidate-pair exchange strategy (operators/pairs.py):
    # "grouped" — one shuffle straight to collect_list (fastest when the
    # band exchange fits executor memory comfortably);
    # "count_join" — pre-count band hashes and collect_list only the
    # duplicated ones (caps per-key buffer state; the band table is
    # consumed twice);
    # "auto" — grouped below pair_mode_threshold input rows, count_join
    # above (collect_list buffer state is the memory risk at corpus
    # scale, and the second band pass amortizes once the exchange is
    # large enough to dominate).
    pair_mode: str = "auto"
    pair_mode_threshold: int = 2_000_000

    def __post_init__(self):
        if self.num_hashes % self.bands != 0:
            raise ValueError("num_hashes must be divisible by bands")
        if self.band_hash_bits not in (32, 64):
            raise ValueError("band_hash_bits must be 32 or 64")

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
        need_shingles=cfg.verify in ("exact", "both"),
        hot_shingles=hot_shingles,
    )


def lsh_bands(sigs: DataFrame, cfg: NearDupConfig, id_col: str = "doc_id") -> DataFrame:
    """signatures → exploded (band_id, band_hash, doc_id)."""
    from bloom_filters_spark.operators.arrow_sig import bands_arrow

    return bands_arrow(sigs, cfg.bands, cfg.rows_per_band, id_col,
                       hash_bits=cfg.band_hash_bits)


def _participant_signatures(docs: DataFrame, cands: DataFrame, n_cands: int,
                            cfg: NearDupConfig, id_col: str, text_col: str,
                            hot_shingles) -> DataFrame:
    """Signatures of only the docs in a candidate pair (id1, id2),
    pruned with the SAME hot set the bands were built with, or
    verify-side estimates drift from banding.

    A plain semi-join would shuffle the full corpus INCLUDING the text
    column by id (measured 1.2GB at 800k docs); the id set is bounded
    by 2x the candidate count, so it is broadcast when small and the
    text column streams map-side."""
    ids = (
        cands.select(F.col("id1").alias(id_col))
        .unionByName(cands.select(F.col("id2").alias(id_col)))
        .distinct()
    )
    if n_cands < 25_000_000:
        ids = F.broadcast(ids)
    return signatures(docs.join(ids, id_col, "left_semi"), cfg, id_col,
                      text_col, hot_shingles=hot_shingles)


def verified_pairs(
    pairs: DataFrame,
    sigs: DataFrame,
    cfg: NearDupConfig,
    id_col: str = "doc_id",
    sigs_restricted: bool = False,
) -> DataFrame:
    """Candidate pairs → pairs with jaccard column(s), filtered at
    cfg.threshold on the decision column.

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
    need_shingles = cfg.verify in ("exact", "both")
    if sigs_restricted:
        # caller already semi-joined sigs down to pair participants
        # (the fused and incremental paths do) — skip the redundant
        # distinct + semi-join over the candidate set
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

    out_cols = [F.col("id1"), F.col("id2")]
    est = estimated_jaccard_expr(F.col("sig1"), F.col("sig2"), cfg.num_hashes)
    if cfg.verify == "estimate":
        joined = joined.withColumn("jaccard_est", est)
        decision = F.col("jaccard_est")
        out_cols.append(F.col("jaccard_est"))
    elif cfg.verify == "exact":
        joined = joined.withColumn(
            "jaccard", exact_jaccard_expr(F.col("sh1"), F.col("sh2"))
        )
        decision = F.col("jaccard")
        out_cols.append(F.col("jaccard"))
    else:  # both: decide on the exact value, report both
        joined = joined.withColumn("jaccard_est", est).withColumn(
            "jaccard", exact_jaccard_expr(F.col("sh1"), F.col("sh2"))
        )
        decision = F.col("jaccard")
        out_cols += [F.col("jaccard"), F.col("jaccard_est")]

    return joined.filter(decision >= F.lit(cfg.threshold)).select(*out_cols)


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

    # one memoized corpus count shared by the pair-mode probe and hot-
    # shingle detection: cheap (footer stats) on a raw parquet scan, but
    # a full plan execution once df is a derived frame (canonical-url
    # collapse, prededup) — never pay it twice.  Late-bound `vertices`
    # on purpose: both consumers run after it is bound below, so they
    # count the deduplicated frame, without the spreading shuffle.
    _n_docs: list = [None]

    def _count():
        if _n_docs[0] is None:
            _n_docs[0] = vertices.count()
        return _n_docs[0]

    def _pair_mode():
        if cfg.pair_mode != "auto":
            return cfg.pair_mode
        return (
            "count_join"
            if _count() > cfg.pair_mode_threshold
            else "grouped"
        )

    doc_rep = None
    if cfg.exact_prededup != "off":
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
        run_prededup = cfg.exact_prededup == "on"
        if cfg.exact_prededup == "auto":
            # the HLL cardinality gate: one scan, partial-aggregated
            row = fps.filter(F.col("_fp").isNotNull()).agg(
                F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct("_fp").alias("d"),
            ).first()
            n_rows = row["n"] or 0
            run_prededup = n_rows > 0 and (
                row["d"] < (1.0 - cfg.prededup_min_rate) * n_rows
            )
        if run_prededup:
            rep = fps.filter(F.col("_fp").isNotNull()).groupBy("_fp").agg(
                F.min(id_col).alias("_rep")
            )
            # checkpointed, not cached, for the same reason as the
            # candidates below: it sits under the verify side's plan
            doc_rep = fps.join(rep, "_fp", "left").select(
                id_col, F.coalesce("_rep", F.col(id_col)).alias("_rep")
            ).localCheckpoint(eager=False)
            rep_ids = doc_rep.filter(F.col(id_col) == F.col("_rep")).select(
                id_col
            )
            df = df.join(rep_ids, id_col, "left_semi")
    vertices = df.select(id_col)
    # a small batch is often one file with one row group, so one scan
    # partition: spread it round-robin over every task slot, or the
    # text kernels run as one task while the other slots idle.  A no-op
    # at corpus scale, where the scan already has enough partitions.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if n_in is not None and n_in < parallelism:
        df = df.repartition(parallelism)
    # text → (doc_id, band_hash) in one Arrow stage.  The full-corpus
    # signature matrix never leaves the kernel — persisting/caching wide
    # array<int> columns was measured to dominate the whole pipeline on
    # bandwidth-bound hosts (the columnar cache serializes arrays per
    # row).  Signatures are recomputed ONLY for docs that appear in a
    # candidate pair.  On crawl batches that is most docs (4,398 of
    # 4,930 on the benchmark's small-batches corpus), so the verify join
    # computes them once for both endpoints (see verified_pairs).
    from bloom_filters_spark.operators.arrow_sig import (
        detect_hot_shingles,
        fused_band_rows,
    )

    hot = None
    if cfg.boilerplate_max_df is not None:
        hot = detect_hot_shingles(
            df, _count(), cfg.boilerplate_max_df,
            cfg.shingle_size, cfg.max_value, id_col, text_col,
        )
    bands = fused_band_rows(
        df, cfg.factory(), cfg.bands, cfg.rows_per_band,
        cfg.shingle_size, cfg.max_value, id_col, text_col,
        hot_shingles=hot, hash_bits=cfg.band_hash_bits,
    )
    # a local checkpoint, not a cache, materialized by the count: AQE
    # reuses an exchange only over plain scans, and a cached relation
    # under the participant side would keep verify's two joins from
    # sharing one broadcast of it (blocks are GC-cleaned with the frame,
    # as in substring_dup_pairs)
    candidates = candidate_pairs(
        bands, cfg.max_band_group, id_col, mode=_pair_mode()
    ).localCheckpoint(eager=False)
    n_cands = candidates.count()
    # not cached: verify reads them once, through one reused broadcast
    sigs = _participant_signatures(
        df, candidates, n_cands, cfg, id_col, text_col, hot
    )
    # the (tiny) verified edge set is cached so the label-propagation
    # fallback can iterate over it; the driver solve collects it in
    # the same pass that fills the cache.  At cluster scale this
    # boundary is the pairs checkpoint table (checkpoint.py).
    pairs = verified_pairs(
        candidates, sigs, cfg, id_col, sigs_restricted=True
    ).persist()
    clusters = connected_components(pairs, vertices=vertices, id_col=id_col)
    if doc_rep is not None:
        # re-expand collapsed exact duplicates: every doc inherits its
        # representative's cluster (rep ids are per-group minima, so
        # cluster_id stays "min doc id in component")
        rep_clusters = clusters.select(
            F.col(id_col).alias("_rep"), "cluster_id"
        )
        clusters = doc_rep.join(rep_clusters, "_rep").select(
            id_col, "cluster_id"
        )
    if return_stages:
        return clusters, {
            "sigs": sigs,
            "bands": bands,
            "candidates": candidates,
            "pairs": pairs,
        }
    # the components stage has already materialized its labels (driver
    # union-find collects the edges; labelprop localCheckpoints), so the
    # cached edge set can be released too
    pairs.unpersist()
    return clusters


def incremental_candidates(
    new_docs: DataFrame,
    corpus_docs: DataFrame | None = None,
    cfg: NearDupConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_bands: DataFrame | None = None,
    hot_shingles=None,
) -> DataFrame:
    """Candidate (id1=new, id2=corpus) pairs between a document
    increment and an existing corpus — the rolling-crawl shape: the
    corpus is NEVER re-paired against itself, so daily cost is
    proportional to the increment, not the archive.

    Pass ``corpus_bands`` (the ``(id, band_id, band_hash)`` table a
    previous full run checkpointed via ``checkpoint.py``) to skip
    recomputing corpus bands entirely; then the corpus side of this
    operator is a table READ and the only kernel work is one fused
    Arrow pass over the (small) new batch.  The band equi-join touches
    corpus rows only on matched keys.  Hot (boilerplate) bands are the
    skew risk exactly as in the self-join path.

    Boilerplate pruning (``cfg.boilerplate_max_df``) must use the SAME
    hot-shingle set on both sides or band hashes stop being comparable
    (a silent recall loss): when the corpus text is available the hot
    set is detected on it here and applied to both sides; when a
    checkpointed ``corpus_bands`` table replaces the corpus text, pass
    the full run's persisted set as ``hot_shingles`` — this function
    refuses to guess.
    """
    from bloom_filters_spark.operators.arrow_sig import (
        detect_hot_shingles,
        fused_band_rows,
    )

    cfg = cfg or NearDupConfig()
    hot = hot_shingles
    if corpus_bands is None:
        if corpus_docs is None:
            raise ValueError("need corpus_docs or corpus_bands")
        if cfg.boilerplate_max_df is not None and hot is None:
            hot = detect_hot_shingles(
                corpus_docs, corpus_docs.count(), cfg.boilerplate_max_df,
                cfg.shingle_size, cfg.max_value, id_col, text_col,
            )
        corpus_bands = fused_band_rows(
            corpus_docs, cfg.factory(), cfg.bands, cfg.rows_per_band,
            cfg.shingle_size, cfg.max_value, id_col, text_col,
            hot_shingles=hot, hash_bits=cfg.band_hash_bits,
        )
    else:
        if cfg.boilerplate_max_df is not None and hot is None:
            raise ValueError(
                "cfg.boilerplate_max_df is set but corpus_bands is a "
                "precomputed table and no hot_shingles were passed: the "
                "increment would band WITHOUT the pruning the corpus "
                "banded WITH, silently missing near-dups.  Pass the "
                "full run's hot-shingle set (hot_shingles=...) or unset "
                "boilerplate_max_df."
            )
        # a checkpointed band table must carry the SAME hash width the
        # increment will emit: the implicit int->long cast in the join
        # would return zero matches without an error
        expect = "int" if cfg.band_hash_bits == 32 else "bigint"
        actual = dict(corpus_bands.dtypes).get("band_hash")
        if actual != expect:
            raise ValueError(
                f"corpus_bands.band_hash is {actual} but "
                f"cfg band width {cfg.band_hash_bits} emits {expect}: "
                "band hashes would never match across the join"
            )
    new_bands = fused_band_rows(
        new_docs, cfg.factory(), cfg.bands, cfg.rows_per_band,
        cfg.shingle_size, cfg.max_value, id_col, text_col,
        hot_shingles=hot, hash_bits=cfg.band_hash_bits,
    )
    bn = new_bands.select(
        "band_id", "band_hash", F.col(id_col).alias("id1")
    )
    bo = corpus_bands.select(
        "band_id", "band_hash", F.col(id_col).alias("id2")
    )
    return (
        bn.join(bo, ["band_id", "band_hash"])
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )


def near_dup_against(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    cfg: NearDupConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_bands: DataFrame | None = None,
    hot_shingles=None,
) -> DataFrame:
    """Verified near-dup pairs (id1=new, id2=corpus, jaccard) between an
    increment and an existing corpus: ``incremental_candidates`` + the
    production verify stage (estimate / exact / both per
    ``cfg.verify``), with signatures computed ONLY for pair
    participants on both sides.  Ids must be disjoint across the two
    tables (they address one namespace, as in a rolling crawl).
    ``corpus_docs`` supplies participant text for the verify stage even
    when ``corpus_bands`` short-circuits the banding; ``hot_shingles``
    forwards the full run's boilerplate set (see
    ``incremental_candidates``) and prunes the verify-side signatures
    identically."""
    from bloom_filters_spark.operators.arrow_sig import detect_hot_shingles

    cfg = cfg or NearDupConfig()
    if (
        cfg.boilerplate_max_df is not None
        and hot_shingles is None
        and corpus_bands is None
    ):
        # detect once HERE so banding (inside incremental_candidates)
        # and the verify-side signatures prune with the same set
        hot_shingles = detect_hot_shingles(
            corpus_docs, corpus_docs.count(), cfg.boilerplate_max_df,
            cfg.shingle_size, cfg.max_value, id_col, text_col,
        )
    # local checkpoint + count: the candidate set is consumed by the id
    # union (twice), the semi-join, and the pair join inside
    # verified_pairs — materialized once so the band join does not
    # re-execute for each of them, and not cached, so the two verify
    # joins share one broadcast of the participant signatures (see
    # near_dup_pipeline).  The count also gates the broadcast exactly
    # like near_dup_pipeline does.
    cands = incremental_candidates(
        new_docs, corpus_docs, cfg, id_col, text_col, corpus_bands,
        hot_shingles,
    ).localCheckpoint(eager=False)
    n_cands = cands.count()
    docs = new_docs.select(id_col, text_col).unionByName(
        corpus_docs.select(id_col, text_col)
    )
    sigs = _participant_signatures(
        docs, cands, n_cands, cfg, id_col, text_col, hot_shingles
    )
    # materialize the (tiny) verified edge set once: later actions read
    # it, not the candidate checkpoint and the signature kernel
    out = verified_pairs(
        cands, sigs, cfg, id_col, sigs_restricted=True
    ).persist()
    out.count()
    return out
