"""End-to-end near-dup pipeline tests against brute-force oracles.

The oracle replicates the reference's decision procedure in
numpy: shingle sets → MinHash signatures (same pinned params) →
all-pairs ``compareWith`` ≥ threshold → union-find clusters
(SURVEY.md §5.2 item 3).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloom_filters_spark.operators.arrow_sig import arrow_shingle_set_py
from bloom_filters_spark.operators.shingles import shingle_set_py, shingles_expr
from bloom_filters_spark.pipeline import NearDupConfig, near_dup_pipeline

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# oracle helpers
# ---------------------------------------------------------------------------

def brute_force_pairs(texts: dict[int, str], cfg: NearDupConfig):
    """All-pairs reference decisions: (pairs at est-J >= threshold,
    signature dict), over the Arrow kernel's shingle sets."""

    def sh(t):
        return arrow_shingle_set_py(t, cfg.shingle_size, cfg.max_value)

    factory = cfg.factory()
    ids = sorted(i for i, t in texts.items() if len(sh(t)))
    sigs = {
        i: factory.signature(np.array(sh(texts[i]), dtype=np.int64))
        for i in ids
    }
    mat = np.stack([sigs[i] for i in ids])
    eq = (mat[:, None, :] == mat[None, :, :]).mean(axis=2)
    pairs = set()
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            if eq[ai, bi] >= cfg.threshold:
                pairs.add((ids[ai], ids[bi]))
    return pairs, sigs


def union_find_clusters(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


# ---------------------------------------------------------------------------
# unit: JVM expressions match python oracles
# ---------------------------------------------------------------------------

def test_shingles_jvm_matches_python(spark):
    texts = [
        "The quick  brown Fox jumps över the lazy dog",
        "one two",
        "single",
        "  leading and trailing  ",
        "repeat repeat repeat repeat repeat",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, text string")
    got = {
        r["id"]: r["s"]
        for r in df.select("id", shingles_expr(F.col("text"), 3).alias("s")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == shingle_set_py(t, 3), f"text {i!r}"


# ---------------------------------------------------------------------------
# end-to-end vs brute force on real testdata documents
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def documents_texts(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return {r["doc_id"]: r["text"] for r in df.select("doc_id", "text").collect()}


def test_pipeline_matches_brute_force_oracle(spark, documents_texts):
    cfg = NearDupConfig(threshold=0.7, verify="estimate")
    texts = documents_texts
    oracle_pairs, _ = brute_force_pairs(texts, cfg)

    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    clusters, stages = near_dup_pipeline(df, cfg, return_stages=True)
    got_pairs = {
        (r["id1"], r["id2"]) for r in stages["pairs"].collect()
    }

    # recall >= 0.99 vs the reference's all-pairs compareWith decisions
    if oracle_pairs:
        recall = len(got_pairs & oracle_pairs) / len(oracle_pairs)
        assert recall >= 0.99, (
            f"recall {recall}: missed {sorted(oracle_pairs - got_pairs)[:10]}"
        )
    # no false accepts: every returned pair satisfies the same decision rule
    assert got_pairs <= oracle_pairs, sorted(got_pairs - oracle_pairs)[:10]

    # cluster assignments match union-find over oracle pairs
    # (only exact when LSH found every oracle pair; asserted above)
    oracle_clusters = union_find_clusters(sorted(texts), oracle_pairs)
    got_clusters = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert got_clusters == oracle_clusters


def test_pipeline_exact_verify_mode(spark, documents_texts):
    """verify='exact' keeps only pairs with true shingle-Jaccard >= t,
    over the Arrow kernel's shingle sets."""
    cfg = NearDupConfig(threshold=0.7, verify="exact")
    texts = documents_texts
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    _, stages = near_dup_pipeline(df, cfg, return_stages=True)
    pairs = stages["pairs"].collect()
    assert pairs
    for r in pairs:
        sa = set(arrow_shingle_set_py(texts[r["id1"]], cfg.shingle_size,
                                      cfg.max_value))
        sb = set(arrow_shingle_set_py(texts[r["id2"]], cfg.shingle_size,
                                      cfg.max_value))
        true_j = len(sa & sb) / len(sa | sb)
        assert true_j == pytest.approx(r["jaccard"])
        assert true_j >= cfg.threshold


def test_pages_near_dup_url_keyed(spark):
    """input_hint surface: url-keyed pages → (url, cluster_url); planted
    exact copies (odd id = copy of odd-1 at mutation 0.0) must share a
    cluster_url, and text can come from the html column."""
    from bloom_filters_spark.pipeline import pages_near_dup
    from bloom_filters_spark.sources.pages import pages_table

    pages = pages_table(spark, 400, seed=7)
    out = {r["url"]: r["cluster_url"] for r in
           pages_near_dup(pages, NearDupConfig(threshold=0.9)).collect()}
    assert len(out) == 400
    # recompute which odd ids are true exact/near copies from the source
    texts = {r["doc_id"]: (r["url"], r["text"])
             for r in pages.select("doc_id", "url", "text").collect()}
    linked = 0
    for k in range(0, 400, 2):
        if k + 1 not in texts:
            continue
        (u_a, t_a), (u_b, t_b) = texts[k], texts[k + 1]
        if t_a == t_b:  # exact planted copy
            assert out[u_a] == out[u_b], (u_a, u_b)
            linked += 1
    assert linked > 0  # the corpus really planted exact copies

    # html-extraction path produces the same clustering
    out_html = {r["url"]: r["cluster_url"] for r in
                pages_near_dup(pages.drop("text"),
                               NearDupConfig(threshold=0.9),
                               text_col=None).collect()}
    assert out_html == out


def test_collision_free_url_ids_resolves_collisions(spark, monkeypatch):
    """With a deliberately-colliding round-0 hash (mod 7), the rehash
    probe must produce one unique deterministic id per distinct url,
    keeping the smallest url on its contested round-0 id."""
    import bloom_filters_spark.pipeline as P

    def colliding_hash(col, round_):
        if round_ == 0:
            return F.pmod(F.xxhash64(col), F.lit(7))
        return F.xxhash64(col, F.lit(round_))

    urls = [f"https://ex.com/p{i}" for i in range(40)]
    pages = spark.createDataFrame([(u,) for u in urls], "url string")
    ids = P.collision_free_url_ids(pages, "url", hash_fn=colliding_hash)
    rows = {r["url"]: r["_nid"] for r in ids.collect()}
    assert len(rows) == 40
    assert len(set(rows.values())) == 40  # collision-free
    # deterministic: a second run yields the same map
    rows2 = {r["url"]: r["_nid"] for r in
             P.collision_free_url_ids(pages, "url",
                                      hash_fn=colliding_hash).collect()}
    assert rows == rows2
    # smallest url per contested round-0 id kept its id
    import collections
    r0 = {r["url"]: r["_nid"] for r in
          pages.withColumn("_nid", colliding_hash(F.col("url"), 0)).collect()}
    by_id = collections.defaultdict(list)
    for u, h in r0.items():
        by_id[h].append(u)
    for h, us in by_id.items():
        if len(us) > 1:
            assert rows[min(us)] == h


def test_pages_near_dup_collision_free_no_cluster_merge(spark, monkeypatch):
    """Two urls whose 64-bit keys collide must NOT merge clusters under
    key_mode="collision_free" (the leak the 10^12-doc analysis flags
    for plain hash64 keying): distinct-text pages stay singletons even
    when the round-0 hash is forced to collide."""
    import bloom_filters_spark.pipeline as P
    from bloom_filters_spark.sources.pages import pages_table

    def colliding_hash(col, round_):
        if round_ == 0:
            return F.pmod(F.xxhash64(col), F.lit(5))
        return F.xxhash64(col, F.lit(round_))

    monkeypatch.setattr(P, "_default_url_hash", colliding_hash)
    # originals only (even ids) → all texts pairwise non-duplicate
    pages = pages_table(spark, 60, seed=7).filter(F.col("doc_id") % 2 == 0)
    out = {r["url"]: r["cluster_url"] for r in
           P.pages_near_dup(pages, NearDupConfig(threshold=0.9),
                            key_mode="collision_free").collect()}
    n = pages.count()
    assert len(out) == n
    # every page is its own cluster: no collision-induced merges
    assert all(u == cu for u, cu in out.items())


def test_pages_near_dup_canonicalize_urls(spark):
    """canonicalize_urls=True: url VARIANTS (www., :443, utm_*,
    fragments) of one resource share a cluster with NO text similarity
    required, near-dup text still clusters across distinct canonical
    urls, and unrelated pages stay singletons."""
    from bloom_filters_spark.pipeline import pages_near_dup

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    rows = [
        # 3 variants of one resource, deliberately different texts
        ("https://www.a.com:443/x?utm_source=t", base),
        ("https://a.com/x", "completely different words here entirely "
                            "unlike anything else in this tiny corpus"),
        ("https://A.com/x/#frag", "third variant text also unrelated to "
                                  "the others in every possible way"),
        # near-dup of the first variant's text at a different resource
        ("https://b.com/y", base + " extra"),
        # unrelated singleton
        ("https://c.com/z", "nothing in common with anything above nor "
                            "below just some filler prose for testing"),
    ]
    pages = spark.createDataFrame(rows, "url string, text string")
    out = {r["url"]: r["cluster_url"] for r in
           pages_near_dup(pages, NearDupConfig(threshold=0.5),
                          canonicalize_urls=True).collect()}
    assert len(out) == 5  # every member url appears in the output
    variants = [rows[0][0], rows[1][0], rows[2][0]]
    assert len({out[u] for u in variants}) == 1  # aliases collapse
    # representative text is min(url)'s ("https://A.com/x/#frag" sorts
    # first -> its text is the cluster's content), which is NOT a
    # near-dup of b.com/y -> b stays separate, as does c
    assert out[rows[3][0]] != out[variants[0]]
    assert out[rows[4][0]] == rows[4][0]

    # and when the representative (min-url) text IS a near-dup of
    # another resource's text, the alias group bridges into its cluster
    rows2 = [
        ("https://www.a.com:443/x?utm_source=t", "alias text ignored"),
        ("https://a.com/x", base),
        ("https://b.com/y", base + " extra"),
    ]
    pages2 = spark.createDataFrame(rows2, "url string, text string")
    out2 = {r["url"]: r["cluster_url"] for r in
            pages_near_dup(pages2, NearDupConfig(threshold=0.5),
                           canonicalize_urls=True).collect()}
    assert len({out2[u] for u in (rows2[0][0], rows2[1][0],
                                  rows2[2][0])}) == 1


def test_pages_near_dup_collision_free_matches_default(spark):
    """Without collisions the collision_free keying must reproduce the
    default hash64 clustering exactly (round 0 uses the same hash)."""
    from bloom_filters_spark.pipeline import pages_near_dup
    from bloom_filters_spark.sources.pages import pages_table

    pages = pages_table(spark, 200, seed=7)
    cfg = NearDupConfig(threshold=0.9)
    base = {(r["url"], r["cluster_url"]) for r in
            pages_near_dup(pages, cfg).collect()}
    cf = {(r["url"], r["cluster_url"]) for r in
          pages_near_dup(pages, cfg, key_mode="collision_free").collect()}
    assert cf == base


def test_recall_against_truth_pairs(spark):
    """Corpus-level recall (BASELINE target ≥0.99): pipeline pairs at
    threshold 0.8 must recover ≥99% of planted pairs whose EXACT
    w-shingle Jaccard is ≥0.9 (well above threshold, so the k=128
    estimator's boundary noise can't excuse a miss)."""
    from bloom_filters_spark.sources.pages import pages_table, truth_pairs

    n = 20_000
    docs = pages_table(spark, n, seed=11).select("doc_id", "text")
    truth = {
        (r["id1"], r["id2"])
        for r in truth_pairs(spark, n, seed=11).filter(
            F.col("jaccard") >= 0.9
        ).collect()
    }
    assert len(truth) > 100  # the corpus really plants high-J pairs
    _, stages = near_dup_pipeline(
        docs, NearDupConfig(threshold=0.8), return_stages=True
    )
    got = {(r["id1"], r["id2"]) for r in stages["pairs"].collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.99, f"recall {recall}, missed {sorted(truth - got)[:5]}"


def test_boilerplate_pruning(spark):
    """Docs that only share a high-doc-frequency boilerplate block must
    stop pairing once CMS frequent-shingle pruning is on; genuinely
    duplicated content must still pair."""
    boiler = " ".join(f"nav{j}" for j in range(40))
    docs = [
        (i, boiler + " " + " ".join(f"u{i}w{j * 7 + i}" for j in range(8)))
        for i in range(40)
    ]
    # one real near-dup pair with distinct content
    real = " ".join(f"core{j}" for j in range(30))
    docs += [(100, boiler + " " + real), (101, boiler + " " + real)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # without pruning the shared boilerplate dominates every signature
    cfg_off = NearDupConfig(threshold=0.7)
    _, st_off = near_dup_pipeline(df, cfg_off, return_stages=True)
    off_pairs = {(r["id1"], r["id2"]) for r in st_off["pairs"].collect()}
    assert len(off_pairs) > 1  # boilerplate-only false pairs exist

    cfg_on = NearDupConfig(threshold=0.7, boilerplate_max_df=0.5)
    _, st_on = near_dup_pipeline(df, cfg_on, return_stages=True)
    on_pairs = {(r["id1"], r["id2"]) for r in st_on["pairs"].collect()}
    assert on_pairs == {(100, 101)}, on_pairs


def test_hot_shingle_detection_exact_across_partitions(spark):
    """Regression: a shingle whose per-partition counts all sit BELOW
    the pigeonhole local cap must still be detected with its EXACT
    global document frequency (the one-pass variant summed only
    locally-hot contributions and undercounted)."""
    from bloom_filters_spark.operators.arrow_sig import detect_hot_shingles

    hot = "omnipresent header tokens"  # one 3-shingle, df = 60
    docs = [(i, hot + f" u{i}a u{i}b u{i}c u{i}d") for i in range(60)]
    docs += [(100 + i, f"z{i}p z{i}q z{i}r z{i}s z{i}t") for i in range(40)]
    # 30 partitions → the hot shingle appears ~2x per partition, while
    # cap = 0.5*100 = 50 gives local_cap = 50//30 = 1: local counts sit
    # right at/above the candidate bar but far below the global cap
    df = spark.createDataFrame(
        docs, "doc_id long, text string"
    ).repartition(30)
    got = detect_hot_shingles(df, n_docs=100, max_doc_freq=0.5)
    from bloom_filters_spark.operators.arrow_sig import arrow_shingle_set_py

    want = arrow_shingle_set_py(hot)
    assert set(want.tolist()) <= set(got.tolist())
    # and nothing below the cap sneaks in: unique-content shingles df=1
    assert len(got) == len(want)


def test_exact_prededup_preserves_clusters(spark):
    """HLL-gated exact pre-dedup must give the same cluster assignment
    as the base pipeline: exact copies collapse to a representative
    before LSH and re-expand afterwards."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = [
        (0, base), (1, base), (2, base),                # exact triplet
        (3, base + " extra token here appended now"),   # near-dup of them
        (4, "completely unrelated content words only zulu yankee xray"),
        (5, ""),
        (6, "   "),                                     # empty-normalized
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cfg_off = NearDupConfig(threshold=0.5, exact_prededup="off")
    cfg_on = NearDupConfig(threshold=0.5, exact_prededup="on")
    got_off = {r["doc_id"]: r["cluster_id"]
               for r in near_dup_pipeline(df, cfg_off).collect()}
    got_on = {r["doc_id"]: r["cluster_id"]
              for r in near_dup_pipeline(df, cfg_on).collect()}
    assert got_on == got_off
    assert got_on[0] == got_on[1] == got_on[2] == 0
    # empty docs remain singletons under both paths
    assert got_on[5] == 5 and got_on[6] == 6


def test_hot_band_star_fallback(spark):
    """An oversized band group (boilerplate) must still link its docs via
    star pairs, without emitting O(n^2) pairs."""
    boiler = " ".join(f"b{j}" for j in range(30))
    docs = [(i, boiler) for i in range(100)]  # 100 identical docs
    docs += [(200 + i, f"unique doc {i} with words {i*7} {i*13} {i*17} filler") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cfg = NearDupConfig(threshold=0.8, max_band_group=10)
    clusters, stages = near_dup_pipeline(df, cfg, return_stages=True)
    n_pairs = stages["candidates"].count()
    assert n_pairs <= 200, n_pairs  # star linking, not 100*99/2
    got = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert all(got[i] == 0 for i in range(100))
    assert all(got[200 + i] == 200 + i for i in range(5))


def test_band_hash_bits_32_same_clusters(spark, documents_texts):
    """band_hash_bits=32 folds the band hash; merged groups only add
    verify work, so cluster output must be identical to the 64-bit
    width (and the band table's hash column becomes int)."""
    texts = documents_texts
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    c64 = NearDupConfig(threshold=0.7, band_hash_bits=64)
    c32 = NearDupConfig(threshold=0.7, band_hash_bits=32)
    out64 = {r["doc_id"]: r["cluster_id"]
             for r in near_dup_pipeline(df, c64).collect()}
    out32 = {r["doc_id"]: r["cluster_id"]
             for r in near_dup_pipeline(df, c32).collect()}
    assert out64 == out32

    from bloom_filters_spark.operators.arrow_sig import fused_band_rows
    bands32 = fused_band_rows(df, c32.factory(), c32.bands,
                              c32.rows_per_band, hash_bits=32)
    assert dict(bands32.dtypes)["band_hash"] == "int"
    with pytest.raises(ValueError):
        NearDupConfig(band_hash_bits=16)


def test_near_dup_against_increment(spark):
    """Incremental dedup: new docs pair only against the corpus, the
    corpus is never re-paired against itself, and a pre-computed band
    table short-circuits corpus banding with identical results."""
    from bloom_filters_spark.operators.arrow_sig import fused_band_rows
    from bloom_filters_spark.pipeline import (
        NearDupConfig,
        near_dup_against,
    )

    base = " ".join(f"tok{i}" for i in range(30))
    near = " ".join(f"tok{i}" for i in range(29)) + " tokX"
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, "completely different words entirely here today"),
            # near-dups INSIDE the corpus must NOT be emitted
            (3, base + " extra"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, near), (11, "unrelated fresh content nothing shared")],
        "doc_id long, text string",
    )
    cfg = NearDupConfig(threshold=0.7, num_hashes=128, bands=64,
                        verify="exact")
    got = {
        (r["id1"], r["id2"])
        for r in near_dup_against(new, corpus, cfg).collect()
    }
    assert (10, 1) in got and (10, 3) in got
    assert all(i1 == 10 for i1, _ in got)     # only new-side ids on id1
    assert (1, 3) not in got and (3, 1) not in got

    bands = fused_band_rows(
        corpus, cfg.factory(), cfg.bands, cfg.rows_per_band,
        cfg.shingle_size, cfg.max_value, "doc_id", "text",
    )
    got2 = {
        (r["id1"], r["id2"])
        for r in near_dup_against(
            new, corpus, cfg, corpus_bands=bands
        ).collect()
    }
    assert got2 == got


def _executed_nodes(df):
    """(node name, description) of every node in ``df``'s executed
    physical plan: AQE's current plan, through its query stages and into
    the cached plan when ``df`` was persisted."""
    nodes = []

    def walk(p):
        name = p.nodeName()
        nodes.append((name, p.simpleString(100)))
        if name == "AdaptiveSparkPlan":
            kids = [p.executedPlan()]
        elif name.endswith("QueryStage"):
            kids = [p.plan()]
        elif name == "InMemoryTableScan":
            kids = [p.relation().cachedPlan()]
        else:
            ch = p.children()
            kids = [ch.apply(i) for i in range(ch.size())]
        for k in kids:
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return nodes


def test_near_dup_against_signs_participants_once(spark):
    """Both verify joins read one exchange of the participant
    signatures (a broadcast, or a shuffle where AQE keeps a sort-merge
    join): the signature kernel appears once in the executed plan and
    the second join reuses the side's exchange."""
    from bloom_filters_spark.pipeline import near_dup_against

    base = " ".join(f"tok{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different words entirely here today"),
         (3, base + " extra")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, " ".join(f"tok{i}" for i in range(29)) + " tokX")],
        "doc_id long, text string",
    )
    for verify in ("estimate", "exact"):
        cfg = NearDupConfig(threshold=0.7, num_hashes=128, bands=64,
                            verify=verify)
        out = near_dup_against(new, corpus, cfg)
        assert {(r["id1"], r["id2"]) for r in out.collect()} == {
            (10, 1), (10, 3)
        }
        nodes = _executed_nodes(out)
        sig_kernels = [d for n, d in nodes
                       if n == "MapInArrow" and "signature" in d]
        assert len(sig_kernels) == 1, sig_kernels
        # the side's columns, not the participant-id broadcast's
        # (column pruning drops the signature in exact mode)
        assert any(
            n == "ReusedExchange" and ("signature" in d or "shingles" in d)
            for n, d in nodes
        )


def test_pipeline_clusters_independent_of_input_partitioning(
    spark, documents_texts
):
    """One input partition and seven give the same clusters, and the
    one-partition input still runs the band kernel on every task slot."""
    cfg = NearDupConfig(threshold=0.7)
    df = spark.createDataFrame(
        list(documents_texts.items()), "doc_id long, text string"
    )
    one = df.coalesce(1)

    def labels(clusters):
        return {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}

    clusters, stages = near_dup_pipeline(one, cfg, return_stages=True)
    got = labels(clusters)
    assert got == labels(near_dup_pipeline(df.repartition(7), cfg))
    assert len(set(got.values())) < len(got)     # some cluster merged

    sc = spark.sparkContext
    group = "test-band-kernel-spread"
    sc.setJobGroup(group, group)
    try:
        stages["bands"].write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert max(tasks) >= sc.defaultParallelism, tasks


def test_incremental_boilerplate_pruning_consistent(spark):
    """cfg.boilerplate_max_df on the incremental path: hot shingles are
    detected on the corpus and applied to BOTH sides, so a corpus doc
    and its near-copy increment still pair despite shared boilerplate;
    a checkpointed band table without the hot set refuses to run."""
    import numpy as np

    from bloom_filters_spark.pipeline import (
        NearDupConfig,
        incremental_candidates,
        near_dup_against,
    )
    from bloom_filters_spark.sources.pages import (
        PAGES_SCHEMA,
        generate_pages_pdf,
    )

    boiler = "accept cookies subscribe newsletter follow us " * 2
    corpus_pdf = generate_pages_pdf(np.arange(0, 200, 2), seed=3)
    corpus_pdf["text"] = boiler + corpus_pdf["text"]
    inc_pdf = generate_pages_pdf(np.arange(1, 201, 2), seed=3)
    inc_pdf["text"] = boiler + inc_pdf["text"]
    corpus = spark.createDataFrame(corpus_pdf, PAGES_SCHEMA).select(
        "doc_id", "text"
    )
    inc = spark.createDataFrame(inc_pdf, PAGES_SCHEMA).select(
        "doc_id", "text"
    )
    cfg = NearDupConfig(threshold=0.8, boilerplate_max_df=0.5)
    got = {
        (r["id1"], r["id2"])
        for r in near_dup_against(inc, corpus, cfg).collect()
    }
    assert len(got) > 0
    for id1, id2 in got:
        assert abs(id1 - id2) == 1  # only planted (2k, 2k+1) pairs

    # precomputed corpus bands + boilerplate_max_df but no hot set: loud
    from bloom_filters_spark.operators.arrow_sig import fused_band_rows

    bands = fused_band_rows(
        corpus, cfg.factory(), cfg.bands, cfg.rows_per_band,
        cfg.shingle_size, cfg.max_value,
    )
    with pytest.raises(ValueError, match="hot_shingles"):
        incremental_candidates(inc, None, cfg, corpus_bands=bands)


def test_incremental_band_width_mismatch_raises(spark):
    """A checkpointed 64-bit band table joined by a 32-bit increment
    config would silently match nothing — must raise instead."""
    import numpy as np

    from bloom_filters_spark.pipeline import (
        NearDupConfig,
        incremental_candidates,
    )
    from bloom_filters_spark.operators.arrow_sig import fused_band_rows
    from bloom_filters_spark.sources.pages import (
        PAGES_SCHEMA,
        generate_pages_pdf,
    )

    docs = spark.createDataFrame(
        generate_pages_pdf(np.arange(40), seed=5), PAGES_SCHEMA
    ).select("doc_id", "text")
    cfg64 = NearDupConfig(band_hash_bits=64)
    bands64 = fused_band_rows(
        docs, cfg64.factory(), cfg64.bands, cfg64.rows_per_band,
        cfg64.shingle_size, cfg64.max_value, hash_bits=64,
    )
    with pytest.raises(ValueError, match="band_hash"):
        incremental_candidates(
            docs, None, NearDupConfig(band_hash_bits=32),
            corpus_bands=bands64,
        )
