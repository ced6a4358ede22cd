"""Operator-level tests for the similarity / membership additions."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_mutual_nn_pairs_planted(spark):
    """Two planted tight pairs + noise vectors → exactly those pairs."""
    from bloom_filters_spark.operators.similarity import mutual_nn_pairs

    rng = np.random.default_rng(3)
    base1 = rng.standard_normal(16)
    base2 = rng.standard_normal(16)
    rows = [
        (0, (base1 + 0.01 * rng.standard_normal(16)).tolist()),
        (1, (base1 + 0.01 * rng.standard_normal(16)).tolist()),
        (2, (base2 + 0.01 * rng.standard_normal(16)).tolist()),
        (3, (base2 + 0.01 * rng.standard_normal(16)).tolist()),
    ] + [(10 + i, rng.standard_normal(16).tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["id1"], r["id2"]) for r in mutual_nn_pairs(df).collect()}
    assert {(0, 1), (2, 3)} <= got
    # planted pairs are cosine ~1.0; random 16-dim vectors essentially
    # never mutually rank each other first AND beat the planted pairs
    assert all(a < b for a, b in got)


def test_mutual_nn_block_matches_driver_oracle(spark):
    """The distributed block-matmul path must equal the collect-based
    oracle exactly, including across-block ties, at several block sizes
    (block_size < n forces multi-tile reduction)."""
    from bloom_filters_spark.operators.similarity import mutual_nn_pairs

    rng = np.random.default_rng(9)
    rows = [(i, rng.standard_normal(12).tolist()) for i in range(150)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = {(r["id1"], r["id2"])
            for r in mutual_nn_pairs(df, impl="driver").collect()}
    for bs in (32, 64, 1024):
        got = {(r["id1"], r["id2"])
               for r in mutual_nn_pairs(df, block_size=bs).collect()}
        assert got == want, bs


def test_xor_filter_column_no_false_negatives(spark):
    from bloom_filters_spark.operators.sketch_agg import build_xor, xor_filter_column

    members = spark.createDataFrame(
        [(i,) for i in range(200)], "k long"
    )
    probe = spark.createDataFrame(
        [(i,) for i in range(400)], "k long"
    )
    xf = build_xor(members, "k", bits_per_fingerprint=16)
    kept = {r["k"] for r in xor_filter_column(probe, "k", xf).collect()}
    # all true members retained (xor filters have no false negatives)
    assert set(range(200)) <= kept
    # 16-bit fingerprints: expect ~200 * 2^-16 false positives ≈ 0
    assert len(kept - set(range(200))) <= 3


def test_set_reconcile_matches_except(spark):
    a = spark.createDataFrame([(i,) for i in range(10)], "k long")
    b = spark.createDataFrame([(i,) for i in range(5, 15)], "k long")
    gone = a.join(b, "k", "left_anti")
    new = b.join(a, "k", "left_anti")
    assert {r["k"] for r in gone.collect()} == set(range(5))
    assert {r["k"] for r in new.collect()} == set(range(10, 15))


def test_string_shingle_udf_equals_jvm_hof_chain(spark):
    """The Arrow-batched string-shingle UDF must equal
    array_distinct(shingle_strings_expr(tokens_expr(text), w)) —
    the interpreted JVM chain it replaced on the oracle-query hot
    paths — on messy inputs: empty, whitespace-only, single-token,
    repeated-shingle, tab/newline-separated, mixed-case, and random."""
    import random

    from bloom_filters_spark.operators.shingles import (
        shingle_strings_expr,
        string_shingle_sets_udf,
        tokens_expr,
    )

    rng = random.Random(17)
    vocab = ["Alpha", "beta", "GAMMA", "d", "Ee", "ff-1", "x,y", "Z9"]
    texts = ["", "   ", "\t\n ", "one", "one two", "a a a a a a",
             "tab\tsep\nnewline  double  space "]
    texts += [
        " ".join(rng.choices(vocab, k=rng.randrange(1, 25)))
        for _ in range(40)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    for w in (2, 3, 8):
        jvm = F.array_distinct(
            shingle_strings_expr(tokens_expr(F.col("text")), w)
        )
        got = df.select(
            "id",
            string_shingle_sets_udf(w)(F.col("text")).alias("u"),
            jvm.alias("j"),
        ).collect()
        for r in got:
            if texts[r["id"]].split():
                assert r["u"] == r["j"], (w, texts[r["id"]], r["u"], r["j"])
            else:
                # zero-token docs: the JVM chain's greatest(n-w+1, 1)
                # yields one EMPTY shingle ['']; the UDF returns [] —
                # deliberate (matches the SQL oracles' len(t) > 0 gate;
                # both are dropped by the size > 0 filters downstream)
                assert r["u"] == [] and r["j"] == [""]
        # strict variant: short docs emit nothing, others unchanged
        strict = df.select(
            "id",
            string_shingle_sets_udf(w, strict=True)(F.col("text")).alias("s"),
        ).collect()
        for r, g in zip(strict, got):
            n_toks = len(texts[r["id"]].split())
            if n_toks < w:
                assert r["s"] == []
            else:
                assert r["s"] == g["j"]


def test_driver_build_max_keys_guard(spark):
    """The driver-bound sequential builders (XOR/Cuckoo/Scalable and the
    counting-bloom retraction) must abort with a clear error — not OOM
    silently — when the distinct cardinality exceeds max_keys."""
    from bloom_filters_spark.operators.sketch_agg import (
        build_counting_bloom,
        build_cuckoo,
        build_scalable_bloom,
        build_xor,
        counting_bloom_remove,
    )

    df = spark.createDataFrame([(i,) for i in range(50)], "k long")
    for fn in (build_xor, build_cuckoo, build_scalable_bloom):
        with pytest.raises(ValueError, match="max_keys"):
            fn(df, "k", max_keys=10)
    cbf = build_counting_bloom(df, "k", capacity=100, error_rate=0.01)
    with pytest.raises(ValueError, match="max_keys"):
        counting_bloom_remove(cbf, df, "k", max_keys=10)
    # at or under the cap, builds succeed
    assert build_xor(df, "k", max_keys=50) is not None


def test_membership_exact_above_2_53_with_nulls(spark):
    """Build batches with nulls arrive in pandas as float64; a direct
    int64 cast rounds values above 2^53 and produced false negatives in
    the no-FN membership contract.  The hi/lo split transport must keep
    bigint keys exact on both build and probe sides regardless of null
    layout."""
    from bloom_filters_spark.operators.sketch_agg import (
        bloom_filter_column,
        build_bloom,
        build_counting_bloom,
        build_partitioned_bloom,
        counting_bloom_filter_column,
        partitioned_bloom_filter_column,
    )

    # keys straddling 2^53 (float64-lossy territory) plus negatives
    big = [2**53 + 1, 2**53 + 3, 2**62 + 5, -(2**61) - 7, 2**63 - 1]
    small = [1, 2, 3]
    members = big + small
    # nulls interleaved so every build batch is float64-promoted
    rows = [(v,) for v in members] + [(None,)] * 4
    build_df = spark.createDataFrame(rows, "k long").repartition(1)
    # probe side has NO nulls → would stay int64 under the old encoding
    near_misses = [v + 1 if v < 2**63 - 1 else v - 1 for v in big]
    probe_df = spark.createDataFrame(
        [(v,) for v in members + near_misses], "k long"
    )

    for build, prune in [
        (lambda d: build_bloom(d, "k", capacity=64, error_rate=1e-6),
         bloom_filter_column),
        (lambda d: build_partitioned_bloom(d, "k", capacity=64,
                                           error_rate=1e-6),
         partitioned_bloom_filter_column),
        (lambda d: build_counting_bloom(d, "k", capacity=64,
                                        error_rate=1e-6),
         counting_bloom_filter_column),
    ]:
        sk = build(build_df)
        kept = {r["k"] for r in prune(probe_df, "k", sk).collect()}
        # hard no-false-negative contract on exact values
        assert set(members) <= kept
        # at error_rate 1e-6 the +1 neighbours must not all alias in —
        # if the build had hashed ROUNDED values, v and v+1 would
        # collide and every near-miss would pass
        assert len(kept & set(near_misses)) <= 1


def test_cms_bigint_exact_above_2_53_with_nulls(spark):
    """CMS builds stringify integral keys (point queries arrive as
    strings).  A build batch holding a NULL arrives as float64, where
    2^53 + 1 is already rounded to 2^53 — the build must count the
    exact string the query side asks for, not the rounded one."""
    from bloom_filters_spark.operators.sketch_agg import build_cms

    big = [2**53 + 1, 2**62 + 5, -(2**61) - 7]
    df = spark.createDataFrame(
        [(v,) for v in big] + [(None,), (7,)], "k long"
    ).repartition(1)
    cms = build_cms(df, "k")
    for v in big + [7]:
        assert cms.count(str(v)) == 1, v
    # the float64-rounded neighbours were never inserted
    for v in (2**53, 2**62, -(2**61)):
        assert cms.count(str(v)) == 0, v


def test_simhash_arrow_matches_python_oracle(spark):
    """The production mapInArrow SimHash kernel must be bit-equal to the
    scalar first-principles oracle (simhash_py) on messy inputs —
    empty, whitespace-only, single-token, unicode, long-token docs."""
    from bloom_filters_spark.operators.dedup import simhash_py, simhash_arrow

    texts = [
        "The quick brown Fox jumps over the lazy dog",
        "  multiple   spaces\tand\nnewlines here ",
        "",
        "one",
        "two tokens",
        "Ünïcode tëxt with àccents préservés dans les octets",
        "repeated repeated repeated repeated repeated",
        "x" * 5000 + " tail",
        "   \t\n ",
    ] + [f"doc {i} body words alpha beta gamma{i} delta" for i in range(30)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash_arrow(df).collect()}
    for i, t in enumerate(texts):
        assert got[i] == simhash_py(t), (i, t[:40])


def test_simhash_dup_pairs_match_bruteforce_hamming(spark):
    """The 4-block pigeonhole join must return exactly the brute-force
    all-pairs Hamming<=3 set over the signatures."""
    import itertools

    from bloom_filters_spark.operators.dedup import (
        simhash_dup_pairs,
        simhash_arrow,
    )

    rng = np.random.default_rng(5)
    words = [f"w{j}" for j in range(60)]
    texts = []
    for i in range(40):
        base = list(rng.choice(words, size=30))
        texts.append(" ".join(base))
        mutated = list(base)
        mutated[int(rng.integers(0, 30))] = "zz"  # near-copy
        texts.append(" ".join(mutated))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sims = {r["doc_id"]: r["simhash"] & 0xFFFFFFFFFFFFFFFF
            for r in simhash_arrow(df).collect()}
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sims), 2)
        if bin(sims[a] ^ sims[b]).count("1") <= 3
    }
    got = {(r["id1"], r["id2"])
           for r in simhash_dup_pairs(df, max_hamming=3).collect()}
    assert got == want
    assert len(want) > 0  # planted near-copies actually collide


def test_ivf_planted_clusters_perfect_recall(spark):
    """Well-separated planted clusters: IVF with nprobe=1 must recover
    the exact per-query top-k — every query's neighbors live in its own
    inverted list, so probing one list loses nothing."""
    from bloom_filters_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
    )

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((4, 16)) * 10
    rows = []
    for i in range(200):
        c = i % 4
        rows.append((i, (centers[c] + 0.05 * rng.standard_normal(16)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    items = df.filter(F.col("vec_id") >= 4)
    exact = {(r["query_id"], r["vec_id"], r["rank"]) for r in
             cosine_topk(items, queries, k=5).collect()}
    ivf = {(r["query_id"], r["vec_id"], r["rank"]) for r in
           ivf_cosine_topk(items, queries, k=5, n_centroids=4, nprobe=1,
                           sample_size=196, seed=11).collect()}
    assert ivf == exact


def test_ivf_deterministic_and_sublinear_candidates(spark):
    """Same seed twice → identical rows (training sample is id-ordered,
    ties are stable); and a probed run scans only ~nprobe/n_centroids of
    the corpus (top-1 still lands in the exact top-10 on isotropic
    data — the same winnable gate the LSH ANN uses)."""
    from bloom_filters_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
    )

    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(32).tolist()) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    items = df.filter(F.col("vec_id") >= 3)
    kw = dict(k=10, n_centroids=8, nprobe=4, sample_size=397, seed=13)
    a = sorted(map(tuple, ivf_cosine_topk(items, queries, **kw).collect()))
    b = sorted(map(tuple, ivf_cosine_topk(items, queries, **kw).collect()))
    assert a == b and len(a) > 0
    exact10 = {}
    for r in cosine_topk(items, queries, k=10).collect():
        exact10.setdefault(r["query_id"], set()).add(r["vec_id"])
    top1 = {r["query_id"]: r["vec_id"] for r in
            ivf_cosine_topk(items, queries, **kw).collect()
            if r["rank"] == 1}
    assert len(top1) == 3
    for qid, vid in top1.items():
        assert vid in exact10[qid], (qid, vid)


def test_ivf_multiprobe_recall_monotone(spark):
    """Cell-boundary queries are what multi-probe exists for: queries
    planted midway BETWEEN two cluster centers straddle a Voronoi edge,
    so nprobe=1 reads only one of the two lists holding their true
    neighbors.  Recall@10 vs the exact top-10 must be non-decreasing in
    nprobe and strictly better by nprobe=4 than nprobe=1 (the MinHash
    accuracy-envelope pattern of reference tests/min-hash.test.ts:52-75
    applied to ANN recall)."""
    from bloom_filters_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
    )

    rng = np.random.default_rng(23)
    centers = rng.standard_normal((8, 16)) * 6
    rows = []
    for i in range(400):
        c = i % 8
        rows.append(
            (i, (centers[c] + 0.4 * rng.standard_normal(16)).tolist())
        )
    items = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    # boundary queries: midpoints of adjacent center pairs
    qrows = []
    for qid in range(8):
        mid = (centers[qid] + centers[(qid + 1) % 8]) / 2.0
        qrows.append((qid, (mid + 0.05 * rng.standard_normal(16)).tolist()))
    queries = spark.createDataFrame(
        qrows, "query_id long, embedding array<double>"
    )

    exact = {}
    for r in cosine_topk(items, queries, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(nprobe):
        got = {}
        for r in ivf_cosine_topk(items, queries, k=10, n_centroids=8,
                                 nprobe=nprobe, sample_size=400,
                                 seed=29).collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        hits = sum(len(got.get(q, set()) & exact[q]) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4, (r1, r2, r4)
    assert r4 > r1, (r1, r4)          # boundary queries actually gained
    assert r4 >= 0.99, r4             # probing 4/8 lists recovers ~all


def test_ivf_training_guard(spark):
    """Sample smaller than n_centroids must fail loudly, not train a
    degenerate quantizer."""
    from bloom_filters_spark.operators.similarity import train_ivf_centroids

    rows = [(i, [float(i), 1.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="n_centroids"):
        train_ivf_centroids(df, n_centroids=8, sample_size=5)


def test_tree_merge_partials_byte_equal(spark):
    """Above the fanin the sketch partials pre-merge inside executors
    (one applyInPandas level) instead of a flat driver collect; every
    routed sketch is a commutative monoid (OR / sum / max), so the tree
    result must be BYTE-identical to the sequential driver fold — and
    a build over a 2,200-partition scan must succeed with the driver
    only ever seeing <= fanin pre-merged rows."""
    from bloom_filters_spark.operators.sketch_agg import (
        _merge_partials,
        _partition_sketches,
        build_bloom,
        build_cms,
        hll_distinct,
    )
    from bloom_filters_spark.sketches import (
        BloomFilter,
        CountMinSketch,
        HyperLogLog,
    )

    df = spark.createDataFrame(
        [(f"k{i}",) for i in range(600)], "k string"
    ).repartition(130)  # > fanin=64 → tree level engages

    cases = [
        (BloomFilter, lambda: BloomFilter.create(2000, 0.01),
         lambda s, v: s.add_batch(v)),
        (CountMinSketch, lambda: CountMinSketch.create(1e-3, 0.99),
         lambda s, v: s.update_batch(v)),
        (HyperLogLog, lambda: HyperLogLog(256, 0x1234567890),
         lambda s, v: s.update_batch(v)),
    ]
    for cls, make, add in cases:
        partials = _partition_sketches(df, "k", make, add)
        tree = _merge_partials(partials, cls, fanin=64)
        partials2 = _partition_sketches(df, "k", make, add)
        seq = _merge_partials(partials2, cls, fanin=10**9)  # flat fold
        assert tree.to_bytes() == seq.to_bytes(), cls.__name__

    # the verdict-r3 fixture: a >=2048-partition bloom build end-to-end
    wide = spark.createDataFrame(
        [(i,) for i in range(3000)], "k long"
    ).repartition(2200)
    bf = build_bloom(wide, "k", capacity=4000, error_rate=0.01)
    assert all(bf.has_batch(__import__("numpy").arange(3000)))
    # CMS / HLL distributed entry points still work above the fanin
    cms = build_cms(df, "k")
    assert cms.count("k0") >= 1
    est = hll_distinct(df, "k", m=256)
    assert 400 < est < 800


def test_semantic_dedup_kmeans_matches_numpy_oracle(spark):
    """SemDeDup's default k-means path vs an independent numpy oracle:
    well-separated planted clusters (so the coarse assignment is
    unambiguous) with exact-duplicate pairs planted inside clusters and
    a near-miss pair straddling the threshold."""
    from bloom_filters_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(7)
    # geometry chosen so same-cluster non-duplicate cosine tops out
    # ~0.88 (below the 0.95 dup threshold) while assignment to the
    # nearest center stays unambiguous
    centers = rng.standard_normal((4, 24)) * 2
    rows, vecs = [], {}
    vid = 0
    for c in range(4):
        for _ in range(25):
            v = centers[c] + 1.4 * rng.standard_normal(24)
            rows.append((vid, v.tolist()))
            vecs[vid] = v
            vid += 1
    # exact duplicates of every 10th item
    planted = []
    for src in range(0, 100, 10):
        rows.append((vid, vecs[src].tolist()))
        vecs[vid] = vecs[src]
        planted.append((src, vid))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in semantic_dedup(
            df, eps=0.05, n_centroids=4, sample_size=110, seed=7
        ).collect()
    }
    assert len(out) == len(rows)

    # numpy oracle: same rule, clusters by nearest planted center
    ids = sorted(vecs)
    X = np.array([vecs[i] for i in ids])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cn = centers / np.linalg.norm(centers, axis=1, keepdims=True)
    assign = (Xn @ cn.T).argmax(axis=1)
    sims = Xn @ Xn.T
    want_keep = {}
    for a_i, a in enumerate(ids):
        dup = any(
            assign[b_i] == assign[a_i]
            and round(float(sims[a_i, b_i]), 6) >= 0.95
            for b_i, b in enumerate(ids) if b < a
        )
        want_keep[a] = not dup
    assert {i: k for i, (_, k) in out.items()} == want_keep
    # every planted duplicate dropped, its source kept
    for src, dup in planted:
        assert out[src][1] and not out[dup][1]
        assert out[src][0] == out[dup][0]  # same cluster


def test_semantic_dedup_precomputed_cluster_col(spark):
    """cluster_col path: clustering is caller-owned; only same-cluster
    duplicates are seen (a cross-cluster exact dup survives — the
    documented SemDeDup trade the coarse quantizer makes)."""
    from bloom_filters_spark.operators.similarity import semantic_dedup

    v = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (0, v, 0), (1, v, 0),          # same-cluster exact dups
        (2, v, 1),                      # exact dup but other cluster
        (3, [0.0, 1.0, 0.0, 0.0], 0),  # unrelated
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, bucket int"
    )
    got = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(df, eps=0.05, cluster_col="bucket").collect()
    }
    assert got == {0: True, 1: False, 2: True, 3: True}


def test_dsir_weights_prefer_target_like_docs(spark):
    """Documents sharing the target slice's vocabulary must outscore
    documents of pure source-only vocabulary, in both bucket-hash
    modes; n_grams = unigrams + bigrams."""
    from bloom_filters_spark.operators.dsir import dsir_importance_weights

    target_rows = [(100 + i, "alpha beta gamma delta " * 5) for i in range(8)]
    source_only = [(i, "zeta eta theta iota " * 5) for i in range(8)]
    target_like = [(50 + i, "alpha beta gamma delta " * 5) for i in range(4)]
    df = spark.createDataFrame(
        source_only + target_like + target_rows, "doc_id long, text string"
    )
    tgt = df.filter(F.col("doc_id") >= 100)
    for mode in ("xxh", "md5"):
        w = {
            r["doc_id"]: (r["n_grams"], r["log_ratio"])
            for r in dsir_importance_weights(
                df, tgt, n_buckets=256, bucket_hash=mode
            ).collect()
        }
        assert len(w) == 20
        # 20 tokens -> 20 unigrams + 19 bigrams
        assert w[0][0] == 39
        worst_target_like = min(w[50 + i][1] for i in range(4))
        best_source_only = max(w[i][1] for i in range(8))
        assert worst_target_like > best_source_only, mode


def test_dsir_weights_independent_of_parallelism(spark):
    """The per-doc weight is an exact integer sum of fixed-point bucket
    log ratios, so input and shuffle partitioning cannot change it."""
    from bloom_filters_spark.operators.dsir import dsir_importance_weights
    from bloom_filters_spark.sources.pages import (
        PAGES_SCHEMA,
        generate_pages_pdf,
    )

    docs = spark.createDataFrame(
        generate_pages_pdf(np.arange(300), seed=11), PAGES_SCHEMA
    )
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    runs = []
    try:
        for n_in, n_shuffle in ((1, 1), (7, 32)):
            spark.conf.set(key, str(n_shuffle))
            d = docs.repartition(n_in)
            w = dsir_importance_weights(
                d.select("doc_id", "text"),
                d.filter(F.col("lang") == "en").select("doc_id", "text"),
            )
            runs.append(sorted(tuple(r) for r in w.collect()))
    finally:
        spark.conf.set(key, prev)
    assert runs[0] and runs[0] == runs[1]


def test_dsir_select_topk_and_gumbel(spark):
    """topk is the deterministic ranking head; gumbel is deterministic
    for a fixed seed and still biased toward high weights."""
    from bloom_filters_spark.operators.dsir import (
        dsir_importance_weights,
        dsir_select,
    )

    rows = [(i, ("alpha beta " if i % 2 == 0 else "zeta eta ") * 10)
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tgt = df.filter(F.col("doc_id") % 2 == 0)
    w = dsir_importance_weights(df, tgt)
    top = [r["doc_id"] for r in dsir_select(w, 10).collect()]
    assert len(top) == 10 and all(d % 2 == 0 for d in top)
    g1 = sorted(r["doc_id"] for r in dsir_select(w, 10, mode="gumbel", seed=5).collect())
    g2 = sorted(r["doc_id"] for r in dsir_select(w, 10, mode="gumbel", seed=5).collect())
    assert g1 == g2  # deterministic under a fixed seed
    assert sum(1 for d in g1 if d % 2 == 0) >= 8  # weight bias survives noise


def test_containment_decontamination_planted(spark):
    """An eval doc half-copied into a train doc yields the expected
    containment fraction; unrelated docs never appear (the gram join
    is the candidate generator)."""
    import math

    from bloom_filters_spark.operators.substring import (
        containment_decontamination,
    )

    eval_words = [f"ev{i}" for i in range(16)]      # 16 tokens -> 9 8-grams
    train_copy = eval_words[:12] + [f"tr{i}" for i in range(12)]
    unrelated = [f"xx{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [(1, " ".join(train_copy)), (2, " ".join(unrelated))],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, " ".join(eval_words))], "doc_id long, text string"
    )
    out = containment_decontamination(
        docs, bench, L=8, threshold_ppm=100_000
    ).collect()
    assert len(out) == 1
    r = out[0]
    # eval doc: 9 grams; train doc contains grams of ev0..ev11 -> 5
    assert (r["doc_id"], r["eval_id"]) == (1, 100)
    assert (r["n_shared"], r["n_eval_grams"]) == (5, 9)
    assert r["containment_ppm"] == math.floor(5 * 1_000_000 / 9)


def test_tf_idf_top_terms_hand_computed(spark):
    """Three tiny docs with known counts: scores equal the hand
    formula, ranking is deterministic with term tiebreaks, and the
    shuffle-vocab path returns identical rows."""
    import math

    from bloom_filters_spark.operators.tfidf import tf_idf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry date"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["term"]): (r["tf"], r["score"], r["rank"])
        for r in tf_idf_top_terms(docs, k=2).collect()
    }

    def score(tf, df):
        return round(tf * (math.log(4.0 / (df + 1)) + 1.0), 6)

    # doc 1: apple tf=2 df=1, banana tf=1 df=2
    assert out[(1, "apple")] == (2, score(2, 1), 1)
    assert out[(1, "banana")] == (1, score(1, 2), 2)
    # doc 3: cherry tf=3 df=2 outscores date tf=1 df=1
    assert out[(3, "cherry")][2] == 1 and out[(3, "date")][2] == 2
    # doc 2: banana and cherry tie at tf=1, df=2 -> term asc breaks it
    assert out[(2, "banana")][2] == 1 and out[(2, "cherry")][2] == 2
    # shuffle-vocab path identical
    alt = {
        (r["doc_id"], r["term"]): (r["tf"], r["score"], r["rank"])
        for r in tf_idf_top_terms(docs, k=2, broadcast_vocab=False).collect()
    }
    assert alt == out


def test_pq_cosine_topk_planted_and_deterministic(spark):
    """PQ + exact rerank: planted near-copies of every query come back
    rank 1; results are identical across partitionings (the per-batch
    top-t emission is a superset of the global top-t by construction);
    codebook training guards fire."""
    from bloom_filters_spark.operators.similarity import (
        cosine_topk,
        pq_cosine_topk,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(64).tolist()) for i in range(400)]
    for q in range(4):  # ids 1000+q: near-copies of the queries
        rows.append(
            (1000 + q,
             (np.array(rows[q][1]) + 0.02 * rng.standard_normal(64)).tolist())
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    items = df.filter(F.col("vec_id") >= 4)
    kw = dict(k=10, m=8, ks=16, sample_size=400, seed=3)
    pq = pq_cosine_topk(items.repartition(4), queries, **kw).collect()
    top1 = {r["query_id"]: r["vec_id"] for r in pq if r["rank"] == 1}
    assert top1 == {q: 1000 + q for q in range(4)}
    # top-1 lands in the exact top-10 (the LSH/IVF winnable gate)
    exact10 = {}
    for r in cosine_topk(items, queries, k=10).collect():
        exact10.setdefault(r["query_id"], set()).add(r["vec_id"])
    for q, vid in top1.items():
        assert vid in exact10[q]
    # partition independence + determinism
    a = sorted(map(tuple,
                   pq_cosine_topk(items.repartition(2), queries, **kw).collect()))
    b = sorted(map(tuple,
                   pq_cosine_topk(items.repartition(7), queries, **kw).collect()))
    assert a == b == sorted(map(tuple, pq))
    # guards
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(items, m=7)
    with pytest.raises(ValueError, match="ks"):
        train_pq_codebooks(items.limit(4), m=8, ks=16, sample_size=4)


def test_topk_exact_null_frequency_ties(spark):
    """NULL values in frequency ties must still get distinct ranks
    1..k (NULLS FIRST within a tie, matching the sort order)."""
    from bloom_filters_spark.operators.sketch_agg import topk_exact

    df = spark.createDataFrame(
        [(x,) for x in [None, None, "a", "a", "b"]], "v string"
    )
    rows = sorted(topk_exact(df, "v", 3).collect(), key=lambda r: r["rank"])
    assert [(r["value"], r["frequency"], r["rank"]) for r in rows] == [
        (None, 2, 1), ("a", 2, 2), ("b", 1, 3)
    ]


def test_similarity_id_types_survive_arrow_schemas(spark):
    """The mapInArrow output schemas derive the id field type from the
    input (they used to hardcode bigint): int32 and string ids must
    work end-to-end in semantic_dedup, pq_cosine_topk, and the
    LSH/IVF bucketing, with results equal to the bigint run modulo the
    id mapping."""
    from bloom_filters_spark.operators.similarity import (
        ivf_cosine_topk,
        lsh_cosine_topk,
        pq_cosine_topk,
        semantic_dedup,
    )

    rng = np.random.default_rng(23)
    base = [(i, rng.standard_normal(16).tolist()) for i in range(60)]
    base.append((1000, base[5][1]))  # exact dup of id 5
    long_df = spark.createDataFrame(
        base, "vec_id long, embedding array<double>"
    )

    def remap(df, typ):
        if typ == "int":
            return df.withColumn("vec_id", F.col("vec_id").cast("int"))
        return df.withColumn(
            "vec_id", F.format_string("doc-%04d", F.col("vec_id"))
        )

    sd_long = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in semantic_dedup(
            long_df, eps=0.05, n_centroids=3, sample_size=61, seed=5
        ).collect()
    }
    assert sd_long[5][1] and not sd_long[1000][1]
    for typ, key in [("int", lambda i: i),
                     ("string", lambda i: f"doc-{i:04d}")]:
        got = {
            r["vec_id"]: (r["cluster_id"], r["keep"])
            for r in semantic_dedup(
                remap(long_df, typ), eps=0.05, n_centroids=3,
                sample_size=61, seed=5,
            ).collect()
        }
        assert got == {key(i): v for i, v in sd_long.items()}

    queries = long_df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    items = long_df.filter(F.col("vec_id") >= 3)
    kw = dict(k=5, m=8, ks=8, sample_size=58, seed=3)
    pq_long = sorted(
        (r["query_id"], r["vec_id"], r["rank"])
        for r in pq_cosine_topk(items, queries, **kw).collect()
    )
    assert pq_long
    for typ, key in [("int", lambda i: i),
                     ("string", lambda i: f"doc-{i:04d}")]:
        it = remap(items, typ)
        qt = remap(
            queries.withColumnRenamed("query_id", "vec_id"), typ
        ).withColumnRenamed("vec_id", "query_id")
        got = sorted(
            (r["query_id"], r["vec_id"], r["rank"])
            for r in pq_cosine_topk(it, qt, **kw).collect()
        )
        # string ordering differs from numeric ordering only in the
        # tie-break; these vectors have no score ties, so ranks map 1:1
        assert got == sorted((key(q), key(v), rk) for q, v, rk in pq_long)
        # LSH and IVF paths accept the same ids (smoke: runs + nonempty)
        assert lsh_cosine_topk(
            it, qt, k=3, n_tables=4, n_planes=8, dim=16, seed=7
        ).count() > 0
        assert ivf_cosine_topk(
            it, qt, k=3, n_centroids=3, nprobe=3, sample_size=61, seed=7
        ).count() > 0


def test_semantic_dedup_mega_cluster_salted_split(spark):
    """Planted mega-cluster: one cluster holds ~90% of items.  The
    two-sided salted quadratic split must (a) return EXACTLY the plain
    join's answer, and (b) keep every (cluster, i, j) join cell near
    max_cluster_block rows per side (binomial around c/p) — no task
    ever sees the mega-cluster's full c^2 pair set."""
    import math

    from bloom_filters_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(17)
    rows = []
    # mega-cluster (bucket 0): 180 items + planted exact dups
    for i in range(180):
        rows.append((i, rng.standard_normal(12).tolist(), 0))
    for src in range(0, 40, 8):
        rows.append((1000 + src, rows[src][1], 0))
    # small cluster (bucket 1): 20 items + one dup
    for i in range(2000, 2020):
        rows.append((i, rng.standard_normal(12).tolist(), 1))
    rows.append((3000, rows[-1][1], 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, bucket int"
    ).repartition(5)

    plain = sorted(
        map(tuple,
            semantic_dedup(df, eps=0.05, cluster_col="bucket",
                           max_cluster_block=10_000_000).collect())
    )
    block = 32
    capped = sorted(
        map(tuple,
            semantic_dedup(df, eps=0.05, cluster_col="bucket",
                           max_cluster_block=block).collect())
    )
    assert capped == plain
    assert any(not keep for _, _, keep in plain)  # dups actually drop

    # bounded-cell proof: recompute the salt assignment and assert no
    # (cluster, i, j) cell exceeds block rows on either side
    from collections import Counter
    sizes = Counter(b for _, _, b in rows)
    salted = df.select(
        "vec_id", "bucket",
        F.pmod(F.xxhash64(F.col("vec_id")),
               F.lit(math.ceil(sizes[0] / block))).alias("_h0"),
    ).collect()
    per_block = Counter((r["bucket"], r["_h0"]) for r in salted
                        if r["bucket"] == 0)
    p = math.ceil(sizes[0] / block)
    assert p > 1  # the fixture genuinely engaged the split
    # binomial around c/p: comfortably under 2x the target and far
    # below the unsplit cluster size
    assert max(per_block.values()) <= 2 * block < sizes[0]
