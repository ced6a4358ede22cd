"""Unit tests for URL canonicalization and repetition metrics against
small pure-Python oracles."""

import math
import re

import pytest
from pyspark.sql import functions as F

from bloom_filters_spark.functions.text import (
    dup_word_frac_expr,
    repetition_stats,
    top_ngram_char_frac_expr,
)
from bloom_filters_spark.functions.url import canonicalize_url_expr


def _canon_py(url: str) -> str:
    url = re.sub(r"[\x00-\x1f\x7f]", "", url)
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://", url)
    if not m:
        return re.sub(r"#.*$", "", url)
    scheme = m.group(1).lower()
    host = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", url).group(1).lower()
    host = re.sub(r"^[^@]*@", "", host)
    host = re.sub(r"^www\.", "", host)
    if scheme == "http":
        host = re.sub(r":80$", "", host)
    elif scheme == "https":
        host = re.sub(r":443$", "", host)
    rest = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", url).group(1)
    path = re.match(r"^([^?]*)", rest).group(1)
    query = re.sub(r"^[^?]*\?", "", rest) if "?" in rest else ""
    query = re.sub(
        r"([?&])(utm_[A-Za-z0-9_]+|gclid|fbclid|ref)=[^&#]*", "", "&" + query
    )
    query = re.sub(r"&&+", "&", query)
    query = re.sub(r"^&+", "", query)
    query = re.sub(r"&+$", "", query)
    if query == "":
        rest = re.sub(r"/+$", "", path)
    else:
        rest = f"{path}?{query}"
    if rest == "":
        rest = "/"
    return f"{scheme}://{host}{rest}"


URLS = [
    "HTTPS://WWW.Example.COM:443/Path/To?utm_source=x&id=5#frag",
    "http://example.com:80/",
    "http://example.com:8080/keep-port",
    "https://example.com/a/b/?utm_campaign=c&utm_medium=m",
    "https://example.com/a?id=1&gclid=abc&x=2",
    "https://example.com/a?fbclid=only",
    "https://sub.www-like.com/x//",
    "https://example.com",
    "ftp://Example.com:443/File",
    "not a url #fragment",
    "https://example.com/a?ref=feed&utm_a=1&utm_b=2",
    "http://user:pw@Example.com/secret",        # userinfo stripped
    "http://h.com/a&ref=b",                     # '&' in PATH: not tracking
    "https://h.com/a&ref=b?utm_x=1",            # path '&' kept, query cleaned
    "https://h.com/a/\x01?x=\x02\x7f1",           # control chars stripped
]


def test_canonicalize_url_matches_python_oracle(spark):
    df = spark.createDataFrame([(u,) for u in URLS], "url string")
    got = [r["c"] for r in
           df.select(canonicalize_url_expr(F.col("url")).alias("c")).collect()]
    assert got == [_canon_py(u) for u in URLS]


def test_canonicalize_url_specific_cases(spark):
    df = spark.createDataFrame([(u,) for u in URLS], "url string")
    got = {u: r["c"] for u, r in zip(URLS, df.select(
        canonicalize_url_expr(F.col("url")).alias("c")).collect())}
    assert got[URLS[0]] == "https://example.com/Path/To?id=5"
    assert got["http://example.com:80/"] == "http://example.com/"
    assert got["http://example.com:8080/keep-port"] == \
        "http://example.com:8080/keep-port"
    assert got["https://example.com/a?fbclid=only"] == "https://example.com/a"
    assert got["https://example.com"] == "https://example.com/"
    assert got["ftp://Example.com:443/File"] == "ftp://example.com:443/File"
    assert got["not a url #fragment"] == "not a url "
    assert got["https://example.com/a?ref=feed&utm_a=1&utm_b=2"] == \
        "https://example.com/a"
    # userinfo never reaches the canonical key (or the blocklist)
    assert got["http://user:pw@Example.com/secret"] == \
        "http://example.com/secret"
    # '&' is a legal PATH character: '/a&ref=b' is not a tracking param
    assert got["http://h.com/a&ref=b"] == "http://h.com/a&ref=b"
    assert got["https://h.com/a&ref=b?utm_x=1"] == "https://h.com/a&ref=b"


def test_canonicalize_url_strips_control_chars(spark):
    """Control characters would collide with the chain's \\x01/\\x02
    sentinels: a URL carrying them keys like the URL without them."""
    pairs = [
        ("https://example.com/a\x01?id=1", "https://example.com/a?id=1"),
        ("https://example.com/a/\x01", "https://example.com/a/"),
        ("\x02HTTPS://Example.com/x\x7f", "HTTPS://Example.com/x"),
        ("https://ex\x00ample.com/p?utm_source=\x01x&k=2\x1f",
         "https://example.com/p?utm_source=x&k=2"),
        ("not a url\x01 #frag", "not a url #frag"),
    ]
    df = spark.createDataFrame(pairs, "dirty string, clean string")
    got = df.select(
        canonicalize_url_expr(F.col("dirty")).alias("d"),
        canonicalize_url_expr(F.col("clean")).alias("c"),
    ).collect()
    for (dirty, _), r in zip(pairs, got):
        assert r["d"] == r["c"], (dirty, r["d"], r["c"])
    assert got[1]["d"] == "https://example.com/a"


def _rep_py(text: str, n: int):
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    if len(toks) < n:
        return 0
    grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
    best = max(grams.count(g) * len(g) for g in grams)
    total = len(" ".join(toks))
    return math.floor(best / (total if total else 1) * 1000000.0)


TEXTS = [
    "a b a b a b c d the end the end",
    "unique words only here now",
    "x",
    "",
    "spam spam spam spam spam",
]


@pytest.mark.parametrize("n", [2, 3])
def test_top_ngram_frac_matches_python(spark, n):
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    got = [r["v"] for r in df.select(
        top_ngram_char_frac_expr(F.col("text"), n, ppm=True).alias("v")
    ).collect()]
    assert got == [_rep_py(t, n) for t in TEXTS]


def test_repetition_stats_matches_expr_form(spark):
    """The scalable explode→hash-agg form must be bit-identical to the
    quadratic expression form (same IEEE ops, same floor·10⁶)."""
    df = spark.createDataFrame(list(enumerate(TEXTS)), "doc_id long, text string")
    got = {r["doc_id"]: (r["dup_word_ppm"], r["top2gram_ppm"], r["top3gram_ppm"])
           for r in repetition_stats(df).collect()}
    want = {r["doc_id"]: (r["d"], r["g2"], r["g3"]) for r in df.select(
        "doc_id",
        dup_word_frac_expr(F.col("text"), ppm=True).alias("d"),
        top_ngram_char_frac_expr(F.col("text"), 2, ppm=True).alias("g2"),
        top_ngram_char_frac_expr(F.col("text"), 3, ppm=True).alias("g3"),
    ).collect()}
    assert got == want


def test_dup_word_frac(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    got = [r["v"] for r in df.select(
        dup_word_frac_expr(F.col("text"), ppm=True).alias("v")).collect()]

    def oracle(t):
        toks = [x for x in re.split(r"\s+", t.lower()) if x]
        if not toks:
            return 0
        return math.floor((1.0 - len(set(toks)) / len(toks)) * 1000000.0)

    assert got == [oracle(t) for t in TEXTS]


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

def test_pii_scrub_each_class(spark):
    from bloom_filters_spark.functions.text import (
        pii_count_exprs,
        pii_scrub_expr,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, "mail first.last+tag@sub.example.co.uk ok"),
        (2, "server at 192.168.001.5, port open"),
        (3, "call +44 7911 123456 or +1-555-0042 now"),
        (4, "no pii here, just 1.5 and version 10.2"),
        (5, "a@b.io at 8.8.8.8 tel +33-123-456"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    counts = pii_count_exprs(F.col("t"))
    got = {
        r["id"]: (r["s"], r["e"], r["i"], r["p"])
        for r in df.select(
            "id",
            pii_scrub_expr(F.col("t")).alias("s"),
            counts["n_emails"].alias("e"),
            counts["n_ips"].alias("i"),
            counts["n_phones"].alias("p"),
        ).collect()
    }
    assert got[1] == ("mail <EMAIL> ok", 1, 0, 0)
    assert got[2] == ("server at <IP>, port open", 0, 1, 0)
    assert got[3] == ("call <PHONE> or <PHONE> now", 0, 0, 2)
    # decimals / short dotted versions must NOT be redacted
    assert got[4] == ("no pii here, just 1.5 and version 10.2", 0, 0, 0)
    assert got[5] == ("<EMAIL> at <IP> tel <PHONE>", 1, 1, 1)


def test_pii_phone_four_group_numbers_fully_redacted(spark):
    """4-group international formats must be redacted IN FULL — the
    old cc+3+4 shape matched only a prefix, leaving '<PHONE>-4567'."""
    from bloom_filters_spark.functions.text import pii_scrub_expr
    from pyspark.sql import functions as F

    rows = [
        (1, "us +1-555-123-4567 end"),
        (2, "uk +44 20 7946 0958 end"),
        (3, "solid +14155551234 end"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r["id"]: r["s"] for r in
           df.select("id", pii_scrub_expr(F.col("t")).alias("s")).collect()}
    assert got[1] == "us <PHONE> end"
    assert got[2] == "uk <PHONE> end"
    assert got[3] == "solid <PHONE> end"


def test_pii_patterns_match_duckdb_re2(spark):
    """The oracle contract: Java regex and RE2 must agree on these
    patterns for replace-all and match counts."""
    import duckdb
    from pyspark.sql import functions as F

    from bloom_filters_spark.functions.text import (
        PII_EMAIL_PATTERN,
        PII_IPV4_PATTERN,
        PII_PHONE_PATTERN,
        pii_scrub_expr,
    )

    texts = [
        "x user.name%x+y@a-b.c-d.org y",
        "edge 1.2.3.4. and 255.255.255.255end",
        "+1 5550042 vs +123-4567-890123 vs +12",
        "a@b@c.com double-at",
        "10.0.0.1a not-an-ip-boundary",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, t string")
    spark_out = {
        r["id"]: r["s"]
        for r in df.select(
            "id", pii_scrub_expr(F.col("t")).alias("s")
        ).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        (duck,) = con.execute(
            "SELECT regexp_replace(regexp_replace(regexp_replace("
            "?, ?, '<EMAIL>', 'g'), ?, '<IP>', 'g'), ?, '<PHONE>', 'g')",
            [t, PII_EMAIL_PATTERN, PII_IPV4_PATTERN, PII_PHONE_PATTERN],
        ).fetchone()
        assert spark_out[i] == duck, (t, spark_out[i], duck)


def _gopher_py(text, max_dup_ppm=300_000):
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    n = len(toks)
    chars = sum(len(t) for t in toks)
    mean_ppm = math.floor((chars / n) * 1e6) if n else 0
    n_chars = len(text)
    n_punct = len(re.sub(r"[\w\s]", "", text))
    punct_ppm = math.floor((n_punct / (n_chars if n_chars else 1)) * 1e6)
    sw = {"the", "of", "and", "to", "in", "is", "it", "that", "for", "was"}
    n_sw = sum(t in sw for t in toks)
    dup_ppm = math.floor((1.0 - len(set(toks)) / n) * 1e6) if n else 0
    f = {
        "ok_n_tokens": 15 <= n <= 100_000,
        "ok_mean_word_len": 3_000_000 <= mean_ppm <= 10_000_000,
        "ok_punct": punct_ppm <= 100_000,
        "ok_stopwords": n_sw >= 2,
        "ok_dup_words": dup_ppm <= max_dup_ppm,
    }
    f["keep"] = all(f.values())
    return f


def test_gopher_flags_match_python(spark):
    from bloom_filters_spark.functions.text import (
        STOPWORDS,
        gopher_flags_exprs,
    )

    assert set(_gopher_py("", 0)) == {
        "ok_n_tokens", "ok_mean_word_len", "ok_punct", "ok_stopwords",
        "ok_dup_words", "keep",
    }
    # oracle stop set must mirror the library's (guards test rot)
    assert set(STOPWORDS["en"]) == {
        "the", "of", "and", "to", "in", "is", "it", "that", "for", "was",
    }
    texts = [
        "",                                   # empty: every count gate fails
        "short doc",                          # under min_tokens
        "the cat sat on the mat " * 5,        # repetitive but stopworded
        " ".join(f"unique{i} word{i}" for i in range(10)) + " the was of",
        "supercalifragilistic " * 20,         # mean word len too high
        "a b c d e f g h i j k l m n o p q",  # mean word len too low
        "!!! ??? ### " * 10,                  # symbol-heavy
        ("the quick brown fox jumps over a lazy dog near the old barn "
         "while it rains and the wind blows hard for hours today"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    flags = gopher_flags_exprs(F.col("text"))
    got = {
        r["doc_id"]: {k: r[k] for k in _gopher_py("")}
        for r in df.select(
            "doc_id", *[c.alias(k) for k, c in flags.items()]
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _gopher_py(t), f"doc {i}: {t[:40]!r}"
    # at least one text passes everything and several fail per-rule
    assert any(v["keep"] for v in got.values())
    assert sum(not v["ok_dup_words"] for v in got.values()) >= 1
    assert sum(not v["ok_mean_word_len"] for v in got.values()) >= 2
    with pytest.raises(ValueError, match="unknown gopher"):
        gopher_flags_exprs(F.col("text"), max_typo_rate=1)
    # threshold override changes the verdict
    relaxed = gopher_flags_exprs(F.col("text"), max_dup_word_ppm=999_999)
    r = {
        row["doc_id"]: row["ok_dup_words"]
        for row in df.select(
            "doc_id", relaxed["ok_dup_words"].alias("ok_dup_words")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert r[i] == _gopher_py(t, 999_999)["ok_dup_words"]


def test_rare_trigram_stats_matches_python(spark):
    from collections import Counter

    from bloom_filters_spark.functions.text import rare_trigram_stats

    texts = [
        "the cat sat on the mat",
        "the cat sat on the hat",
        "the cat sat on the rat",
        "qzx vbk jqw pfm zzq xqv",   # gibberish: unique trigrams
        "the cat sat on the mat",    # exact repeat
        "ab",                        # too short for any trigram
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_trigrams, r.n_rare, r.rare_ppm)
        for r in rare_trigram_stats(df, min_count=3).collect()
    }

    def norm(t):
        return re.sub(r"\s+", " ", t.strip().lower())

    corpus = Counter()
    per_doc = {}
    for i, t in enumerate(texts):
        n = norm(t)
        tris = [n[j:j + 3] for j in range(len(n) - 2)] if len(n) >= 3 else []
        per_doc[i] = Counter(tris)
        corpus.update(tris)
    for i in per_doc:
        n_tri = sum(per_doc[i].values())
        n_rare = sum(c for t, c in per_doc[i].items() if corpus[t] < 3)
        ppm = math.floor((n_rare / (n_tri if n_tri else 1)) * 1e6)
        assert got[i] == (n_tri, n_rare, ppm), f"doc {i}"
    # the gibberish doc is maximally rare; identical docs score equal
    # and far lower (their shared trigrams are common, only the "mat"
    # tail trigrams are <3 across the corpus)
    assert got[3][2] == 1_000_000
    assert got[0] == got[4] and got[0][2] < 500_000
    # short/empty docs present with zeros
    assert got[5] == (0, 0, 0) and got[6] == (0, 0, 0)


def test_keep_latest_revision(spark):
    from bloom_filters_spark.operators.dedup import keep_latest_revision

    rows = [
        # three revisions of one page (messy variants canonicalize
        # together), distinct ts; winner = max ts
        (1, 100, "https://WWW.Example.com:443/a?utm_source=x"),
        (2, 300, "https://example.com/a"),
        (3, 200, "https://Example.com/a/#frag"),
        # ts tie: max id wins
        (4, 500, "https://other.org/b"),
        (5, 500, "https://other.org/b/"),
        # singleton
        (6, 1, "https://solo.net/c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, crawl_ts long, url string")
    got = {
        r.canon_url: (r.kept_id, r.kept_ts, r.n_revisions)
        for r in keep_latest_revision(df).collect()
    }
    assert got == {
        "https://example.com/a": (2, 300, 3),
        "https://other.org/b": (5, 500, 2),
        "https://solo.net/c": (6, 1, 1),
    }


def test_host_blocked_expr(spark):
    from bloom_filters_spark.functions.url import host_blocked_expr

    rows = [
        (1, "https://example.com/x"),            # exact match
        (2, "https://a.b.example.com/x"),        # subdomain match
        (3, "https://WWW.EXAMPLE.COM:443/x"),    # case/www/port stripped
        (4, "https://notexample.com/x"),         # suffix-string trap: no dot
        (5, "https://example.com.evil.io/x"),    # blocked domain NOT a suffix
        (6, "https://clean.org/x"),
        (7, "https://evil@example.com/x"),       # userinfo can't mask the host
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r.doc_id: r.blocked
        for r in df.select(
            "doc_id",
            host_blocked_expr(F.col("url"), ["example.com"]).alias("blocked"),
        ).collect()
    }
    assert got == {1: True, 2: True, 3: True, 4: False, 5: False, 6: False,
                   7: True}


def test_c4_line_stats_each_rule(spark):
    """One doc per C4 rule: terminal punctuation, min words,
    javascript, boilerplate phrases, lorem ipsum, braces, and the
    min-sentence composite."""
    from bloom_filters_spark.functions.text import c4_line_stats

    good = "this line has plenty of words and it ends well."
    docs = [
        # 0: three clean sentences -> keep
        (0, "\n".join([good, "another full sentence with enough words!",
                       "a third one that also qualifies here?"])),
        # 1: line without terminal punctuation is dropped
        (1, "\n".join([good, "no terminal punctuation on this line",
                       good])),
        # 2: too few words
        (2, "\n".join([good, "tiny line.", good])),
        # 3: javascript mention drops the line
        (3, "\n".join([good, "please enable JavaScript to view this.",
                       good])),
        # 4: cookie boilerplate drops the line
        (4, "\n".join([good, "we use cookies to improve your site.",
                       good])),
        # 5: lorem ipsum kills the whole doc
        (5, "\n".join([good, "lorem ipsum dolor sit amet anywhere.",
                       good])),
        # 6: brace kills the whole doc
        (6, "\n".join([good, "function f() { return 1; } and more.",
                       good])),
        # 7: only two sentences survive -> below min_sentences
        (7, "\n".join([good, "nope", good])),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in c4_line_stats(df).collect()}
    assert out[0]["keep"] and out[0]["n_kept"] == 3
    for d in (1, 2, 3, 4):
        assert out[d]["n_kept"] == 2, d
    assert out[5]["has_lorem_ipsum"] and not out[5]["keep"]
    assert out[6]["has_brace"] and not out[6]["keep"]
    # doc 5's lorem line also fails doc-level only; its 3 lines all end
    # terminally so n_kept is 3 yet keep is false
    assert out[5]["n_kept"] == 3
    assert not out[7]["keep"] and out[7]["n_sentences"] == 2
    # n_lines always the raw split size
    assert all(v["n_lines"] == 3 for v in out.values())
    # clean_chars equals length of surviving text
    assert out[1]["clean_chars"] == len(good) * 2 + 1


def test_corpus_report_hand_counted(spark):
    """Two slices with known volumes: counts, token/char sums, extrema,
    and the gopher pass count all hand-verifiable."""
    from bloom_filters_spark.functions.text import corpus_report

    good = ("the quick brown fox jumps over the lazy dog and it "
            "was that good for all of us in every way so far")
    docs = [
        (1, "en", "web", good),
        (2, "en", "web", "tiny"),            # fails min_tokens
        (3, "en", "wiki", good + " again"),
        (4, "de", "web", good),
    ]
    df = spark.createDataFrame(docs, "doc_id long, lang string, source string, text string")
    out = {(r["lang"], r["source"]): r.asDict() for r in corpus_report(df).collect()}
    assert set(out) == {("en", "web"), ("en", "wiki"), ("de", "web")}
    r = out[("en", "web")]
    assert r["n_docs"] == 2
    assert r["total_tokens"] == len(good.split()) + 1
    assert r["total_chars"] == len(good) + 4
    assert (r["min_tokens"], r["max_tokens"]) == (1, len(good.split()))
    assert r["n_quality_pass"] == 1      # 'tiny' fails the token gate
    assert out[("en", "wiki")]["n_quality_pass"] == 1
