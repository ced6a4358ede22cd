"""Shingling: text → hashed w-shingle sets, entirely JVM-side.

The reference's MinHash consumes *numbers*; mapping a document to a set
of numbers is the caller's job (``/root/reference/README.md:345``,
``src/sketch/min-hash.ts:83``).  We map text → w-word shingles →
``pmod(xxhash64(shingle), c)`` ∈ [0, c) — all with built-in Spark SQL
functions so the whole stage is whole-stage-codegen'd, no Python.

``xxhash64`` (seed 42) is bit-reproducible in our Python kernel
(``bloom_filters_spark.hashing.xxh64(b, 42)``), so oracles and
driver-side parity checks can recompute shingle hashes exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# default MinHash domain: c = 2^31 - 1 (a Mersenne prime, so
# closest_prime(2^31-1) == 2^31-1 and values fit the int64-exact kernel)
DEFAULT_MAX_VALUE = 2**31 - 1


def tokens_expr(text: Column, lowercase: bool = True) -> Column:
    """Whitespace tokens, empties removed."""
    t = F.lower(text) if lowercase else text
    return F.filter(F.split(t, r"\s+"), lambda x: x != F.lit(""))


def shingle_strings_expr(toks: Column, w: int) -> Column:
    """w-word shingle strings from a token array.

    Documents with fewer than w tokens produce one shingle (all tokens).
    """
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n - F.lit(w - 1), F.lit(1)))
    return F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, w)))


def shingles_expr(
    text: Column,
    w: int = 3,
    max_value: int = DEFAULT_MAX_VALUE,
    lowercase: bool = True,
) -> Column:
    """text → distinct array<long> of shingle hashes in [0, max_value).

    MinHash is set-based (the reference folds a *set* of numbers), hence
    ``array_distinct``.
    """
    strs = shingle_strings_expr(tokens_expr(text, lowercase), w)
    hashed = F.transform(strs, lambda s: F.pmod(F.xxhash64(s), F.lit(max_value)))
    return F.array_distinct(hashed)


def string_shingle_sets_udf(w: int, strict: bool = False):
    """Arrow-batched pandas UDF: text → order-preserving-distinct w-gram
    STRING array, semantically identical to
    ``array_distinct(shingle_strings_expr(tokens_expr(text), w))`` but
    ~10x faster (the JVM higher-order slice/concat chain is interpreted
    per element).  Tokenization is ASCII whitespace + ASCII-only
    lowercase — BYTE-IDENTICAL to the Arrow candidate kernels
    (``_ascii_lower`` + ``_flat_tokenize``), so a pair the candidate
    pass can produce is exactly a pair this verify tokenizer accepts
    (a Unicode ``str.lower()``/``\\s`` here would admit pairs the
    ASCII candidate hashing can never generate — a silent recall gap
    on non-ASCII text).  Equal to the JVM and DuckDB oracles on the
    (all-ASCII) fixture corpora.  One
    deliberate divergence: zero-token docs return ``[]`` (matching the
    SQL oracles' ``len(t) > 0`` gate) where the JVM chain's
    ``greatest(n-w+1, 1)`` yields one empty shingle ``['']`` — both are
    dropped by the ``size > 0`` filters downstream.  Meant for
    candidate-participant sets, where per-doc Python cost is bounded
    by the (rare) dup population."""
    import re

    from pyspark.sql import types as T

    # ASCII whitespace only ({9,10,11,12,13,32}) and ASCII-only lower,
    # matching the byte-level Arrow kernels exactly
    ws = re.compile("[ \t\n\x0b\x0c\r]+")
    ascii_lower = str.maketrans(
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
    )

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def shingle_sets(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = [x for x in ws.split(t.translate(ascii_lower))] if t else []
            toks = [x for x in toks if x]
            n = len(toks)
            if n == 0 or (strict and n < w):
                # strict: docs shorter than w yield NO grams (substring
                # semantics); default pads to one short shingle (MinHash
                # shingle semantics, same as shingle_strings_expr)
                out.append([])
                continue
            seen = set()
            arr = []
            for i in range(max(n - w + 1, 1)):
                s = " ".join(toks[i:i + w])
                if s not in seen:
                    seen.add(s)
                    arr.append(s)
            out.append(arr)
        return pd.Series(out)

    return shingle_sets


# 64-bit golden-ratio odd constant: the w-token rolling-hash multiplier
# of the Arrow shingle combine (arrow_sig), dedup and substring
ROLL_PRIME = 0x9E3779B97F4A7C15


def shingle_hash_py(shingle: str, max_value: int = DEFAULT_MAX_VALUE) -> int:
    """Python oracle for one shingle hash — bit-equal to the JVM column.

    ``pmod(xxhash64(s), m)`` where xxhash64 is Spark's seed-42 XXH64 over
    UTF-8 bytes, interpreted as SIGNED int64 (pmod of the signed value).
    """
    from bloom_filters_spark.hashing import xxh64

    h = xxh64(shingle.encode("utf-8"), 42)
    signed = h - (1 << 64) if h >= (1 << 63) else h
    return signed % max_value


def shingle_set_py(
    text: str,
    w: int = 3,
    max_value: int = DEFAULT_MAX_VALUE,
    lowercase: bool = True,
) -> list[int]:
    """Python oracle for the full shingles_expr column (order-preserving
    distinct, like array_distinct)."""
    import re

    # match the JVM column EXACTLY: F.lower is Unicode (like Python
    # str.lower()) but Java \s is ASCII-only — so split on the ASCII
    # whitespace class (Python's \s would split NBSP/U+2028 where the
    # JVM keeps them inside a token)
    t = text.lower() if lowercase else text
    toks = [x for x in re.split("[ \t\n\x0b\x0c\r]+", t) if x != ""]
    n = len(toks)
    n_shingles = max(n - w + 1, 1)
    out, seen = [], set()
    for i in range(n_shingles):
        h = shingle_hash_py(" ".join(toks[i : i + w]), max_value)
        if h not in seen:
            seen.add(h)
            out.append(h)
    return out
