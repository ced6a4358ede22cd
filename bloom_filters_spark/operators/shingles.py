"""Shingling: text → w-word shingles.

The reference's MinHash consumes *numbers*; mapping a document to a set
of numbers is the caller's job (the reference's ``README.md:345``,
``src/sketch/min-hash.ts:83``).  Shingling has exactly two
implementations, and both tokenize the same way (ASCII whitespace,
ASCII-only lowercase):

* the production kernel, ``arrow_sig``: Arrow text buffers → hashed
  w-shingles in [0, c) → MinHash signatures, with
  ``arrow_sig.arrow_shingle_set_py`` as its bit-exact Python oracle;
* the oracle path here, ``string_shingle_sets_udf``: the w-shingle
  STRINGS, whose set sizes the DuckDB oracle queries replicate
  bit-for-bit.

``tokens_expr`` and ``shingle_strings_expr`` are the JVM expressions
the string shingles are checked against; ``F.lower`` is Unicode, so
they agree with the two implementations on ASCII text only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# default MinHash domain: c = 2^31 - 1 (a Mersenne prime, so
# closest_prime(2^31-1) == 2^31-1 and values fit the int64-exact kernel)
DEFAULT_MAX_VALUE = 2**31 - 1


def tokens_expr(text: Column) -> Column:
    """Lowercased whitespace tokens, empties removed."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != F.lit(""))


def shingle_strings_expr(toks: Column, w: int) -> Column:
    """w-word shingle strings from a token array.

    Documents with fewer than w tokens produce one shingle (all tokens).
    """
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n - F.lit(w - 1), F.lit(1)))
    return F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, w)))


def string_shingle_sets_udf(w: int, strict: bool = False):
    """Arrow-batched pandas UDF: text → order-preserving-distinct w-gram
    STRING array, semantically identical to
    ``array_distinct(shingle_strings_expr(tokens_expr(text), w))`` but
    ~10x faster (the JVM higher-order slice/concat chain is interpreted
    per element).  Tokenization is ASCII whitespace + ASCII-only
    lowercase — BYTE-IDENTICAL to the Arrow kernels' text front end
    (``arrow_sig.batch_token_hashes``), so a pair the candidate
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
