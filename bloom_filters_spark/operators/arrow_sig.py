"""Arrow-native signature stage: text → MinHash signature with zero
per-row Python objects.

Motivation (measured on the 32-core sandbox, 200k docs):

* the JVM higher-order-function token hashing
  (``transform(filter(split(...)), xxhash64)``) is interpreted and
  allocation-heavy — 1.5s at local[8] but 9.6s at local[32]: the
  allocation traffic saturates this box's ~8 GB/s DRAM bandwidth and the
  stage ANTI-scales;
* returning ``array<string>``/``array<long>`` columns from a pandas UDF
  materializes tens of millions of Python objects per 200k docs — the
  dominant cost of the old signature stage (and of persisting it).

This module instead runs ``mapInArrow`` over the raw Arrow buffers:

  text bytes (zero-copy) → ASCII-lowercase → flat whitespace
  tokenization → per-token Horner byte hash (vectorized over the whole
  batch via a length-sorted ragged loop) → w-token rolling shingle
  combine (``ROLL_PRIME`` Horner: ``acc = acc*ROLL_PRIME + t``) →
  MinHash affine-permutation fold with a Mersenne-2^31-1 reduction →
  flat int32 signature buffer → Arrow ListArray.

The MinHash semantics are the reference's ``sig[i] = min((a_i*x + b_i)
mod c)`` (``/root/reference/src/sketch/min-hash.ts:34-36,94-110``);
only the *shingle → integer* map differs from the string-shingle oracle
path (``shingles.shingles_expr``: any deterministic uniform map into
[0, max_value) preserves the MinHash/Jaccard statistics;
``arrow_shingle_set_py`` below is the bit-exact Python oracle for this
one).

Why the Mersenne fold: ``np.remainder`` on int64 uses the scalar divide
unit and only scales ~0.74 from 8→32 procs on this box, while pure ALU
(shift/add/compare) scales ~0.9.  ``x mod (2^31-1)`` folds exactly in
three ALU steps.  The fold is bit-equal to ``%`` (tested), so parity
with the reference kernel is preserved.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bloom_filters_spark.operators.shingles import DEFAULT_MAX_VALUE, ROLL_PRIME
from bloom_filters_spark.sketches.minhash import MinHashFactory

# token byte-hash constants (FNV-ish Horner; any odd multiplier works)
TOKEN_PRIME = 0x00000100000001B3
TOKEN_SEED = 0xCBF29CE484222325
# tokens longer than this are hashed on their prefix; the total length
# is always mixed into the final hash, so truncation only merges tokens
# that share a 4096-byte prefix AND length
MAX_TOKEN_BYTES = 4096

_U = np.uint64
M31 = _U(2**31 - 1)
_S31 = _U(31)

# ASCII whitespace (the \s set over ASCII): \t \n \v \f \r and space
_WS_BYTES = np.zeros(256, dtype=bool)
_WS_BYTES[[9, 10, 11, 12, 13, 32]] = True


def mod_mersenne31(v: np.ndarray) -> np.ndarray:
    """Exact ``v % (2**31 - 1)`` for uint64 ``v`` via shift-add folding.

    Two folds bring any uint64 below ``2*M31``; one conditional subtract
    finishes.  Congruence mod 2^31-1 is preserved at each step.
    """
    v = (v >> _S31) + (v & M31)
    v = (v >> _S31) + (v & M31)
    return np.where(v >= M31, v - M31, v)


def _ascii_lower(d: np.ndarray) -> np.ndarray:
    up = (d >= 65) & (d <= 90)
    d[up] += 32
    return d


def _flat_tokenize(data: np.ndarray, doc_offsets: np.ndarray):
    """Flat byte buffer + per-doc offsets → token spans.

    Returns (tok_starts, tok_lens, tok_doc) — flat byte index of each
    token start, its byte length, and its doc index — computed with
    whole-batch boolean ops (no per-doc Python).
    """
    L = len(data)
    if L == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    ws = _WS_BYTES[data]
    nw = ~ws
    start = nw.copy()
    start[1:] &= ws[:-1]
    end = nw.copy()
    end[:-1] &= ws[1:]
    # force token breaks at internal doc boundaries (a run of non-ws
    # bytes must not span two documents)
    internal = doc_offsets[1:-1]
    internal = internal[(internal > 0) & (internal < L)]
    start[internal] = nw[internal]
    end[internal - 1] = nw[internal - 1]
    tok_starts = np.flatnonzero(start).astype(np.int64)
    tok_ends = np.flatnonzero(end).astype(np.int64) + 1
    tok_lens = tok_ends - tok_starts
    tok_doc = np.searchsorted(doc_offsets[1:], tok_starts, side="right")
    return tok_starts, tok_lens, tok_doc.astype(np.int64)


def _token_hashes(data: np.ndarray, tok_starts: np.ndarray,
                  tok_lens: np.ndarray) -> np.ndarray:
    """Vectorized ragged Horner hash per token:
    ``h = fold_bytes(SEED, bytes) * P + len`` in uint64 wraparound.

    Tokens are processed in a byte-position loop over a length-sorted
    suffix, so total gather work = total token bytes (no per-token
    Python).
    """
    n = len(tok_starts)
    P = _U(TOKEN_PRIME)
    acc = np.full(n, TOKEN_SEED, dtype=np.uint64)
    if n:
        order = np.argsort(tok_lens, kind="stable")
        sorted_lens = tok_lens[order]
        max_len = min(int(sorted_lens[-1]), MAX_TOKEN_BYTES)
        du = data  # uint8
        for j in range(max_len):
            cut = np.searchsorted(sorted_lens, j, side="right")
            idx = order[cut:]
            acc[idx] = acc[idx] * P + du[tok_starts[idx] + j].astype(np.uint64)
    return acc * P + tok_lens.astype(np.uint64)


def _shingle_hashes(tok_hashes: np.ndarray, tok_doc: np.ndarray,
                    n_docs: int, w: int, max_value: int):
    """Flat w-token rolling combine → shingle hashes in [0, max_value).

    Horner recurrence ``acc = acc*ROLL_PRIME + t`` over each doc's
    consecutive token hashes; docs with 0 < n_tokens < w yield ONE
    shingle over all their tokens.  Duplicates are NOT removed — elementwise min is invariant
    under multiset repeats, so the MinHash signature is unchanged (use
    ``np.unique`` per doc only when the caller needs shingle SETs).

    Returns (sh_hash uint64 in [0,max_value), sh_doc, doc_token_counts).
    """
    n_tok = np.bincount(tok_doc, minlength=n_docs).astype(np.int64)
    first_tok = np.concatenate(([0], np.cumsum(n_tok)[:-1]))
    pos_in_doc = np.arange(len(tok_doc), dtype=np.int64) - first_tok[tok_doc]
    eff_w = np.minimum(n_tok, w)  # per doc
    # a token starts a shingle iff pos <= n_tok - eff_w (short docs: only pos 0)
    sh_mask = pos_in_doc <= (n_tok - eff_w)[tok_doc]
    sh_starts = np.flatnonzero(sh_mask).astype(np.int64)
    sh_doc = tok_doc[sh_starts]
    sh_w = eff_w[sh_doc]
    P = _U(ROLL_PRIME)
    acc = np.zeros(len(sh_starts), dtype=np.uint64)
    if len(sh_starts):
        for j in range(int(sh_w.max())):
            alive = sh_w > j
            acc[alive] = acc[alive] * P + tok_hashes[sh_starts[alive] + j]
    if max_value == 2**31 - 1:
        sh = mod_mersenne31(acc)
    else:
        sh = acc % _U(max_value)
    return sh, sh_doc, n_tok


def _signatures_from_shingles(sh: np.ndarray, sh_doc: np.ndarray,
                              n_docs: int, a: np.ndarray, b: np.ndarray,
                              c: int, buf: np.ndarray) -> np.ndarray:
    """Per-doc segment MinHash: (flat shingles, doc ids) → (n_docs, k)
    int32 signatures (rows for docs with no shingles are left untouched —
    callers mask them out).  ``sig[i] = min((a_i*x + b_i) mod c)``.
    """
    k = len(a)
    out = np.empty((n_docs, k), dtype=np.int32)
    counts = np.bincount(sh_doc, minlength=n_docs)
    bounds = np.concatenate(([0], np.cumsum(counts)))
    au = a.astype(np.uint64)
    bu = b.astype(np.uint64)
    mersenne = c == 2**31 - 1
    cu = _U(c)
    for d in range(n_docs):
        lo, hi = bounds[d], bounds[d + 1]
        n = hi - lo
        if n == 0:
            continue
        x = sh[lo:hi]
        m = buf[:n] if n <= buf.shape[0] else np.empty((n, k), dtype=np.uint64)
        np.multiply(x[:, None], au[None, :], out=m)
        np.add(m, bu[None, :], out=m)
        if mersenne:
            np.add(m >> _S31, m & M31, out=m)
            np.add(m >> _S31, m & M31, out=m)
            np.subtract(m, np.where(m >= M31, M31, _U(0)), out=m)
        else:
            np.remainder(m, cu, out=m)
        out[d] = m.min(axis=0)
    return out


def _string_array_parts(col: pa.Array):
    """Zero-copy (offsets int64, data uint8, null_mask|None) of a
    string/large_string Arrow array."""
    if pa.types.is_large_string(col.type):
        off_dtype = np.int64
    else:
        off_dtype = np.int32
    bufs = col.buffers()
    offsets = np.frombuffer(bufs[1], dtype=off_dtype)[
        col.offset: col.offset + len(col) + 1
    ].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else \
        np.zeros(0, dtype=np.uint8)
    nulls = None
    if col.null_count:
        nulls = np.array(col.is_null())
    return offsets, data, nulls


def _batch_signatures(ids: np.ndarray, text_col: pa.Array,
                      a, b, c, w, max_value, buf,
                      need_shingles: bool, hot_shingles: np.ndarray | None = None):
    """One Arrow batch → (ids_kept, sig (n,k) int32, shingle sets|None).

    ``hot_shingles`` (sorted int64 array) drops boilerplate shingles
    before the MinHash fold — the CMS frequent-shingle pruning stage.
    Docs left with zero shingles after pruning are dropped like empty
    docs (the reference's empty-MinHash guard).
    """
    offsets, data, nulls = _string_array_parts(text_col)
    base = offsets[0]
    d = _ascii_lower(data[base: offsets[-1]].copy())
    doc_offsets = offsets - base
    tok_starts, tok_lens, tok_doc = _flat_tokenize(d, doc_offsets)
    if nulls is not None and len(tok_doc):
        keep_tok = ~nulls[tok_doc]
        tok_starts, tok_lens, tok_doc = (
            tok_starts[keep_tok], tok_lens[keep_tok], tok_doc[keep_tok])
    n_docs = len(ids)
    th = _token_hashes(d, tok_starts, tok_lens)
    sh, sh_doc, n_tok = _shingle_hashes(th, tok_doc, n_docs, w, max_value)
    if hot_shingles is not None and len(sh):
        cold = ~np.isin(sh.astype(np.int64), hot_shingles)
        sh, sh_doc = sh[cold], sh_doc[cold]
    sig = _signatures_from_shingles(sh, sh_doc, n_docs, a, b, c, buf)
    keep = n_tok > 0
    if hot_shingles is not None:
        keep &= np.bincount(sh_doc, minlength=n_docs) > 0
    shingle_sets = None
    if need_shingles:
        counts = np.bincount(sh_doc, minlength=n_docs)
        bounds = np.concatenate(([0], np.cumsum(counts)))
        shingle_sets = [
            np.unique(sh[bounds[i]: bounds[i + 1]]).astype(np.int64)
            for i in np.flatnonzero(keep)
        ]
    return ids[keep], sig[keep], shingle_sets


def _list_array_from_flat(flat: np.ndarray, list_size: int) -> pa.ListArray:
    n = len(flat) // list_size
    offsets = pa.array(
        np.arange(0, (n + 1) * list_size, list_size, dtype=np.int32),
        type=pa.int32(),
    )
    return pa.ListArray.from_arrays(offsets, pa.array(flat))


def _ragged_list_array(segments: list[np.ndarray]) -> pa.ListArray:
    lens = np.fromiter((len(s) for s in segments), dtype=np.int64,
                       count=len(segments))
    offsets = pa.array(np.concatenate(([0], np.cumsum(lens))).astype(np.int32))
    values = (np.concatenate(segments) if segments
              else np.zeros(0, dtype=np.int64))
    return pa.ListArray.from_arrays(offsets, pa.array(values))


def signatures_arrow(
    df: DataFrame,
    factory: MinHashFactory,
    shingle_size: int = 3,
    max_value: int = DEFAULT_MAX_VALUE,
    id_col: str = "doc_id",
    text_col: str = "text",
    need_shingles: bool = False,
    hot_shingles: np.ndarray | None = None,
) -> DataFrame:
    """(id, text) → (id, signature array<int>[, shingles array<long>]).

    One ``mapInArrow`` stage; docs with no tokens are dropped (the
    reference's empty-MinHash guard, min-hash.ts:75-77).  Signature
    values are < 2^31-1 → int32 halves the bytes persisted/shuffled
    downstream (this box is DRAM-bandwidth-bound, so bytes ≈ seconds).
    """
    a_arr = factory.a.copy()
    b_arr = factory.b.copy()
    c = int(factory.c)
    k = factory.nb_hashes
    w = shingle_size
    mv = max_value
    want_sh = need_shingles
    hot = np.sort(hot_shingles.astype(np.int64)) if hot_shingles is not None \
        and len(hot_shingles) else None

    fields = [pa.field(id_col, pa.int64())]
    if want_sh:
        fields.append(pa.field("shingles", pa.list_(pa.int64())))
    fields.append(pa.field("signature", pa.list_(pa.int32())))
    out_schema = pa.schema(fields)

    def compute(batches):
        buf = np.empty((4096, k), dtype=np.uint64)
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            kept, sig, sh_sets = _batch_signatures(
                ids, batch.column(1), a_arr, b_arr, c, w, mv, buf, want_sh,
                hot)
            cols = [pa.array(kept, type=pa.int64())]
            if want_sh:
                cols.append(_ragged_list_array(sh_sets))
            cols.append(_list_array_from_flat(sig.reshape(-1), k))
            yield pa.RecordBatch.from_arrays(cols, schema=out_schema)

    spark_schema = f"{id_col} long, " + (
        "shingles array<long>, " if want_sh else ""
    ) + "signature array<int>"
    return df.select(id_col, text_col).mapInArrow(compute, spark_schema)


def _band_hashes_from_sig(sig: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """(n, k) int32 signatures → (n, bands) uint64 band hashes.

    Horner over each band's ``rows`` values, seeded with band_id+1 so
    identical slices in different bands don't collide.
    """
    n = sig.shape[0]
    P = _U(ROLL_PRIME)
    m = sig.astype(np.uint64).reshape(n, bands, rows)
    acc = np.broadcast_to(
        np.arange(1, bands + 1, dtype=np.uint64)[None, :], (n, bands)
    ).copy()
    for j in range(rows):
        acc = acc * P + m[:, :, j]
    return acc


def fused_band_rows(
    df: DataFrame,
    factory: MinHashFactory,
    bands: int,
    rows: int,
    shingle_size: int = 3,
    max_value: int = DEFAULT_MAX_VALUE,
    id_col: str = "doc_id",
    text_col: str = "text",
    hot_shingles: np.ndarray | None = None,
    hash_bits: int = 32,
) -> DataFrame:
    """text → exploded (doc_id, band_id, band_hash) in ONE Arrow stage,
    never materializing a signature column.

    This is the scale path for candidate generation: the full-corpus
    signature matrix exists only as a transient numpy array inside the
    kernel, so nothing wide is persisted, cached, or shuffled — the band
    table is 12-byte rows at the default width.  The verify stage
    recomputes signatures just for the docs that appear in a candidate
    pair — on crawl batches most of them (4,398 of 4,930 docs on the
    benchmark's small-batches corpus), since 30-50% of fetches are
    exact copies; determinism of the kernel guarantees they match the
    ones banded here.

    ``hash_bits=32`` (the default, adopted round 5 after the paired
    ABBA measurement in ``BENCH/scaling_8_32.json``) xor-folds the
    64-bit band hash into an int column, cutting the shuffled band row
    16 → 12 bytes.  Collisions only MERGE candidate groups (extra pairs
    are filtered downstream by verify), so recall is unaffected; the
    cost is ~n_rows²/2³³ colliding row pairs of extra verify work.
    ``hash_bits=64`` reads/extends band tables checkpointed before the
    switch.
    """
    if hash_bits not in (32, 64):
        raise ValueError("hash_bits must be 32 or 64")
    a_arr = factory.a.copy()
    b_arr = factory.b.copy()
    c = int(factory.c)
    k = factory.nb_hashes
    w = shingle_size
    mv = max_value
    b_, r_ = bands, rows
    fold32 = hash_bits == 32
    hot = np.sort(hot_shingles.astype(np.int64)) if hot_shingles is not None \
        and len(hot_shingles) else None

    def compute(batches):
        buf = np.empty((4096, k), dtype=np.uint64)
        band_ids = np.arange(b_, dtype=np.int32)
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            kept, sig, _ = _batch_signatures(
                ids, batch.column(1), a_arr, b_arr, c, w, mv, buf, False, hot)
            n = len(kept)
            if n == 0:
                continue
            acc = _band_hashes_from_sig(sig, b_, r_).reshape(-1)
            if fold32:
                hashes = pa.array(
                    (acc ^ (acc >> np.uint64(32)))
                    .astype(np.uint32).view(np.int32),
                    type=pa.int32(),
                )
            else:
                hashes = pa.array(acc.view(np.int64), type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(kept, b_), type=pa.int64()),
                    pa.array(np.tile(band_ids, n), type=pa.int32()),
                    hashes,
                ],
                names=[id_col, "band_id", "band_hash"],
            )

    hash_t = "int" if fold32 else "long"
    return df.select(id_col, text_col).mapInArrow(
        compute, f"{id_col} long, band_id int, band_hash {hash_t}"
    )


def bands_arrow(sigs: DataFrame, bands: int, rows: int,
                id_col: str = "doc_id", hash_bits: int = 32) -> DataFrame:
    """(id, signature) → exploded (id, band_id, band_hash), all
    vectorized in Arrow (replaces the interpreted JVM
    ``transform + xxhash64 + explode`` chain, which anti-scaled).

    band_hash = uint64 Horner over the band's ``rows`` signature values,
    seeded with the band id so identical slices in different bands don't
    collide; ``hash_bits`` folds it exactly like ``fused_band_rows`` so
    the two-stage path stays row-for-row identical to the fused one.
    """
    if hash_bits not in (32, 64):
        raise ValueError("hash_bits must be 32 or 64")
    b_, r_ = bands, rows
    fold32 = hash_bits == 32

    def compute(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            sig_col = batch.column(1)
            # flatten() is slice-offset-aware; .values would misalign on
            # a sliced RecordBatch
            flat = sig_col.flatten().to_numpy(zero_copy_only=False)
            n = len(ids)
            if n == 0:
                continue
            acc = _band_hashes_from_sig(
                flat.reshape(n, b_ * r_), b_, r_
            ).reshape(-1)
            if fold32:
                hashes = pa.array(
                    (acc ^ (acc >> np.uint64(32)))
                    .astype(np.uint32).view(np.int32),
                    type=pa.int32(),
                )
            else:
                hashes = pa.array(acc.view(np.int64), type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, b_), type=pa.int64()),
                    pa.array(
                        np.tile(np.arange(b_, dtype=np.int32), n),
                        type=pa.int32(),
                    ),
                    hashes,
                ],
                names=[id_col, "band_id", "band_hash"],
            )

    hash_type = "int" if fold32 else "long"
    return sigs.select(id_col, "signature").mapInArrow(
        compute, f"{id_col} long, band_id int, band_hash {hash_type}"
    )


# ---------------------------------------------------------------------------
# pure-Python oracles (bit-exact replicas for tests / driver checks)
# ---------------------------------------------------------------------------

def token_hash_py(token: bytes) -> int:
    h = TOKEN_SEED
    mask = (1 << 64) - 1
    for byte in token[:MAX_TOKEN_BYTES]:
        h = (h * TOKEN_PRIME + byte) & mask
    return (h * TOKEN_PRIME + len(token)) & mask


def arrow_tokens_py(text: str) -> list[bytes]:
    lowered = bytes(
        c + 32 if 65 <= c <= 90 else c for c in text.encode("utf-8")
    )
    toks, cur = [], bytearray()
    for byte in lowered:
        if byte in (9, 10, 11, 12, 13, 32):
            if cur:
                toks.append(bytes(cur))
                cur = bytearray()
        else:
            cur.append(byte)
    if cur:
        toks.append(bytes(cur))
    return toks


def arrow_shingle_multiset_py(text: str, w: int = 3,
                              max_value: int = DEFAULT_MAX_VALUE) -> list[int]:
    """Bit-exact oracle for the kernel's flat shingle hashes (duplicates
    kept, doc order)."""
    toks = arrow_tokens_py(text)
    if not toks:
        return []
    th = [token_hash_py(t) for t in toks]
    eff_w = min(w, len(th))
    mask = (1 << 64) - 1
    out = []
    for i in range(len(th) - eff_w + 1):
        acc = 0
        for j in range(eff_w):
            acc = (acc * ROLL_PRIME + th[i + j]) & mask
        out.append(acc % max_value)
    return out


def arrow_shingle_set_py(text: str, w: int = 3,
                         max_value: int = DEFAULT_MAX_VALUE) -> np.ndarray:
    """Distinct shingle hashes (the ``need_shingles=True`` column)."""
    return np.unique(
        np.array(arrow_shingle_multiset_py(text, w, max_value), dtype=np.int64)
    )


def detect_hot_shingles(
    df: DataFrame,
    n_docs: int,
    max_doc_freq: float,
    shingle_size: int = 3,
    max_value: int = DEFAULT_MAX_VALUE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> np.ndarray:
    """Boilerplate detector: shingle hashes whose document frequency
    exceeds ``max_doc_freq * n_docs`` (the CMS frequent-shingle pruning
    stage of the north rule; with the reference's ``create(ε, δ=0.999)``
    quirk a CMS degenerates to depth-1 counters —
    /root/reference/src/sketch/count-min-sketch.ts:56-61 — which is
    exactly a bucketed counter like this one, here collision-free
    because the shingle itself is the key).

    Scale shape — two passes, both shuffle-light, together EXACT:

    1. candidates: each partition counts its per-doc-DISTINCT shingles
       and emits only locally-hot ones (local count > cap // n_parts,
       with n_parts the REAL partition count — by pigeonhole, a shingle
       with global df > cap must exceed cap/n_parts in at least one
       partition, so no globally-hot shingle can be missed).  The
       shuffle carries a few hundred candidate rows, not the universe.
    2. exact df: candidate hashes broadcast back (closure, sorted
       array); a second pass counts candidate shingles ONLY, so the
       global sum includes contributions from partitions where the
       shingle was below the local cap — the final ``df > cap`` filter
       is exact, not an undercount.

    Returns a sorted int64 array of hot shingle hashes.
    """
    cap = max(1, int(max_doc_freq * n_docs))
    slim = df.select(id_col, text_col)
    n_parts = max(slim.rdd.getNumPartitions(), 1)
    if n_parts > cap:
        # cap // n_parts would be 0 and the strict > 0 test below makes
        # EVERY distinct shingle a candidate — the collect would pull
        # the whole shingle universe to the driver.  Coalescing the
        # detection scan to <= cap partitions keeps local_cap >= 1 while
        # preserving the pigeonhole argument (fewer, larger partitions);
        # this pass is scan-bound, so the lost parallelism is bounded by
        # cap, and cap < n_parts only for very aggressive thresholds.
        n_parts = cap
        slim = slim.coalesce(n_parts)
    local_cap = cap // n_parts  # STRICT > below ⇒ pigeonhole-complete
    w = shingle_size
    mv = max_value

    def _partition_doc_freq(batches, keep_shingles=None):
        # one local counter per PARTITION (mapInArrow sees all batches);
        # everything stays in numpy arrays — no per-shingle Python
        vals_parts, cnts_parts = [], []
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            offsets, data, nulls = _string_array_parts(batch.column(1))
            base = offsets[0]
            d = _ascii_lower(data[base: offsets[-1]].copy())
            tok_starts, tok_lens, tok_doc = _flat_tokenize(d, offsets - base)
            if nulls is not None and len(tok_doc):
                keep = ~nulls[tok_doc]
                tok_starts, tok_lens, tok_doc = (
                    tok_starts[keep], tok_lens[keep], tok_doc[keep])
            th = _token_hashes(d, tok_starts, tok_lens)
            sh, sh_doc, _ = _shingle_hashes(th, tok_doc, len(ids), w, mv)
            if not len(sh):
                continue
            if keep_shingles is not None:
                m = np.isin(sh.astype(np.int64), keep_shingles)
                sh, sh_doc = sh[m], sh_doc[m]
                if not len(sh):
                    continue
            # doc-frequency semantics: count each (doc, shingle) once
            key = sh_doc.astype(np.uint64) * _U(2**32) + sh  # sh < 2^31
            uniq = np.unique(key)
            vals, cnts = np.unique(uniq & _U(0xFFFFFFFF), return_counts=True)
            vals_parts.append(vals.astype(np.int64))
            cnts_parts.append(cnts.astype(np.int64))
        if not vals_parts:
            return None, None
        allv = np.concatenate(vals_parts)
        allc = np.concatenate(cnts_parts)
        u, inv = np.unique(allv, return_inverse=True)
        tot = np.bincount(inv, weights=allc.astype(np.float64)).astype(
            np.int64
        )
        return u, tot

    def candidate_batch(batches):
        u, tot = _partition_doc_freq(batches)
        if u is None:
            return
        mask = tot > local_cap
        if mask.any():
            yield pa.RecordBatch.from_arrays(
                [pa.array(u[mask])], names=["shingle"]
            )

    cand_rows = (
        slim.mapInArrow(candidate_batch, "shingle long")
        .select("shingle").distinct().collect()
    )
    cand = np.sort(np.array([r["shingle"] for r in cand_rows],
                            dtype=np.int64))
    if not len(cand):
        return cand

    def exact_batch(batches):
        u, tot = _partition_doc_freq(batches, keep_shingles=cand)
        if u is None:
            return
        yield pa.RecordBatch.from_arrays(
            [pa.array(u), pa.array(tot)], names=["shingle", "n"]
        )

    rows = (
        slim.mapInArrow(exact_batch, "shingle long, n long")
        .groupBy("shingle")
        .agg(F.sum("n").alias("df_count"))
        .filter(F.col("df_count") > cap)
        .collect()
    )
    return np.sort(np.array([r["shingle"] for r in rows], dtype=np.int64))
