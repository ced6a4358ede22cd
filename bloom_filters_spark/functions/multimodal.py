"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed through Arrow-batched ``mapInPandas``.

Decoding support (no external media libraries: everything here is
stdlib + numpy, so decoded pixels are identical on every host):

* **PNG** — REAL decoder: zlib inflate + full scanline unfiltering
  (None/Sub/Up/Average/Paeth), 8-bit gray/gray+alpha/RGB/RGBA/palette,
  non-interlaced.  A matching encoder exists for tests and fixtures.
* **JPEG** — REAL decoder (functions/jpeg.py, from the public ITU-T
  T.81 spec): baseline sequential AND progressive (SOF2) DCT, Huffman,
  gray/4:4:4/4:2:2/4:2:0, restart markers — validated against real
  libjpeg-produced files.  Encoders for both stream kinds exist for
  fixtures.
* **WAV** — REAL decoder: RIFF parse, PCM 8/16-bit, any channel count.
* **Video** — REAL MJPEG-in-AVI path (functions/avi.py): a pure-stdlib
  RIFF chunk walk yields per-frame JPEG streams for the in-repo JPEG
  decoder; ``sample_video_frames`` decodes only the sampled frames.
  Other codecs genuinely need ffmpeg and raise ``NotImplementedError``
  (honest-error policy).
* **webp, gif and other image formats** raise ``NotImplementedError``;
  ``fake_decode`` survives ONLY as ``decode_image``'s documented
  plumbing double for them in tests.

At 100TB scale the pattern is: keep payloads in their own parquet/
Iceberg column chunk (never project them unless needed — column pruning
skips the bytes entirely), partition by size so a batch of payloads
fits executor memory (``media_repartition``), and run feature
extraction as one mapInPandas pass emitting small typed features.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

IMAGE_FEATURES_SCHEMA = (
    "media_id long, width int, height int, n_bytes long, "
    "channel_means array<double>, phash long"
)

FRAME_SAMPLE_SCHEMA = "media_id long, frame_idx int, frame_phash long"


def media_repartition(df: DataFrame, target_bytes_per_partition: int = 256 << 20,
                      size_col: str = "payload") -> DataFrame:
    """Partition media rows so each partition holds ~target bytes of
    payload — large-binary batches must fit executor memory (the Arrow
    batch is the unit of transfer to Python)."""
    stats = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length(size_col)), F.lit(0)).alias("total"),
    ).collect()[0]
    if stats["n"] == 0:
        return df
    n_parts = max(1, int(stats["total"] / target_bytes_per_partition) + 1)
    return df.repartition(n_parts)


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for an image decoder: derives a small
    pseudo-image from the payload bytes.  Pure function of the bytes."""
    arr = np.frombuffer(payload[:3072].ljust(3072, b"\0"), dtype=np.uint8)
    return arr.reshape(32, 32, 3)


# ---------------------------------------------------------------------------
# PNG (real decoder/encoder, stdlib zlib + numpy)
# ---------------------------------------------------------------------------

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _unfilter_scanline(ftype: int, line: np.ndarray, prev: np.ndarray,
                       bpp: int) -> np.ndarray:
    """Invert one PNG scanline filter (spec §9, filters 0-4)."""
    if ftype == 0:
        return line
    if ftype == 2:  # Up
        return line + prev
    if ftype == 1:  # Sub: per-channel prefix sum
        cols = line.reshape(-1, bpp).astype(np.int64)
        return (np.cumsum(cols, axis=0) % 256).astype(np.uint8).reshape(-1)
    out = np.empty_like(line)
    n = len(line)
    if ftype == 3:  # Average (left dependency → per-byte loop)
        for i in range(n):
            left = int(out[i - bpp]) if i >= bpp else 0
            out[i] = (int(line[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        return out
    if ftype == 4:  # Paeth
        for i in range(n):
            a = int(out[i - bpp]) if i >= bpp else 0
            b = int(prev[i])
            c = int(prev[i - bpp]) if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (int(line[i]) + pred) & 0xFF
        return out
    raise ValueError(f"bad PNG filter type {ftype}")


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → (h, w, channels) uint8 array.  Supports 8-bit
    grayscale / gray+alpha / RGB / RGBA / palette, non-interlaced —
    the standard web-corpus PNG envelope."""
    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, idat, palette = 8, [], None
    w = h = color = None
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos:pos + 4], "big")
        typ = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        pos += 12 + ln  # length + type + data + crc
        if typ == b"IHDR":
            w, h, bitd, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if bitd != 8:
                raise NotImplementedError(f"PNG bit depth {bitd} (only 8)")
            if interlace:
                raise NotImplementedError("interlaced PNG")
        elif typ == b"PLTE":
            palette = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG without IHDR")
    channels = _PNG_CHANNELS[color]
    stride = w * channels
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT size mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        off = y * (stride + 1)
        line = np.frombuffer(raw[off + 1:off + 1 + stride], np.uint8)
        prev = _unfilter_scanline(raw[off], line, prev, channels)
        out[y] = prev
    img = out.reshape(h, w, channels)
    if color == 3:
        if palette is None:
            raise ValueError("palette PNG without PLTE")
        img = palette[img[:, :, 0]]
    return img


def encode_png(img: np.ndarray) -> bytes:
    """(h, w[, channels]) uint8 → PNG bytes (filter 0 rows).  Used by
    tests/fixtures; also a legitimate sink for small derived images."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = b"".join(
        b"\x00" + img[y].astype(np.uint8).tobytes() for y in range(h)
    )

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        PNG_MAGIC + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# WAV (real decoder, stdlib struct + numpy)
# ---------------------------------------------------------------------------

def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (samples float64 in [-1, 1] shaped (n, channels),
    sample_rate).  PCM 8-bit unsigned / 16-bit signed."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        typ = payload[pos:pos + 4]
        ln = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + ln]
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
        if typ == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif typ == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, rate, _byte_rate, _align, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(f"WAV format {audio_format} (only PCM)")
    if bits == 16:
        samples = np.frombuffer(data, "<i2").astype(np.float64) / 32768.0
    elif bits == 8:
        samples = (np.frombuffer(data, np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"WAV bit depth {bits}")
    n = len(samples) // n_channels
    return samples[: n * n_channels].reshape(n, n_channels), rate


def decode_image(payload: bytes, fake_decode: bool = False) -> np.ndarray:
    """Magic-byte-routed image decode: PNG and JPEG (baseline AND
    progressive) decode for real — pure stdlib/numpy, see
    functions/jpeg.py.  Other formats (webp, gif, ...) raise unless
    ``fake_decode=True`` substitutes the deterministic pseudo decode
    for plumbing tests."""
    if payload[:8] == PNG_MAGIC:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from bloom_filters_spark.functions.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if not fake_decode:
        raise NotImplementedError(
            "only PNG and JPEG (baseline + progressive) decode without "
            "external libraries (webp/gif need an external decoder); "
            "pass fake_decode=True for the deterministic test double"
        )
    return _fake_decode(payload)


def _phash(img: np.ndarray) -> int:
    """Tiny perceptual-hash stand-in: sign bits of mean-centered 8x8
    grayscale blocks — deterministic, pure numpy."""
    gray = img.mean(axis=2) if img.ndim == 3 else img.astype(np.float64)
    if gray.shape[0] < 8 or gray.shape[1] < 8:
        gray = np.pad(
            gray,
            ((0, max(0, 8 - gray.shape[0])), (0, max(0, 8 - gray.shape[1]))),
            mode="edge",
        )
    h, w = gray.shape
    blocks = gray[: h - h % 8, : w - w % 8].reshape(8, h // 8, 8, w // 8).mean(
        axis=(1, 3)
    )
    bits = (blocks > blocks.mean()).ravel()
    out = np.uint64(0)
    for i, b in enumerate(bits):
        if b:
            out |= np.uint64(1) << np.uint64(i)
    return int(out.astype(np.int64))


def extract_image_features(media: DataFrame, fake_decode: bool = False) -> DataFrame:
    """media(media_id, payload, ...) → typed features via one
    mapInPandas pass (Arrow batches of binary payloads in, small typed
    rows out — payload bytes never come back to the JVM)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                img = decode_image(bytes(payload), fake_decode=fake_decode)
                # grayscale JPEG decodes to (h, w): its mean is a 0-d
                # scalar, which the array<double> schema must see as a
                # one-element list
                means = img.mean(axis=(0, 1))
                means = ([float(means)] if np.ndim(means) == 0
                         else [float(x) for x in means])
                rows.append(
                    {
                        "media_id": media_id,
                        "width": img.shape[1],
                        "height": img.shape[0],
                        "n_bytes": len(payload),
                        "channel_means": means,
                        "phash": _phash(img),
                    }
                )
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                columns=["media_id", "width", "height", "n_bytes",
                         "channel_means", "phash"]
            )

    return media.select("media_id", "payload").mapInPandas(
        extract, IMAGE_FEATURES_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = (
    "media_id long, sample_rate int, n_channels int, n_samples long, "
    "duration_ms long, rms double, zero_crossing_rate double, peak double"
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """media(media_id, payload) with WAV payloads → typed audio features
    in one mapInPandas pass (real decode, stdlib/numpy)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id", "sample_rate", "n_channels", "n_samples",
                "duration_ms", "rms", "zero_crossing_rate", "peak"]
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                samples, rate = decode_wav(bytes(payload))
                mono = samples.mean(axis=1)
                n = len(mono)
                zc = (
                    float(np.count_nonzero(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
                    / max(n - 1, 1)
                )
                rows.append({
                    "media_id": media_id,
                    "sample_rate": rate,
                    "n_channels": samples.shape[1],
                    "n_samples": n,
                    "duration_ms": int(n * 1000 / rate) if rate else 0,
                    "rms": float(np.sqrt(np.mean(mono ** 2))) if n else 0.0,
                    "zero_crossing_rate": zc,
                    "peak": float(np.abs(mono).max()) if n else 0.0,
                })
            yield pd.DataFrame(rows) if rows else pd.DataFrame(columns=cols)

    return media.select("media_id", "payload").mapInPandas(
        extract, AUDIO_FEATURES_SCHEMA
    )


def sample_video_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """REAL video frame sampling: one media row fans out to one frame
    row per ``every_ms`` of timeline.  Payloads are MJPEG AVIs — the
    RIFF walk (``functions/avi.py``) yields per-frame JPEG chunks, the
    in-repo JPEG decoder (``functions/jpeg.py``) decodes ONLY the
    sampled frames (a 1-fps sample of a 30-fps stream touches 1/30 of
    the entropy data), and each sampled frame contributes its
    perceptual hash.  ``frame_idx`` is the source frame index, so
    same-rate near-copy videos align positionally.  Non-AVI payloads
    raise ValueError, non-MJPEG AVIs NotImplementedError — the
    honest-error policy; no fake-decode path remains."""
    from bloom_filters_spark.functions.avi import (
        decode_avi_frame,
        decode_avi_mjpeg,
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                meta, frames = decode_avi_mjpeg(bytes(payload))
                fps = meta["fps"] or 1.0
                duration_ms = len(frames) * 1000.0 / fps
                ts = 0.0
                seen = set()
                while ts < duration_ms:
                    idx = min(int(ts * fps / 1000.0), len(frames) - 1)
                    if idx not in seen:
                        seen.add(idx)
                        img = decode_avi_frame(frames[idx])
                        rows.append(
                            {"media_id": media_id, "frame_idx": idx,
                             "frame_phash": _phash(img)}
                        )
                    ts += every_ms
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                columns=["media_id", "frame_idx", "frame_phash"]
            )

    return media.select("media_id", "payload").mapInPandas(
        sample, FRAME_SAMPLE_SCHEMA
    )


def _phash_block_array(col, max_hamming: int):
    """Pigeonhole blocks for a 64-bit phash: ``max_hamming + 1`` blocks
    guarantee two hashes within ``max_hamming`` share at least one
    block EQUAL (k flipped bits can dirty at most k of k+1 blocks) —
    the same completeness argument as SimHash text dedup
    (operators/dedup.py, 4 blocks for its max_hamming=3).  Widths are
    near-equal: 64 = n*(64//n) + (64 % n) extra bits spread one-per-
    block from the low end.

    Scale trade-off: more blocks means narrower block values, so each
    (block_id, block_val) bucket holds ~n/2^width candidates — at
    corpus scale prefer the smallest max_hamming that meets the
    dedup bar (3 keeps 16-bit blocks) and verify-filters absorb the
    rest; the exact-hamming filter downstream keeps results correct
    either way."""
    n = max_hamming + 1
    if not 1 <= n <= 64:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    base, extra = divmod(64, n)
    parts, off = [], 0
    for b in range(n):
        width = base + (1 if b < extra else 0)
        shifted = F.shiftrightunsigned(col, off)
        # a full-width block needs no mask (and (1<<64)-1 would
        # overflow the int64 literal)
        parts.append(
            shifted if width == 64
            else shifted.bitwiseAND(F.lit((1 << width) - 1))
        )
        off += width
    return F.array(*parts)


def near_dup_images(features: DataFrame, max_hamming: int = 4) -> DataFrame:
    """Perceptual-hash near-dup pairs over extracted features — the
    pigeonhole equi-join as in SimHash text dedup (operators/dedup.py),
    with ``max_hamming + 1`` blocks so the candidate set is COMPLETE
    for the requested distance (4 equal-width blocks would miss a
    distance-4 pair with one flipped bit per block)."""
    blocks = features.select(
        "media_id",
        "phash",
        F.posexplode(
            _phash_block_array(F.col("phash"), max_hamming)
        ).alias("block_id", "block_val"),
    )
    a = blocks.select("block_id", "block_val",
                      F.col("media_id").alias("id1"), F.col("phash").alias("p1"))
    b = blocks.select("block_id", "block_val",
                      F.col("media_id").alias("id2"), F.col("phash").alias("p2"))
    hamming = F.bit_count(F.col("p1").bitwiseXOR(F.col("p2")))
    return (
        a.join(b, ["block_id", "block_val"])
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id1", "id2"])
    )


def near_dup_videos(frames: DataFrame, max_hamming: int = 4,
                    min_frame_fraction: float = 1.0) -> DataFrame:
    """Near-duplicate video pairs from sampled frames: the image
    pigeonhole join, frame-aligned — candidates must share a phash
    block (``max_hamming + 1`` blocks, complete for the requested
    distance) AT THE SAME frame index, so two videos only pair
    through positionally-matching content.  A pair survives when at
    least ``min_frame_fraction`` of the smaller video's sampled frames
    match within ``max_hamming``.  Output: (id1, id2, n_frames_matched,
    max_hamming) per surviving pair.

    Scale shape: the join key is (frame_idx, block_id, block_val) — the
    same bucketed equi-join as SimHash/near_dup_images, never all-pairs
    across the corpus."""
    blocks = frames.select(
        "media_id", "frame_idx", "frame_phash",
        F.posexplode(
            _phash_block_array(F.col("frame_phash"), max_hamming)
        ).alias("block_id", "block_val"),
    )
    a = blocks.select(
        "frame_idx", "block_id", "block_val",
        F.col("media_id").alias("id1"), F.col("frame_phash").alias("p1"),
    )
    b = blocks.select(
        "frame_idx", "block_id", "block_val",
        F.col("media_id").alias("id2"), F.col("frame_phash").alias("p2"),
    )
    hamming = F.bit_count(F.col("p1").bitwiseXOR(F.col("p2")))
    frame_matches = (
        a.join(b, ["frame_idx", "block_id", "block_val"])
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "frame_idx", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id1", "id2", "frame_idx"])
    )
    counts = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("_nf")
    )
    # per-side frame counts attach via two equi-joins on the (already
    # aggregated, tiny) pair set — never a videos x videos product
    return (
        frame_matches.groupBy("id1", "id2")
        .agg(
            F.count(F.lit(1)).alias("n_frames_matched"),
            F.max("hamming").alias("max_hamming"),
        )
        .join(counts.select(F.col("media_id").alias("id1"),
                            F.col("_nf").alias("_n1")), "id1")
        .join(counts.select(F.col("media_id").alias("id2"),
                            F.col("_nf").alias("_n2")), "id2")
        .filter(
            F.col("n_frames_matched")
            >= F.ceil(F.least("_n1", "_n2") * F.lit(min_frame_fraction))
        )
        .select("id1", "id2", "n_frames_matched", "max_hamming")
    )
