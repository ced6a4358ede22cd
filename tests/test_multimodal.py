"""Multimodal tests: REAL PNG/JPEG/WAV/MJPEG-AVI decoders (stdlib +
numpy) plus the mapInPandas plumbing; the deterministic fake decoder
survives only as decode_image's webp/gif plumbing double."""

import io
import struct
import wave
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloom_filters_spark.functions.multimodal import (
    MEDIA_SCHEMA,
    PNG_MAGIC,
    decode_image,
    decode_png,
    decode_wav,
    encode_png,
    extract_audio_features,
    extract_image_features,
    media_repartition,
    near_dup_images,
    sample_video_frames,
)


@pytest.fixture()
def media_df(spark):
    rng = np.random.default_rng(13)
    rows = []
    for i in range(40):
        payload = rng.integers(0, 256, 4096, dtype=np.uint8).tobytes()
        rows.append((i, "image", bytearray(payload), "image/fake", 32, 32, None))
    # plant a byte-identical duplicate payload (rows 40 ~ row 0)
    rows.append((40, "image", bytearray(rows[0][2]), "image/fake", 32, 32, None))
    # a couple of "videos"
    for i in (50, 51):
        payload = rng.integers(0, 256, 20000, dtype=np.uint8).tobytes()
        rows.append((i, "video", bytearray(payload), "video/fake", None, None, 3000))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image(b"xx")


# ---------------------------------------------------------------------------
# real PNG decoder
# ---------------------------------------------------------------------------

def _chunk(typ, data):
    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))


def test_png_roundtrip_all_color_types():
    rng = np.random.default_rng(3)
    for c in (1, 2, 3, 4):
        img = rng.integers(0, 256, (13, 9, c), dtype=np.uint8)
        got = decode_png(encode_png(img))
        assert got.shape == img.shape
        assert np.array_equal(got, img)


def _forward_filter(ftype, line, prev, bpp):
    """Independent spec-forward filter (PNG §9) for exercising every
    unfilter branch — written per-byte from the spec, not by inverting
    the decoder."""
    out = bytearray(len(line))
    for i in range(len(line)):
        a = line[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) // 2
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out[i] = (line[i] - pred) & 0xFF
    return bytes(out)


def test_png_unfilters_every_filter_type():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (5, 6, 3), dtype=np.uint8)
    h, w, c = img.shape
    raw = b""
    prev = bytes(w * c)
    for y in range(h):
        line = img[y].tobytes()
        f = y % 5  # rows cycle through filters 0..4
        raw += bytes([f]) + _forward_filter(f, line, prev, c)
        prev = line
    payload = (
        PNG_MAGIC
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(payload), img)


def test_png_palette():
    palette = np.array([[250, 0, 0], [0, 250, 0], [0, 0, 250]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    payload = (
        PNG_MAGIC
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + _chunk(b"PLTE", palette.tobytes())
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(payload), palette[idx])


# ---------------------------------------------------------------------------
# real WAV decoder (cross-checked against the stdlib wave writer)
# ---------------------------------------------------------------------------

def _make_wav(samples: np.ndarray, rate: int, channels: int) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def test_wav_decode_matches_stdlib_writer():
    rate = 8000
    t = np.arange(0, rate // 4)  # 250ms
    tone = (np.sin(2 * np.pi * 440 * t / rate) * 20000).astype(np.int16)
    stereo = np.stack([tone, -tone], axis=1).reshape(-1)
    samples, got_rate = decode_wav(_make_wav(stereo, rate, 2))
    assert got_rate == rate
    assert samples.shape == (rate // 4, 2)
    assert np.allclose(samples[:, 0], tone / 32768.0)
    assert np.allclose(samples[:, 1], -tone / 32768.0)


def test_extract_audio_features_spark(spark):
    rate = 8000
    t = np.arange(0, rate // 2)
    rows = []
    for i, freq in enumerate((220, 880)):
        tone = (np.sin(2 * np.pi * freq * t / rate) * 16000).astype(np.int16)
        rows.append((i, bytearray(_make_wav(tone, rate, 1))))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    feats = {r["media_id"]: r for r in extract_audio_features(df).collect()}
    assert feats[0]["sample_rate"] == rate
    assert feats[0]["duration_ms"] == 500
    assert 0.6 < feats[0]["rms"] / (16000 / 32768 / np.sqrt(2)) < 1.4
    # higher frequency → higher zero-crossing rate
    assert feats[1]["zero_crossing_rate"] > feats[0]["zero_crossing_rate"]


def test_extract_image_features_real_png(spark):
    rng = np.random.default_rng(11)
    imgs = {i: rng.integers(0, 256, (16, 12, 3), dtype=np.uint8) for i in range(3)}
    imgs[3] = imgs[0].copy()  # byte-identical duplicate image
    rows = [(i, bytearray(encode_png(img))) for i, img in imgs.items()]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    feats_df = extract_image_features(df)
    feats = {r["media_id"]: r for r in feats_df.collect()}
    assert feats[0]["width"] == 12 and feats[0]["height"] == 16
    assert np.allclose(feats[0]["channel_means"], imgs[0].mean(axis=(0, 1)))
    assert feats[0]["phash"] == feats[3]["phash"]
    pairs = {(r["id1"], r["id2"])
             for r in near_dup_images(feats_df, 0).collect()}
    assert (0, 3) in pairs


def test_extract_image_features(spark, media_df):
    feats = extract_image_features(
        media_df.filter(F.col("kind") == "image"), fake_decode=True
    )
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 41
    assert rows[0]["width"] == 32 and rows[0]["height"] == 32
    assert len(rows[0]["channel_means"]) == 3
    # identical payloads → identical features
    assert rows[0]["phash"] == rows[40]["phash"]
    assert rows[0]["channel_means"] == rows[40]["channel_means"]
    # deterministic across runs
    again = {r["media_id"]: r["phash"] for r in feats.collect()}
    assert again == {k: v["phash"] for k, v in rows.items()}


def test_extract_image_features_grayscale_jpeg(spark):
    """Grayscale JPEG decodes to (h, w); channel_means must be the
    one-element list the array<double> schema declares, not a scalar."""
    from bloom_filters_spark.functions.jpeg import encode_jpeg

    g = (np.arange(24 * 16) % 256).reshape(24, 16).astype(np.uint8)
    df = spark.createDataFrame(
        [(0, bytearray(encode_jpeg(g, subsampling="444")))],
        "media_id long, payload binary",
    )
    row = extract_image_features(df).collect()[0]
    assert row["width"] == 16 and row["height"] == 24
    assert len(row["channel_means"]) == 1
    assert row["channel_means"][0] == pytest.approx(float(g.mean()), abs=4)


def test_near_dup_images_pigeonhole_complete_at_max_hamming(spark):
    """A distance-4 pair with one flipped bit per 16-bit quarter has NO
    equal 16-bit block — the (max_hamming + 1)-block pigeonhole must
    still produce it at the default max_hamming=4."""
    p1 = 0x0123456789ABCDEF
    p2 = p1 ^ 0x0001000100010001  # one bit flipped in each 16-bit block
    feats = spark.createDataFrame(
        [(0, 8, 8, 64, [1.0], p1), (1, 8, 8, 64, [1.0], p2)],
        "media_id long, width int, height int, n_bytes long, "
        "channel_means array<double>, phash long",
    )
    rows = {(r["id1"], r["id2"]): r["hamming"]
            for r in near_dup_images(feats, 4).collect()}
    assert rows == {(0, 1): 4}
    # and distance 5 stays out at max_hamming=4 (bit 63 flip → wrap to
    # the signed int64 the phash column stores)
    p3 = p2 ^ (1 << 63)
    if p3 >= 1 << 63:
        p3 -= 1 << 64
    feats2 = spark.createDataFrame(
        [(0, 8, 8, 64, [1.0], p1), (1, 8, 8, 64, [1.0], p3)],
        "media_id long, width int, height int, n_bytes long, "
        "channel_means array<double>, phash long",
    )
    assert near_dup_images(feats2, 4).count() == 0


def test_near_dup_images_finds_planted_pair(spark, media_df):
    feats = extract_image_features(
        media_df.filter(F.col("kind") == "image"), fake_decode=True
    )
    pairs = {(r["id1"], r["id2"]) for r in near_dup_images(feats, 0).collect()}
    assert (0, 40) in pairs


def test_video_frame_sampling(spark):
    """REAL path: MJPEG-AVI fixture videos → one frame row per
    every_ms, frame_idx = source frame index, phash from the decoded
    pixels (cross-checked against the PRE-ENCODE source frames)."""
    from bloom_filters_spark.functions.multimodal import _phash
    from bloom_filters_spark.sources.media import (
        source_video_frames,
        video_table,
    )

    vids = video_table(spark, n=4)  # 8 frames @ 4fps = 2000ms each
    frames = sample_video_frames(vids, every_ms=500)
    rows = frames.collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert sorted(by_media) == [0, 1, 2, 3]
    # ts 0/500/1000/1500ms at 4fps → source frames 0,2,4,6
    assert all(sorted(v) == [0, 2, 4, 6] for v in by_media.values())
    # decoded-frame phash matches the pre-encode source frame's phash
    # (JPEG is lossy but the 8x8-DCT phash sees through q=92)
    src = source_video_frames(n=4)
    got = {(r["media_id"], r["frame_idx"]): r["frame_phash"] for r in rows}
    for (mid, idx), ph in got.items():
        want = _phash(src[mid][idx])
        assert bin(ph ^ want).count("1") <= 2, (mid, idx)


def test_video_sampling_rejects_non_avi(spark):
    import pyspark

    rows = [(1, bytearray(b"not an avi at all" * 10))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    with pytest.raises(pyspark.errors.exceptions.captured.PythonException,
                       match="RIFF"):
        sample_video_frames(df).collect()


def test_near_dup_videos_planted_pairs(spark):
    """Odd fixture ids are per-frame near-copies of id-1: exactly the
    planted pairs survive at max_hamming=2 with every sampled frame
    matching; the closest non-planted pair sits at hamming 5."""
    from bloom_filters_spark.functions.multimodal import near_dup_videos
    from bloom_filters_spark.sources.media import video_table

    frames = sample_video_frames(video_table(spark), every_ms=500)
    got = sorted(
        tuple(r) for r in near_dup_videos(frames, max_hamming=2).collect()
    )
    assert [(a, b, n) for a, b, n, _ in got] == [
        (0, 1, 4), (2, 3, 4), (4, 5, 4), (6, 7, 4), (8, 9, 4), (10, 11, 4)
    ]
    assert all(h <= 2 for _, _, _, h in got)
    loose = near_dup_videos(frames, max_hamming=4).collect()
    assert len(loose) == 6  # margin: next pair is at hamming 5


def test_media_repartition_sizes(spark, media_df):
    out = media_repartition(media_df, target_bytes_per_partition=50_000)
    # ~4KB * 43 rows = ~190KB → ceil(190/50)+... at least 3 partitions
    assert out.rdd.getNumPartitions() >= 3
    assert out.count() == media_df.count()


# ---------------------------------------------------------------------------
# JPEG (functions/jpeg.py) — baseline codec from the public T.81 spec
# ---------------------------------------------------------------------------

# Two tiny public test JPEGs (from the IPython and CPython test suites)
# pinned as byte fixtures: real libjpeg-produced files covering the
# grayscale and 4:2:0-subsampled decode paths independently of our own
# encoder.
_JPEG_GRAY_2X2_B64 = (
    "/9j/4AAQSkZJRgABAQAAAQABAAD/2wBDAAgGBgcGBQgHBwcJCQgKDBQNDAsLDBkSEw8UHRof"
    "Hh0aHBwgJC4nICIsIxwcKDcpLDAxNDQ0Hyc5PTgyPC4zNDL/wAALCAACAAIBAREA/8QAHwAA"
    "AQUBAQEBAQEAAAAAAAAAAAECAwQFBgcICQoL/8QAtRAAAgEDAwIEAwUFBAQAAAF9AQIDAAQR"
    "BRIhMUEGE1FhByJxFDKBkaEII0KxwRVS0fAkM2JyggkKFhcYGRolJicoKSo0NTY3ODk6Q0RF"
    "RkdISUpTVFVWV1hZWmNkZWZnaGlqc3R1dnd4eXqDhIWGh4iJipKTlJWWl5iZmqKjpKWmp6ip"
    "qrKztLW2t7i5usLDxMXGx8jJytLT1NXW19jZ2uHi4+Tl5ufo6erx8vP09fb3+Pn6/9oACAEB"
    "AAA/ACv/2Q=="
)
_JPEG_LOGO_420_B64 = (
    "/9j/4AAQSkZJRgABAQEAAQABAAD/2wBDAAMCAgICAgMCAgIDAwMDBAYEBAQEBAgGBgUGCQgK"
    "CgkICQkKDA8MCgsOCwkJDRENDg8QEBEQCgwSExIQEw8QEBD/2wBDAQMDAwQDBAgEBAgQCwkL"
    "EBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBD/wAAR"
    "CAAQABADASIAAhEBAxEB/8QAFgABAQEAAAAAAAAAAAAAAAAABwQF/8QAJBAAAQQBBAICAwAA"
    "AAAAAAAAAQIDBAYFBwgSExEiABQJMTL/xAAVAQEBAAAAAAAAAAAAAAAAAAAABv/EACMRAAEC"
    "BQMFAAAAAAAAAAAAAAECEQMEBQYhABIxFRZhgeH/2gAMAwEAAhEDEQA/ABSm0mobc8HmExLU"
    "lRzzEWPkJWW+ulrsaUVAseUgslSlH9LKuPryIKuWPZdskzXmm3fX5m2nF4GlVxx/HOpx4ks5"
    "1+MiU/Iaad7UcUo4tILoS4kqcWkezS0hO/HvuRp0rO6hWnWO1UisZVuFi4GFeyEpmGepa5S5"
    "SWVPuciFKRFLgSrwetnyPIB+Vb4N9mKhQMzo5po9XLdDs9d6ZVix2VEhiL9kuNPxw2gEKcDQ"
    "/rs8AuA8VAe0vdl7VOYn+27flGAUgmITjbhSmCg3BYlyeWDkMolvw4KOp1KM6iCNvngZHwet"
    "f//Z"
)


def test_decode_jpeg_real_gray_fixture():
    """Real libjpeg-produced 2x2 grayscale baseline file → pinned
    pixels (uniform mid-gray)."""
    import base64
    import hashlib

    from bloom_filters_spark.functions.jpeg import decode_jpeg

    img = decode_jpeg(base64.b64decode(_JPEG_GRAY_2X2_B64))
    assert img.shape == (2, 2)
    assert hashlib.sha256(img.tobytes()).hexdigest() == (
        "8d65a89d33fc69d31f85fd8ed396d6dd5672cd59f80bd2ced560d4bbaeb43222"
    )
    assert img.tolist() == [[128, 128], [128, 128]]


def test_decode_jpeg_real_420_fixture():
    """Real libjpeg-produced 16x16 4:2:0 color file (CPython test
    suite's python.jpg logo) → pinned decode checksum; channel means
    sanity-checked (blue+yellow logo)."""
    import base64
    import hashlib

    import numpy as np

    from bloom_filters_spark.functions.jpeg import decode_jpeg

    img = decode_jpeg(base64.b64decode(_JPEG_LOGO_420_B64))
    assert img.shape == (16, 16, 3)
    assert hashlib.sha256(img.tobytes()).hexdigest() == (
        "90fd671798cd956be18607fbb27667821a3dfd142d87a4df46721f4df5ae6e82"
    )
    means = img.reshape(-1, 3).mean(axis=0)
    assert np.allclose(means, [97.539, 101.848, 75.934], atol=0.01)


def test_jpeg_roundtrip_psnr_all_paths():
    """Encoder→decoder round trip across subsampling x restart-interval
    combinations: high PSNR and exact determinism."""
    import numpy as np

    from bloom_filters_spark.functions.jpeg import decode_jpeg, encode_jpeg

    yy, xx = np.mgrid[0:45, 0:61]
    img = np.stack([
        (xx * 3 + yy) % 256,
        128 + 100 * np.sin(xx / 9.0),
        (255 - yy * 2) % 256,
    ], axis=-1).astype(np.uint8)

    def psnr(a, b):
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        return 10 * np.log10(255 ** 2 / max(mse, 1e-12))

    for sub, floor in (("444", 42.0), ("420", 36.0)):
        for rst in (0, 2, 5):
            enc = encode_jpeg(img, quality=92, subsampling=sub,
                              restart_interval=rst)
            dec = decode_jpeg(enc)
            assert dec.shape == img.shape
            assert psnr(img, dec) > floor, (sub, rst)
            assert decode_jpeg(enc).tobytes() == dec.tobytes()  # determinism
    gray = ((xx * 2 + yy * 3) % 256).astype(np.uint8)
    encg = encode_jpeg(gray, quality=90, restart_interval=3)
    assert psnr(gray, decode_jpeg(encg)) > 45.0


def test_decode_image_routes_jpeg():
    import numpy as np

    from bloom_filters_spark.functions.jpeg import encode_jpeg
    from bloom_filters_spark.functions.multimodal import decode_image

    img = (np.mgrid[0:16, 0:24][0] * 10 % 256).astype(np.uint8)
    out = decode_image(encode_jpeg(img, quality=95))
    assert out.shape == (16, 24)
    # progressive routes through the same entry point
    from bloom_filters_spark.functions.jpeg import encode_jpeg_progressive

    assert (decode_image(encode_jpeg_progressive(img, quality=95))
            == out).all()
    # truncated SOF2 header with no scan is rejected as malformed
    import pytest as _pytest

    with _pytest.raises((NotImplementedError, ValueError)):
        decode_image(b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00\xff\xd9")


def test_progressive_jpeg_decodes_identical_to_baseline():
    """A progressive (SOF2) stream at the same (quality, subsampling)
    carries bit-identical quantized coefficients to the baseline
    stream, so it must decode to the IDENTICAL pixel array — and the
    baseline decoder is itself pinned against real libjpeg output
    above, so this transitively validates the whole Annex-G path
    (spectral selection, successive approximation, EOB runs) against
    libjpeg.  Sweeps gray/color, 4:4:4/4:2:0, odd/MCU-aligned dims,
    and quality extremes."""
    import numpy as np

    from bloom_filters_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(7)
    cases = [((16, 24), "444"), ((33, 41, 3), "444"), ((33, 41, 3), "420"),
             ((8, 8), "444"), ((64, 48, 3), "420"), ((17, 9, 3), "444"),
             ((1, 1), "444"), ((9, 8, 3), "420")]
    for shape, sub in cases:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        for q in (25, 50, 90, 95):
            s = sub if len(shape) == 3 else "444"
            base = decode_jpeg(encode_jpeg(img, quality=q, subsampling=s))
            prog = decode_jpeg(
                encode_jpeg_progressive(img, quality=q, subsampling=s)
            )
            assert base.shape == prog.shape
            assert (base == prog).all(), (shape, s, q)


def test_progressive_jpeg_pinned_pixels():
    """Determinism pin for the progressive path: a fixed seeded image's
    progressive stream and its decode hash must never drift (same
    contract shape as the baseline pinned fixtures)."""
    import hashlib

    import numpy as np

    from bloom_filters_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    yy, xx = np.mgrid[0:24, 0:32]
    img = np.stack([
        (xx * 5 + yy * 2) % 256,
        (128 + 100 * np.sin(xx / 7.0)) % 256,
        (yy * 9) % 256,
    ], axis=-1).astype(np.uint8)
    enc = encode_jpeg_progressive(img, quality=92, subsampling="420")
    assert b"\xff\xc2" in enc[:256]  # really SOF2
    dec = decode_jpeg(enc)
    assert dec.shape == (24, 32, 3)
    assert decode_jpeg(enc).tobytes() == dec.tobytes()  # determinism
    digest = hashlib.sha256(enc).hexdigest(), hashlib.sha256(
        dec.tobytes()
    ).hexdigest()
    assert digest == (
        "b7672e482eaa2b8d724a9278b45f995e576ed19a7fcf0b73e9b829f62cf88382",
        "0da852e9c622314877e467cc430241ddc04bc31127653741e9bb7b92a58b2552",
    ), digest


def test_media_fixture_contains_progressive_jpeg():
    """The driver-oracled media table must exercise the SOF2 decode
    path for real: every (i % 6 == 5) row is a progressive stream, and
    its decoded features equal the baseline encoding's of the same
    source pixels."""
    import numpy as np

    from bloom_filters_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from bloom_filters_spark.sources.media import (
        generate_media_pdf,
        source_images,
    )

    pdf = generate_media_pdf()
    src = source_images()
    prog_rows = pdf[pdf.media_id % 6 == 5]
    assert len(prog_rows) == 8
    for _, row in prog_rows.iterrows():
        payload = bytes(row.payload)
        assert payload[:2] == b"\xff\xd8" and b"\xff\xc2" in payload[:256]
        dec = decode_jpeg(payload)
        base = decode_jpeg(encode_jpeg(src[row.media_id], quality=92))
        assert (dec == base).all()
        assert np.asarray(dec).shape == (32, 32, 3)


def test_media_fixture_features_match_source_arrays(spark):
    """The driver media queries' pinned oracle is trustworthy only if
    decoded features equal the PRE-ENCODE ground truth: for PNG rows
    the codec is lossless, so channel means and phash must match the
    source arrays exactly (a check independent of the decoders); JPEG
    rows must be close.  Also pins the planted-pair structure the
    media_phash_dups oracle encodes."""
    import numpy as np

    from bloom_filters_spark.functions.multimodal import (
        _phash,
        extract_image_features,
        near_dup_images,
    )
    from bloom_filters_spark.sources.media import media_table, source_images

    media = media_table(spark)
    src = source_images()
    feats = {r["media_id"]: r for r in
             extract_image_features(media).collect()}
    mimes = {r["media_id"]: r["mime"] for r in
             media.select("media_id", "mime").collect()}
    assert set(feats) == set(src)
    for mid, img in src.items():
        got = feats[mid]
        want_means = img.mean(axis=(0, 1))
        if mimes[mid] == "image/png":
            assert np.allclose(got["channel_means"], want_means, atol=1e-12)
            assert got["phash"] == _phash(img)
        else:  # baseline JPEG: lossy but close
            assert np.allclose(got["channel_means"], want_means, atol=2.0)
    pairs = {(r["id1"], r["id2"]) for r in
             near_dup_images(
                 extract_image_features(media), max_hamming=2
             ).collect()}
    assert pairs == {(i, i + 1) for i in range(0, 48, 2)}


def test_jpeg_truncation_raises_contract_errors():
    """Every byte-truncation point of both stream kinds must raise the
    module's documented error classes (ValueError/NotImplementedError),
    never IndexError/struct.error escaping from a Spark task."""
    import numpy as np

    from bloom_filters_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    img = (np.mgrid[0:16, 0:24][0] * 7 % 256).astype(np.uint8)
    for enc in (encode_jpeg_progressive(img), encode_jpeg(img)):
        for cut in range(2, len(enc), 3):
            try:
                decode_jpeg(enc[:cut])
            except (ValueError, NotImplementedError):
                continue
            # a short cut may still decode (e.g. only EOI missing)


def test_jpeg_progressive_baseline_parity_property():
    """Property test (hypothesis): for ANY image shape, content seed,
    quality, and subsampling in the supported envelope, the progressive
    and baseline encoders of the same pixels decode to the IDENTICAL
    array — the shared-coefficient invariant, not just the pinned
    cases."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bloom_filters_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    @settings(max_examples=12, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        color=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
        quality=st.sampled_from([30, 60, 90, 97]),
        sub=st.sampled_from(["444", "420"]),
    )
    def check(h, w, color, seed, quality, sub):
        rng = np.random.RandomState(seed)
        shape = (h, w, 3) if color else (h, w)
        img = rng.randint(0, 256, shape).astype(np.uint8)
        s = sub if color else "444"
        base = decode_jpeg(encode_jpeg(img, quality=quality, subsampling=s))
        prog = decode_jpeg(
            encode_jpeg_progressive(img, quality=quality, subsampling=s)
        )
        assert base.shape == prog.shape
        assert (base == prog).all()

    check()


def test_jpeg_fill_bytes_before_markers_decode():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker.
    Our encoder never emits them; externally-encoded payloads may — the
    decoder must skip them and produce identical pixels."""
    from bloom_filters_spark.functions.jpeg import decode_jpeg, encode_jpeg

    img = (np.mgrid[0:24, 0:16][0] * 11 % 256).astype(np.uint8)
    enc = encode_jpeg(img, quality=85)
    want = decode_jpeg(enc)

    # fill bytes right after SOI (before the first header marker)
    padded = enc[:2] + b"\xff" * 3 + enc[2:]
    assert (decode_jpeg(padded) == want).all()

    # fill bytes before EVERY header marker up to (and including) SOS
    out = bytearray(enc[:2])
    pos = 2
    while pos + 1 < len(enc):
        assert enc[pos] == 0xFF
        marker = enc[pos + 1]
        out += b"\xff\xff" + enc[pos:pos + 2]
        if marker == 0xDA:  # SOS: entropy data follows, copy the rest
            out += enc[pos + 2:]
            break
        seg_len = struct.unpack(">H", enc[pos + 2:pos + 4])[0]
        out += enc[pos + 2:pos + 2 + seg_len]
        pos += 2 + seg_len
    assert (decode_jpeg(bytes(out)) == want).all()

    # fill bytes running to EOF are still an error, not an IndexError
    with pytest.raises(ValueError):
        decode_jpeg(enc[:2] + b"\xff" * 8)


def test_progressive_scan_header_bounds_rejected():
    """T.81 Table B.3 scan-header bounds raise ValueError instead of
    silently mis-decoding (DC scan must have Se=0; AC needs
    Ss<=Se<=63; refinement must step one bit with Al in range)."""
    from bloom_filters_spark.functions.jpeg import _decode_progressive_scan

    def run(ss, se, ah, al):
        # validation fires before any state is touched, so dummies do
        _decode_progressive_scan(
            b"", 0, None, None, [], ss, se, ah, al, {}, {}, 0
        )

    for bad in [(0, 5, 0, 0),    # DC scan with Se != 0 (the multi-
                                 # component silently-as-DC case)
                (2, 1, 0, 0),    # Ss > Se
                (1, 64, 0, 0),   # Se out of range
                (0, 0, 0, 14),   # Al out of range
                (1, 5, 3, 1)]:   # Ah != Al + 1
        with pytest.raises(ValueError):
            run(*bad)


def test_avi_container_roundtrip_and_errors():
    """RIFF walk: frames round-trip bit-identically to a direct JPEG
    encode/decode; container violations raise the documented errors."""
    from bloom_filters_spark.functions.avi import (
        decode_avi_frame,
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )
    from bloom_filters_spark.functions.jpeg import decode_jpeg, encode_jpeg

    frames = []
    for t in range(5):
        yy, xx = np.mgrid[0:24, 0:40]
        frames.append(((xx * 3 + yy * 2 + t * 20) % 256).astype(np.uint8))
    avi = encode_avi_mjpeg(frames, fps=5, quality=88)
    meta, chunks = decode_avi_mjpeg(avi)
    assert meta == {"fps": 5.0, "n_frames": 5, "width": 40, "height": 24}
    for src, ch in zip(frames, chunks):
        want = decode_jpeg(encode_jpeg(src, quality=88, subsampling="444"))
        assert (decode_avi_frame(ch) == want).all()

    with pytest.raises(ValueError, match="RIFF"):
        decode_avi_mjpeg(b"JUNK" + avi[4:])
    with pytest.raises(ValueError, match="not an AVI"):
        decode_avi_mjpeg(avi[:8] + b"WAVE" + avi[12:])
    with pytest.raises(ValueError, match="truncated"):
        decode_avi_mjpeg(avi[:100])
    # non-MJPG compression fourcc in strf → honest NotImplementedError
    pos = avi.find(b"MJPG", avi.find(b"strf"))
    doctored = avi[:pos] + b"H264" + avi[pos + 4:]
    with pytest.raises(NotImplementedError, match="MJPG"):
        decode_avi_mjpeg(doctored)
    with pytest.raises(ValueError, match="at least one frame"):
        encode_avi_mjpeg([])


def test_avi_audio_first_mux_video_stream_01():
    """Stream numbers follow strl order (AVI 1.0): a muxer that lists
    the audio strl first stores video frames as '01dc' chunks — the
    walk must key frames off the vids strl's ordinal, not assume 00."""
    import struct

    from bloom_filters_spark.functions.avi import (
        decode_avi_frame,
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )

    yy, xx = np.mgrid[0:16, 0:24]
    frames = [((xx * 5 + yy * 3 + t * 40) % 256).astype(np.uint8)
              for t in range(3)]
    avi = bytearray(encode_avi_mjpeg(frames, fps=4, quality=90))

    # inject a dummy audio strl BEFORE the video strl in hdrl so the
    # video stream becomes stream 01, and rename its movi/idx1 chunks
    auds_strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh", b"auds", b"\x00\x00\x00\x00",
        0, 0, 0, 0, 1, 8000, 0, 8000, 0, 0xFFFFFFFF & -1, 1, 0, 0, 0, 0,
    )
    auds_strl = (b"LIST"
                 + struct.pack("<I", 4 + 8 + len(auds_strh) + 8 + 16)
                 + b"strl"
                 + b"strh" + struct.pack("<I", len(auds_strh)) + auds_strh
                 + b"strf" + struct.pack("<I", 16) + b"\x00" * 16)
    vids_strl_at = bytes(avi).find(b"strl")  # inside LIST('hdrl')
    insert_at = vids_strl_at - 8             # before the LIST header
    avi = (avi[:insert_at] + auds_strl + avi[insert_at:]
           ).replace(b"00dc", b"01dc")
    # grow the RIFF and hdrl LIST sizes by the injected strl
    grow = len(auds_strl)
    avi = bytearray(avi)
    (riff_sz,) = struct.unpack("<I", avi[4:8])
    avi[4:8] = struct.pack("<I", riff_sz + grow)
    hdrl_at = bytes(avi).find(b"LIST", 12)
    (hdrl_sz,) = struct.unpack("<I", avi[hdrl_at + 4:hdrl_at + 8])
    avi[hdrl_at + 4:hdrl_at + 8] = struct.pack("<I", hdrl_sz + grow)

    meta, chunks = decode_avi_mjpeg(bytes(avi))
    assert meta["n_frames"] == 3 and len(chunks) == 3
    assert decode_avi_frame(chunks[0]).shape == (16, 24)
