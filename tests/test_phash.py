"""Tests: real pixel decode (PPM/PGM/BMP), perceptual hashing, and
signature-generic Hamming near-dup pairs."""

from __future__ import annotations

import struct

import numpy as np
import pytest


def make_ppm(pixels: np.ndarray) -> bytes:
    """P6 binary PPM from an (H, W, 3) uint8 array."""
    h, w, _ = pixels.shape
    return b"P6\n# test\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def make_pgm(pixels: np.ndarray) -> bytes:
    h, w = pixels.shape
    return b"P5 %d %d 255 " % (w, h) + pixels.tobytes()


def make_bmp(pixels: np.ndarray, bottom_up: bool = True) -> bytes:
    """Uncompressed 24-bpp BMP from an (H, W, 3) uint8 RGB array."""
    h, w, _ = pixels.shape
    stride = (w * 3 + 3) & ~3
    raster = b""
    rows = range(h - 1, -1, -1) if bottom_up else range(h)
    for r in rows:
        row = pixels[r][:, ::-1].tobytes()  # RGB → BGR
        raster += row + b"\x00" * (stride - len(row))
    header = b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h if bottom_up else -h, 1, 24, 0,
        len(raster), 0, 0, 0, 0,
    )
    return header + info + raster


def _gradient(h=16, w=16):
    g = np.zeros((h, w, 3), dtype=np.uint8)
    g[:, :, 0] = np.linspace(0, 255, w, dtype=np.uint8)[None, :]
    g[:, :, 1] = np.linspace(0, 255, h, dtype=np.uint8)[:, None]
    return g


def test_decode_pixels_ppm_pgm_bmp_agree():
    from archive_to_parquet_spark.operators.multimodal import decode_pixels

    img = _gradient()
    ppm = decode_pixels(make_ppm(img))
    bmp = decode_pixels(make_bmp(img))
    bmp_td = decode_pixels(make_bmp(img, bottom_up=False))
    assert ppm.shape == bmp.shape == (16, 16)
    # same pixels through either container (both use 0.299/0.587/0.114)
    assert np.allclose(ppm, bmp, atol=1e-9)
    assert np.allclose(bmp, bmp_td, atol=1e-9)

    gray = (img[:, :, 0] * 0.5).astype(np.uint8)
    pgm = decode_pixels(make_pgm(gray))
    assert pgm.shape == (16, 16)
    assert np.allclose(pgm, gray.astype(float))


def test_decode_pixels_rejects_codec_formats():
    from archive_to_parquet_spark.operators.multimodal import decode_pixels

    assert decode_pixels(b"\x89PNG\r\n\x1a\n" + b"\x00" * 40) is None
    assert decode_pixels(b"\xff\xd8\xff\xe0" + b"\x00" * 40) is None
    assert decode_pixels(b"") is None


def test_perceptual_hash_robust_to_small_change_distinct_for_different():
    from archive_to_parquet_spark.operators.multimodal import perceptual_hash

    base = _gradient(32, 32)
    near = base.copy()
    near[0, 0] = [255, 255, 255]  # one pixel
    far = 255 - base  # inverted
    for method in ("ahash", "dhash"):
        h_base = perceptual_hash(make_ppm(base), method)
        h_near = perceptual_hash(make_ppm(near), method)
        h_far = perceptual_hash(make_ppm(far), method)
        d_near = bin((h_base ^ h_near) & ((1 << 64) - 1)).count("1")
        d_far = bin((h_base ^ h_far) & ((1 << 64) - 1)).count("1")
        assert d_near <= 2, method
        assert d_far > 16, method


def test_perceptual_hash_tiny_image_upsamples():
    from archive_to_parquet_spark.operators.multimodal import perceptual_hash

    img = np.zeros((2, 3, 3), dtype=np.uint8)
    img[0, :, :] = 255
    assert perceptual_hash(make_ppm(img), "ahash") is not None


def test_image_perceptual_hashes_and_hamming_pairs(spark):
    from archive_to_parquet_spark.operators.dedup import hamming_near_duplicates
    from archive_to_parquet_spark.operators.multimodal import (
        image_perceptual_hashes,
    )

    base = _gradient(32, 32)
    near = base.copy()
    near[3, 3] = [0, 0, 0]
    far = 255 - base
    rows = [
        (1, bytearray(make_ppm(base))),
        (2, bytearray(make_ppm(near))),
        (3, bytearray(make_bmp(far))),
        (4, bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 40)),  # codec-gated
    ]
    media = spark.createDataFrame(rows, ["media_id", "data"])
    hashed = image_perceptual_hashes(media)
    got = {r["media_id"]: r for r in hashed.collect()}
    assert got[1]["width"] == 32 and got[1]["phash"] is not None
    assert got[4]["phash"] is None and got[4]["width"] is None

    pairs = hamming_near_duplicates(
        hashed, id_col="media_id", sig_col="phash", max_hamming=3
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_hamming_near_duplicates_pigeonhole_guarantee(spark):
    from archive_to_parquet_spark.operators.dedup import hamming_near_duplicates

    # pairs within max_hamming < num_tables MUST be found regardless of
    # which bits differ (pigeonhole over 16-bit chunks), including bits
    # spread across distinct chunks and the sign bit
    sigs = [
        (1, 0),
        (2, 0b111),                      # 3 bits, same chunk
        (3, (1 << 0) | (1 << 20) | (1 << 40)),  # 3 bits, 3 chunks
        (4, -(1 << 63)),                 # sign bit only → 1 bit from 0
        (5, 0x0F0F0F0F0F0F0F0F),         # far from everything
    ]
    df = spark.createDataFrame(sigs, ["id", "sig"])
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_near_duplicates(df, max_hamming=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 3
    assert (1, 3) in pairs and pairs[(1, 3)] == 3
    assert (1, 4) in pairs and pairs[(1, 4)] == 1
    assert all(h <= 3 for h in pairs.values())
    assert not any(5 in p for p in pairs)


def test_hamming_near_duplicates_drops_nulls(spark):
    from archive_to_parquet_spark.operators.dedup import hamming_near_duplicates

    df = spark.createDataFrame(
        [(1, 0), (2, None), (3, 1)], "id long, sig long"
    )
    pairs = hamming_near_duplicates(df, max_hamming=3).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(1, 3, 1)]


def make_wav(samples: np.ndarray, rate: int = 8000, bits: int = 16) -> bytes:
    """PCM WAV from float samples in [-1, 1]."""
    if bits == 16:
        raw = (samples * 32767).astype("<i2").tobytes()
    else:
        raw = ((samples * 127) + 128).clip(0, 255).astype(np.uint8).tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * bits // 8, bits // 8, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(raw)) + raw
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_pcm_roundtrip_16_and_8_bit():
    from archive_to_parquet_spark.operators.multimodal import decode_pcm

    t = np.linspace(0, 1, 8000)
    sig = 0.5 * np.sin(2 * np.pi * 440 * t)
    for bits in (16, 8):
        rate, mono = decode_pcm(make_wav(sig, bits=bits))
        assert rate == 8000 and mono.size == 8000
        tol = 1e-3 if bits == 16 else 2e-2
        assert np.abs(mono - sig).max() < tol


def test_audio_fingerprint_similar_vs_different(spark):
    from archive_to_parquet_spark.operators.dedup import hamming_near_duplicates
    from archive_to_parquet_spark.operators.multimodal import (
        audio_fingerprint64,
        audio_fingerprints,
    )

    t = np.linspace(0, 1, 8000)
    burst = (t > 0.5).astype(float) * np.sin(2 * np.pi * 200 * t)
    quieter = 0.5 * burst  # gain change → same envelope shape
    other = (np.sin(2 * np.pi * 3 * t) > 0).astype(float) * np.sin(
        2 * np.pi * 200 * t
    )
    fp = lambda s: audio_fingerprint64(make_wav(s))  # noqa: E731
    d_gain = bin((fp(burst) ^ fp(quieter)) & ((1 << 64) - 1)).count("1")
    d_other = bin((fp(burst) ^ fp(other)) & ((1 << 64) - 1)).count("1")
    assert d_gain <= 2
    assert d_other > 10

    media = spark.createDataFrame(
        [
            (1, bytearray(make_wav(burst))),
            (2, bytearray(make_wav(quieter))),
            (3, bytearray(make_wav(other))),
            (4, bytearray(b"fLaC" + b"\x00" * 40)),  # codec-gated → null
        ],
        ["media_id", "data"],
    )
    fps = audio_fingerprints(media)
    rows = {r["media_id"]: r for r in fps.collect()}
    assert rows[1]["sample_rate"] == 8000 and rows[1]["n_samples"] == 8000
    assert rows[4]["fingerprint"] is None

    pairs = hamming_near_duplicates(
        fps, id_col="media_id", sig_col="fingerprint", max_hamming=3
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_mixed_batch_keeps_64_bit_hashes_exact(spark):
    """A null row in the same Arrow batch must not round the other rows'
    64-bit hashes: a long column built from a plain list with None in it
    becomes float64, which loses every value above 2^53."""
    from archive_to_parquet_spark.operators.multimodal import (
        audio_fingerprint64,
        audio_fingerprints,
        image_perceptual_hashes,
        perceptual_hash,
    )

    rng = np.random.default_rng(0)
    pgm = make_pgm(rng.integers(0, 256, (8, 8), dtype=np.uint8))
    wav = make_wav(rng.uniform(-1, 1, 4096))
    want_phash, want_fp = perceptual_hash(pgm), audio_fingerprint64(wav)
    # both are outside float64's exact-integer range
    assert float(want_phash) != want_phash and float(want_fp) != want_fp

    junk = bytearray(b"\x00\x01junk")  # undecodable → null row
    media = spark.createDataFrame(
        [(1, bytearray(pgm)), (2, junk), (3, bytearray(wav))],
        "media_id long, data binary",
    ).coalesce(1)
    phash = {r.media_id: r.phash for r in image_perceptual_hashes(media).collect()}
    assert phash[1] == want_phash and phash[2] is None
    fps = {r.media_id: r.fingerprint for r in audio_fingerprints(media).collect()}
    assert fps[3] == want_fp and fps[2] is None
