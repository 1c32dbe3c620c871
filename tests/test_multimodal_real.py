"""Tests: codec-free content-level multimodal decode — real pixel
features (PPM/BMP), real PCM audio features (WAV), and MP4 keyframe
byte-offset sampling via the stss/stsc/stco/stsz box walk."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tests.test_phash import make_ppm, make_wav


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def make_mp4(
    samples: list[bytes],
    sync: list[int] | None = (1, 4),
    samples_per_chunk: int = 3,
) -> bytes:
    """Minimal ISO BMFF file: ftyp + moov (one video trak with a full
    sample table) + mdat holding ``samples`` packed into chunks of
    ``samples_per_chunk``. Chunk offsets are absolute file offsets into
    mdat, like real muxers write."""
    n = len(samples)
    sizes = [len(s) for s in samples]
    mdat_payload = b"".join(samples)

    stsz = _box(
        b"stsz",
        struct.pack(">III", 0, 0, n) + struct.pack(f">{n}I", *sizes),
    )
    n_chunks = -(-n // samples_per_chunk)
    stsc = _box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, samples_per_chunk, 1))
    stss = (
        _box(b"stss", struct.pack(">II", 0, len(sync)) + struct.pack(f">{len(sync)}I", *sync))
        if sync is not None
        else b""
    )
    hdlr = _box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)

    # chunk offsets depend on total header size — build with a placeholder
    # stco then patch (fixed-width fields keep sizes stable)
    def build(chunk_offsets: list[int]) -> bytes:
        stco = _box(
            b"stco",
            struct.pack(">II", 0, n_chunks)
            + struct.pack(f">{n_chunks}I", *chunk_offsets),
        )
        stbl = _box(b"stbl", stss + stsc + stco + stsz)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", hdlr + minf)
        trak = _box(b"trak", mdia)
        moov = _box(b"moov", trak)
        ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        return ftyp + moov + _box(b"mdat", mdat_payload)

    draft = build([0] * n_chunks)
    mdat_start = len(draft) - len(mdat_payload)
    offsets = []
    pos = mdat_start
    for c in range(n_chunks):
        offsets.append(pos)
        pos += sum(sizes[c * samples_per_chunk : (c + 1) * samples_per_chunk])
    final = build(offsets)
    assert len(final) == len(draft)
    return final


def test_mp4_keyframe_samples_box_walk():
    from archive_to_parquet_spark.operators.multimodal import mp4_keyframe_samples

    samples = [f"frame-{i}".encode() * (i + 1) for i in range(7)]
    blob = make_mp4(samples, sync=[1, 4, 6])
    got = mp4_keyframe_samples(blob)
    assert [k for k, _, _ in got] == [1, 4, 6]
    for k, off, size in got:
        assert blob[off : off + size] == samples[k - 1]


def test_mp4_keyframe_samples_no_stss_means_all_sync():
    from archive_to_parquet_spark.operators.multimodal import mp4_keyframe_samples

    samples = [b"aaaa", b"bb", b"cccccc", b"d"]
    blob = make_mp4(samples, sync=None, samples_per_chunk=2)
    got = mp4_keyframe_samples(blob)
    assert [k for k, _, _ in got] == [1, 2, 3, 4]
    for k, off, size in got:
        assert blob[off : off + size] == samples[k - 1]


def test_mp4_keyframe_samples_rejects_non_bmff():
    from archive_to_parquet_spark.operators.multimodal import mp4_keyframe_samples

    assert mp4_keyframe_samples(b"RIFF\x00\x00\x00\x00AVI LIST") is None
    assert mp4_keyframe_samples(b"") is None


def test_sample_video_frames_real_slices_keyframes(spark):
    from archive_to_parquet_spark.operators.multimodal import sample_video_frames

    samples = [f"s{i}".encode() * 5 for i in range(6)]
    blob = make_mp4(samples, sync=[1, 3, 5])
    df = spark.createDataFrame([(1, bytearray(blob))], ["media_id", "data"])
    rows = sample_video_frames(df, every_n=1).collect()
    assert [(r.frame_idx, bytes(r.frame)) for r in rows] == [
        (1, samples[0]),
        (3, samples[2]),
        (5, samples[4]),
    ]
    # every_n subsamples the keyframe list
    rows2 = sample_video_frames(df, every_n=2).collect()
    assert [r.frame_idx for r in rows2] == [1, 5]


def test_sample_video_frames_real_rejects_non_mp4(spark):
    from archive_to_parquet_spark.operators.multimodal import sample_video_frames

    df = spark.createDataFrame([(1, bytearray(b"not a video"))], ["media_id", "data"])
    with pytest.raises(Exception, match="demuxer|NotImplemented"):
        sample_video_frames(df).collect()


def test_image_features_real_pixels_for_ppm(spark):
    from archive_to_parquet_spark.operators.multimodal import (
        _grid_mean,
        decode_pixels,
        extract_image_features,
    )

    px = np.zeros((8, 8, 3), dtype=np.uint8)
    px[:, 4:] = 255  # left black, right white
    blob = make_ppm(px)
    df = spark.createDataFrame([(1, bytearray(blob))], ["media_id", "data"])
    row = extract_image_features(df).collect()[0]
    assert (row.width, row.height, row.channels) == (8, 8, 3)
    want = [
        float(v) / 255.0 * 2.0 - 1.0
        for v in _grid_mean(decode_pixels(blob), 4, 4).ravel()
    ]
    assert row.feature == pytest.approx(want, abs=1e-6)
    # the left half must read dark, the right half bright
    assert row.feature[0] < -0.9 and row.feature[3] > 0.9


def test_audio_features_real_pcm_for_wav(spark):
    from archive_to_parquet_spark.operators.multimodal import extract_audio_features

    t = np.linspace(0, 1, 8000)
    sig = np.sin(2 * np.pi * 440 * t) * (t > 0.5)  # silent first half
    df = spark.createDataFrame(
        [(1, bytearray(make_wav(sig)))], ["media_id", "data"]
    )
    row = extract_audio_features(df).collect()[0]
    assert row.sample_rate == 8000
    assert row.n_samples == 8000
    assert row.duration_s == pytest.approx(1.0, abs=1e-6)
    # log-RMS energy: first blocks near the -200 dB floor, last well above
    assert row.mfcc[0] < -150 and row.mfcc[-1] > -40


def test_mp4_malformed_sample_table_degrades_to_none():
    """A truncated stsz (declares more samples than bytes) must return
    None — never a struct.error task failure (infallable-copy spirit)."""
    from archive_to_parquet_spark.operators.multimodal import mp4_keyframe_samples

    stsz = _box(b"stsz", struct.pack(">III", 0, 0, 100) + b"\x00" * 8)
    hdlr = _box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    stsc = _box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, 3, 1))
    stco = _box(b"stco", struct.pack(">II", 0, 1) + struct.pack(">I", 0))
    blob = _box(b"ftyp", b"isom") + _box(
        b"moov",
        _box(
            b"trak",
            _box(b"mdia", hdlr + _box(b"minf", _box(b"stbl", stsz + stsc + stco))),
        ),
    )
    assert mp4_keyframe_samples(blob) is None


# -- PNG: pure-stdlib pixel decode (zlib inflate + scanline unfilter) ---------


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib as _z

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", _z.crc32(ctype + body) & 0xFFFFFFFF)
    )


def make_png(
    pixels: np.ndarray,
    color: int,
    filters: list[int] | None = None,
    depth: int = 8,
    palette: bytes | None = None,
    interlace: int = 0,
) -> bytes:
    """Forward PNG encoder for tests: applies the requested per-row
    filter (independent implementation of spec §9's FORWARD direction,
    so the decoder's inverse is exercised against it, not against
    itself)."""
    import zlib as _z

    h, w = pixels.shape[:2]
    n_ch = pixels.shape[2] if pixels.ndim == 3 else 1
    px = pixels.reshape(h, w * n_ch).astype(np.int64)
    bpp = n_ch * (depth // 8)
    if depth == 16:
        wide = np.zeros((h, w * n_ch * 2), dtype=np.int64)
        wide[:, 0::2] = px  # MSB carries the value, LSB zero
        px = wide
    stride = px.shape[1]
    filters = filters if filters is not None else [0] * h
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        cur = px[y]
        f = filters[y]
        raw.append(f)
        for x in range(stride):
            a = int(cur[x - bpp]) if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            if f == 0:
                enc = cur[x]
            elif f == 1:
                enc = cur[x] - a
            elif f == 2:
                enc = cur[x] - b
            elif f == 3:
                enc = cur[x] - ((a + b) >> 1)
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc = cur[x] - pred
            raw.append(int(enc) & 0xFF)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _png_chunk(b"PLTE", palette)
    idat = _z.compress(bytes(raw))
    # split across two IDAT chunks to exercise concatenation
    mid = len(idat) // 2
    out += _png_chunk(b"IDAT", idat[:mid]) + _png_chunk(b"IDAT", idat[mid:])
    return out + _png_chunk(b"IEND", b"")


def test_png_gray_all_filters_roundtrip():
    """An 8-bit grayscale PNG using every filter type (None/Sub/Up/
    Average/Paeth, one per row) decodes to the exact pixel matrix."""
    from archive_to_parquet_spark.operators.multimodal import decode_pixels

    rng = np.random.RandomState(7)
    pix = rng.randint(0, 256, size=(5, 11)).astype(np.int64)
    blob = make_png(pix, color=0, filters=[0, 1, 2, 3, 4])
    gray = decode_pixels(blob)
    assert gray is not None and gray.shape == (5, 11)
    np.testing.assert_array_equal(gray, pix.astype(np.float64))


def test_png_rgb_luminance_and_paeth():
    from archive_to_parquet_spark.operators.multimodal import decode_pixels

    rng = np.random.RandomState(11)
    pix = rng.randint(0, 256, size=(4, 6, 3)).astype(np.int64)
    blob = make_png(pix, color=2, filters=[4, 4, 1, 3])
    gray = decode_pixels(blob)
    expected = pix.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    np.testing.assert_allclose(gray, expected)


def test_png_palette_rgba_gray_alpha_and_16bit():
    from archive_to_parquet_spark.operators.multimodal import decode_pixels

    # palette: 4 entries, index image 2x3
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
    idx = np.array([[0, 1, 2], [3, 2, 1]], dtype=np.int64)
    gray = decode_pixels(make_png(idx, color=3, palette=pal, filters=[2, 1]))
    pal_rgb = np.frombuffer(pal, dtype=np.uint8).reshape(4, 3).astype(np.float64)
    expected = pal_rgb[idx] @ np.array([0.299, 0.587, 0.114])
    np.testing.assert_allclose(gray, expected)

    # RGBA: alpha ignored in luminance
    rgba = np.zeros((2, 2, 4), dtype=np.int64)
    rgba[..., 0] = 200
    rgba[..., 3] = 7
    gray = decode_pixels(make_png(rgba, color=6))
    np.testing.assert_allclose(gray, np.full((2, 2), 200 * 0.299))

    # gray+alpha
    ga = np.zeros((2, 2, 2), dtype=np.int64)
    ga[..., 0] = np.array([[1, 2], [3, 4]])
    ga[..., 1] = 255
    gray = decode_pixels(make_png(ga, color=4))
    np.testing.assert_array_equal(gray, np.array([[1, 2], [3, 4]], dtype=np.float64))

    # 16-bit grayscale: MSB is the 8-bit reduction
    g16 = np.array([[0, 128], [255, 64]], dtype=np.int64)
    gray = decode_pixels(make_png(g16, color=0, depth=16))
    np.testing.assert_array_equal(gray, g16.astype(np.float64))


def test_png_out_of_scope_degrades_to_header_tier():
    """Interlaced / truncated / header-only PNGs return None from
    decode_pixels (→ header-tier dims + fingerprint feature, not a
    crash)."""
    from archive_to_parquet_spark.operators.multimodal import (
        _real_decode_image,
        decode_pixels,
    )

    pix = np.zeros((3, 3), dtype=np.int64)
    assert decode_pixels(make_png(pix, color=0, interlace=1)) is None

    whole = make_png(pix, color=0)
    truncated = whole[:40]
    assert decode_pixels(truncated) is None

    # header-only PNG (IHDR, no IDAT) — the multimodal_header_decode
    # construction — still yields true dims via the header tier
    header_only = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 40, 30, 8, 2, 0, 0, 0))
    )
    w, h, ch, feat = _real_decode_image(header_only)
    assert (w, h, ch) == (40, 30, 3) and len(feat) == 16


def test_png_phash_matches_equivalent_pgm():
    """The PNG pixel path feeds perceptual hashing identically to the
    raw-PGM path: same pattern → same ahash."""
    from archive_to_parquet_spark.operators.multimodal import perceptual_hash

    pattern = np.zeros((8, 8), dtype=np.int64)
    pattern[:, 4:] = 255  # right-half bright
    png_hash = perceptual_hash(make_png(pattern, color=0, filters=[4] * 8))
    pgm = b"P5 8 8 255\n" + bytes(pattern.astype(np.uint8).ravel())
    assert png_hash == perceptual_hash(pgm)
    assert png_hash is not None


def test_png_random_roundtrip_property():
    """Property: any uint8 image, any per-row filter choice, any
    supported color type — forward-encode then decode is exact.
    (Plain loops, not hypothesis: the encoder is pure Python and fast,
    and a seeded sweep over the full filter×color grid is exhaustive
    where random draws would sample.)"""
    from archive_to_parquet_spark.operators.multimodal import decode_pixels

    rng = np.random.RandomState(42)
    lum = np.array([0.299, 0.587, 0.114])
    for color, n_ch in ((0, 1), (2, 3), (4, 2), (6, 4)):
        for trial in range(4):
            h = int(rng.randint(1, 9))
            w = int(rng.randint(1, 9))
            shape = (h, w) if n_ch == 1 else (h, w, n_ch)
            pix = rng.randint(0, 256, size=shape).astype(np.int64)
            filters = [int(f) for f in rng.randint(0, 5, size=h)]
            gray = decode_pixels(make_png(pix, color=color, filters=filters))
            assert gray is not None, (color, h, w, filters)
            if color == 0:
                expected = pix.astype(np.float64)
            elif color == 2:
                expected = pix.astype(np.float64) @ lum
            elif color == 4:
                expected = pix[:, :, 0].astype(np.float64)
            else:
                expected = pix[:, :, :3].astype(np.float64) @ lum
            np.testing.assert_allclose(gray, expected, err_msg=str((color, filters)))


def test_profile_media_bulk_never_raises(spark):
    """`profile_media` routes by kind and degrades to nulls on
    undecodable bytes — the CLI bulk contract (one weird file must not
    fail a 100 TB sweep)."""
    from pyspark.sql import Row

    from archive_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        profile_media,
    )
    from tests.test_phash import make_ppm, make_wav as make_pcm_wav

    px = np.zeros((8, 8, 3), dtype=np.uint8)
    px[:, 4:] = 200
    rows = [
        Row(media_id=1, kind="image", mime=None,
            data=bytes(make_ppm(px)), meta={"path": "a/img.ppm"}),
        Row(media_id=2, kind="image", mime=None,
            data=b"\xff\xd8\xff\xe0 not really a jpeg", meta={"path": "b"}),
        Row(media_id=3, kind="audio", mime=None,
            data=bytes(
                make_pcm_wav(np.array([0.0] * 64 + [0.5] * 64))
            ),
            meta={"path": "c/a.wav"}),
        Row(media_id=4, kind="unknown", mime=None,
            data=b"\x00\x01\x02", meta=None),
    ]
    got = {r.media_id: r for r in profile_media(
        spark.createDataFrame(rows, MEDIA_SCHEMA)
    ).collect()}
    assert got[1].width == 8 and got[1].height == 8 and got[1].channels == 3
    assert got[1].phash is not None and got[1].path == "a/img.ppm"
    assert got[2].phash is None  # truncated JPEG: quiet null, no raise
    assert got[3].sample_rate == 8000 and got[3].n_samples == 128
    assert got[3].audio_fp is not None
    assert got[4].width is None and got[4].audio_fp is None
    assert got[4].n_bytes == 3


def test_cli_media_mode(tmp_path):
    """CLI --media: archive of mixed media → profile parquet."""
    import io as _io
    import tarfile as _tf

    import pyarrow.parquet as pq

    from archive_to_parquet_spark.cli import main
    from tests.test_phash import make_ppm, make_wav as make_pcm_wav

    px = np.full((8, 8, 3), 65, dtype=np.uint8)
    wav = bytes(make_pcm_wav(np.full(128, 0.03)))
    src = tmp_path / "media.tar"
    with _tf.open(src, "w") as tf:
        for name, blob in (
            ("img.ppm", bytes(make_ppm(px))),
            ("snd.wav", wav),
            ("note.txt", b"not media at all"),
        ):
            info = _tf.TarInfo(name)
            info.size = len(blob)
            tf.addfile(info, _io.BytesIO(blob))
    out = str(tmp_path / "profile.parquet")
    rc = main(["--media", "--no-progress", out, str(src)])
    assert rc == 0
    rows = {r["path"]: r for r in pq.read_table(out).to_pylist()}
    img_row = rows["img.ppm"]
    assert img_row["kind"] == "image"
    assert img_row["width"] == 8 and img_row["phash"] is not None
    wav_row = rows["snd.wav"]
    assert wav_row["kind"] == "audio"
    assert wav_row["sample_rate"] == 8000
    assert rows["note.txt"]["kind"] == "unknown"


def test_cli_media_incremental_is_rejected(tmp_path, capsys):
    """--media has no key to skip existing rows on: --incremental exits 2."""
    import os

    from archive_to_parquet_spark.cli import main
    from tests.conftest import tar_archive

    src = tmp_path / "media.tar"
    src.write_bytes(tar_archive({"note.txt": b"not media at all"}))
    out = str(tmp_path / "profile.parquet")
    assert main(["--media", "--incremental", "--no-progress", out, str(src)]) == 2
    assert "--incremental does not apply to --media" in capsys.readouterr().err
    assert not os.path.exists(out)


def test_cli_media_zero_rows_leaves_nothing(tmp_path):
    """A --media run with no entry left fails like the raw conversion:
    exit 1 and no dataset left behind."""
    import os

    from archive_to_parquet_spark.cli import main
    from tests.conftest import tar_archive

    src = tmp_path / "media.tar"
    src.write_bytes(tar_archive({"big.bin": b"B" * 5000}))
    out = str(tmp_path / "profile.parquet")
    assert main(["--media", "--max-size", "100", "--no-progress", out, str(src)]) == 1
    assert not os.path.exists(out)
