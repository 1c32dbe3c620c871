"""GIF (LZW) and uncompressed-TIFF real pixel decode, pure stdlib.

Fixtures are produced by independent test-side encoders (a forward LZW
encoder with the spec's width-bump schedule; a hand-rolled IFD writer)
so the decoders are certified against the spec's forward direction,
not against themselves — same philosophy as the PNG/JPEG fixtures.
"""

from __future__ import annotations

import struct

import numpy as np

from archive_to_parquet_spark.operators.multimodal import (
    _gif_pixels,
    _tiff_pixels,
    decode_pixels,
    perceptual_hash,
)

# ------------------------------------------------------------ GIF encoder


def _lzw_encode(min_code_size: int, indices: bytes) -> bytes:
    """Forward GIF-LZW: LSB-first packing, leading clear code, width
    bump when next_code == 2^width + 1, table reset near 4096."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    code_size = min_code_size + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, code_size)
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        emit(table[w], code_size)
        if next_code < 4095:
            table[wk] = next_code
            next_code += 1
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:  # table full: reset like real encoders do
            emit(clear, code_size)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        w = bytes([k])
    if w:
        emit(table[w], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def make_gif(
    idx: np.ndarray, palette: list[tuple[int, int, int]], interlace: bool = False
) -> bytes:
    """Single-frame GIF89a with a global color table."""
    h, w = idx.shape
    n = max(2, len(palette))
    depth = max(1, (n - 1).bit_length())
    n_slots = 1 << depth
    gct = bytearray()
    for i in range(n_slots):
        r, g, b = palette[i] if i < len(palette) else (0, 0, 0)
        gct += bytes([r, g, b])
    rows = idx
    if interlace:
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        rows = idx[order]  # stored in pass order
    mcs = max(2, depth)
    data = _lzw_encode(mcs, rows.astype(np.uint8).tobytes())
    sub = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        sub += bytes([len(chunk)]) + chunk
    sub += b"\x00"
    iflags = 0x40 if interlace else 0x00
    return (
        b"GIF89a"
        + struct.pack("<HH", w, h)
        + bytes([0x80 | (depth - 1), 0, 0])  # GCT present, size 2^depth
        + bytes(gct)
        + b"\x2c"
        + struct.pack("<HHHH", 0, 0, w, h)
        + bytes([iflags])
        + bytes([mcs])
        + bytes(sub)
        + b"\x3b"
    )


# ----------------------------------------------------------- TIFF encoder


def make_tiff(
    px: np.ndarray, byte_order: str = "<", photometric: int | None = None
) -> bytes:
    """Uncompressed striped 8-bit TIFF, gray (H, W) or RGB (H, W, 3),
    two strips, either byte order."""
    bo = byte_order
    if px.ndim == 2:
        h, w = px.shape
        spp = 1
        photometric = 1 if photometric is None else photometric
    else:
        h, w, spp = px.shape
        photometric = 2
    raw = px.astype(np.uint8).tobytes()
    rows_per_strip = (h + 1) // 2
    strip1 = raw[: rows_per_strip * w * spp]
    strip2 = raw[rows_per_strip * w * spp :]

    entries = []  # (tag, typ, count, value_or_values)

    def short(tag, v):
        entries.append((tag, 3, 1, [v]))

    short(256, w)
    short(257, h)
    if spp == 1:
        short(258, 8)
    else:
        entries.append((258, 3, 3, [8, 8, 8]))
    short(259, 1)
    short(262, photometric)
    entries.append((273, 4, 2, None))  # strip offsets — patched below
    short(277, spp)
    short(278, rows_per_strip)
    entries.append((279, 4, 2, [len(strip1), len(strip2)]))
    entries.sort(key=lambda e: e[0])

    header = struct.pack(bo + "2sHI", b"II" if bo == "<" else b"MM", 42, 8)
    n = len(entries)
    ifd_size = 2 + n * 12 + 4
    extra_off = 8 + ifd_size
    extra = bytearray()
    fields = bytearray()
    patch_at = None
    for tag, typ, count, vals in entries:
        fmt = {3: "H", 4: "I"}[typ]
        sz = {3: 2, 4: 4}[typ] * count
        if tag == 273:
            patch_at = len(fields) + 8
            fields += struct.pack(bo + "HHI", tag, typ, count, ) + b"\x00" * 4
            continue
        if sz <= 4:
            packed = struct.pack(bo + str(count) + fmt, *vals)
            packed += b"\x00" * (4 - len(packed))
            fields += struct.pack(bo + "HHI", tag, typ, count) + packed
        else:
            fields += struct.pack(
                bo + "HHII", tag, typ, count, extra_off + len(extra)
            )
            extra += struct.pack(bo + str(count) + fmt, *vals)
    data_off = extra_off + len(extra)
    off1, off2 = data_off, data_off + len(strip1)
    fields[patch_at : patch_at + 4] = struct.pack(
        bo + "I", data_off + len(strip1) + len(strip2)
    )
    extra2 = struct.pack(bo + "II", off1, off2)
    ifd = struct.pack(bo + "H", n) + bytes(fields) + struct.pack(bo + "I", 0)
    return header + ifd + bytes(extra) + strip1 + strip2 + extra2


# ----------------------------------------------------------------- tests


def test_gif_roundtrip_exact():
    rng = np.random.default_rng(2)
    pal = [(i * 32 % 256, i * 57 % 256, i * 11 % 256) for i in range(8)]
    idx = rng.integers(0, 8, size=(13, 16), dtype=np.uint8)
    gray = _gif_pixels(make_gif(idx, pal))
    expect = np.array([pal[i] for i in idx.ravel()], dtype=np.float64).reshape(
        13, 16, 3
    ) @ np.array([0.299, 0.587, 0.114])
    assert gray is not None and gray.shape == (13, 16)
    assert np.allclose(gray, expect, atol=1e-9)


def test_gif_width_bumps_past_nine_bits():
    """48×48 random 256-color image forces the LZW code width through
    the 9→10→11-bit bumps (and near-4096 reset handling on larger
    inputs)."""
    rng = np.random.default_rng(4)
    pal = [(i, 255 - i, i ^ 0x55) for i in range(256)]
    idx = rng.integers(0, 256, size=(48, 48), dtype=np.uint8)
    gray = _gif_pixels(make_gif(idx, pal))
    expect = np.array([pal[i] for i in idx.ravel()], dtype=np.float64).reshape(
        48, 48, 3
    ) @ np.array([0.299, 0.587, 0.114])
    assert gray is not None
    assert np.allclose(gray, expect, atol=1e-9)


def test_gif_table_reset_on_large_input():
    """Enough distinct phrases to hit the 4095 cap → encoder emits a
    mid-stream CLEAR; the decoder must reset its table in lockstep."""
    rng = np.random.default_rng(6)
    pal = [(i, i, i) for i in range(256)]
    idx = rng.integers(0, 256, size=(80, 80), dtype=np.uint8)
    gray = _gif_pixels(make_gif(idx, pal))
    assert gray is not None
    assert np.allclose(gray, idx.astype(np.float64), atol=1e-9)


def test_gif_interlaced_deinterlaces():
    pal = [(0, 0, 0), (255, 255, 255)]
    idx = np.zeros((10, 4), dtype=np.uint8)
    idx[3] = 1  # a single bright row: misplaced if deinterlace is wrong
    gray = _gif_pixels(make_gif(idx, pal, interlace=True))
    assert gray is not None
    assert np.allclose(gray, idx.astype(np.float64) * 255.0, atol=1e-9)


def test_gif_truncated_returns_none():
    pal = [(0, 0, 0), (255, 255, 255)]
    idx = np.ones((8, 8), dtype=np.uint8)
    blob = make_gif(idx, pal)
    assert _gif_pixels(blob[:20]) is None


def test_tiff_gray_both_byte_orders():
    rng = np.random.default_rng(8)
    px = rng.integers(0, 256, size=(9, 14), dtype=np.uint8)
    for bo in ("<", ">"):
        gray = _tiff_pixels(make_tiff(px, byte_order=bo))
        assert gray is not None, bo
        assert np.allclose(gray, px.astype(np.float64), atol=1e-9)


def test_tiff_rgb_luminance_and_white_is_zero():
    rng = np.random.default_rng(10)
    rgb = rng.integers(0, 256, size=(6, 7, 3), dtype=np.uint8)
    gray = _tiff_pixels(make_tiff(rgb))
    expect = rgb.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    assert gray is not None
    assert np.allclose(gray, expect, atol=1e-9)
    inv = rng.integers(0, 256, size=(5, 5), dtype=np.uint8)
    gray0 = _tiff_pixels(make_tiff(inv, photometric=0))
    assert np.allclose(gray0, 255.0 - inv.astype(np.float64), atol=1e-9)


def test_tiff_compressed_degrades_to_none():
    px = np.zeros((4, 4), dtype=np.uint8)
    blob = bytearray(make_tiff(px))
    # flip Compression (tag 259) SHORT value 1 → 5 (LZW): out of scope
    i = blob.find(struct.pack("<HHI", 259, 3, 1))
    assert i > 0
    blob[i + 8] = 5
    assert _tiff_pixels(bytes(blob)) is None


def test_decode_pixels_and_phash_cover_new_formats():
    pal = [(20, 20, 20), (230, 230, 230)]
    idx = np.zeros((16, 16), dtype=np.uint8)
    idx[:, 8:] = 1
    gif = make_gif(idx, pal)
    tif = make_tiff((idx * 210 + 20).astype(np.uint8))
    for blob in (gif, tif):
        assert decode_pixels(blob) is not None
        assert perceptual_hash(blob) is not None
    # same underlying image → same ahash across formats
    assert perceptual_hash(gif) == perceptual_hash(tif)


def test_content_decode_gif_literal_matches_generator():
    """The frozen _GIF_BLOB literal in queries.multimodal must equal this
    module's forward encoder output for its documented construction —
    keeps the driver-certified fixture regenerable and independent of
    the decoder."""
    from archive_to_parquet_spark.queries.multimodal import _GIF_BLOB

    idx = np.zeros((8, 16), dtype=np.uint8)
    idx[:, 8:] = 1
    assert _GIF_BLOB == make_gif(idx, [(20, 20, 20), (230, 230, 230)])


def test_gif_kwkwk_immediate_self_reference():
    """The classic LZW edge: a run of identical pixels makes the
    encoder emit a code EQUAL to the decoder's next table slot (the
    kwkwk case) — the decoder must synthesize prev + prev[0]."""
    pal = [(10, 10, 10), (240, 240, 240)]
    idx = np.zeros((4, 16), dtype=np.uint8)  # long constant runs
    gray = _gif_pixels(make_gif(idx, pal))
    assert gray is not None
    assert np.allclose(gray, 10.0, atol=1e-9)
    idx2 = np.tile(np.array([[0, 0, 0, 0, 1, 1, 1, 1]], dtype=np.uint8), (4, 2))
    gray2 = _gif_pixels(make_gif(idx2, pal))
    expect = np.where(idx2 == 0, 10.0, 240.0)
    assert np.allclose(gray2, expect, atol=1e-9)
