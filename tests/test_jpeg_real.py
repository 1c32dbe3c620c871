"""JPEG real pixel decode (pure stdlib + numpy): the one Huffman
decoder behind sequential (SOF0/SOF1) and progressive (SOF2) frames.

The fixtures are produced by a minimal test-side ENCODER (numpy forward
DCT + canonical fixed-length Huffman tables) so the roundtrip needs no
codec library: encode here → decode with the production
`_jpeg_pixels` → compare pixels.  The encoder emits its own DHT
segments (all-DC-at-4-bits / all-AC-at-8-bits canonical tables), which
also exercises the decoder against non-Annex-K tables.

Reference behavior mirrored: orf/archive-to-parquet has no media
decode; this is the training-pipeline extension (SURVEY.md §2 north
star), with the codec boundary kept loud for unsupported processes.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from archive_to_parquet_spark.operators.multimodal import (
    _JPEG_ZIGZAG,
    _hash_feature,
    _jpeg_pixels,
    _jpeg_unsupported_kind,
    _real_decode_image,
    decode_pixels,
    perceptual_hash,
)

# ---------------------------------------------------------------- encoder


def _dct_basis() -> np.ndarray:
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    basis = np.cos((2 * x + 1) * u * np.pi / 16.0) * 0.5
    basis[0, :] *= 1.0 / np.sqrt(2.0)
    return basis


# Canonical fixed-length tables: DC categories 0..11 all at 4 bits,
# AC symbols (EOB0..EOB14 for progressive EOBRUNs, ZRL, every
# (run 0..15, size 1..10)) all at 8 bits.
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = (
    [r << 4 for r in range(15)]  # EOBn (0x00 is plain EOB)
    + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)


def _fixed_table(symbols: list[int], length: int) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for an all-one-length canonical table."""
    assert len(symbols) < (1 << length)  # keep the all-ones code unused
    return {sym: (i, length) for i, sym in enumerate(symbols)}


def _dht_segment(tc: int, th: int, symbols: list[int], length: int) -> bytes:
    counts = [0] * 16
    counts[length - 1] = len(symbols)
    body = bytes([(tc << 4) | th]) + bytes(counts) + bytes(symbols)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0


def _category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _encode_block(
    bw: _BitWriter,
    zz: list[int],
    pred: int,
    dc_tbl: dict,
    ac_tbl: dict,
) -> int:
    diff = zz[0] - pred
    t = _category(diff)
    code, ln = dc_tbl[t]
    bw.put(code, ln)
    if t:
        bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
    for k in range(1, last_nz + 1):
        if zz[k] == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tbl[0xF0]
            bw.put(code, ln)
            run -= 16
        s = _category(zz[k])
        code, ln = ac_tbl[(run << 4) | s]
        bw.put(code, ln)
        v = zz[k]
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_tbl[0x00]
        bw.put(code, ln)
    return zz[0]


def _pad_to_blocks(img: np.ndarray, bh: int, bw: int) -> np.ndarray:
    h, w = img.shape
    ph = (h + bh - 1) // bh * bh
    pw = (w + bw - 1) // bw * bw
    return np.pad(img, ((0, ph - h), (0, pw - w)), mode="edge")


def _block_zigzag(block: np.ndarray, qmat: np.ndarray) -> list[int]:
    basis = _dct_basis()
    coeffs = basis @ (block.astype(np.float64) - 128.0) @ basis.T
    quant = np.round(coeffs / qmat).astype(np.int64)
    flat = quant.ravel()
    return [int(flat[_JPEG_ZIGZAG[k]]) for k in range(64)]


def _headers(
    w: int,
    h: int,
    comps: list[tuple[int, int, int, int]],
    qts: list[list[int]],
    sof_marker: int = 0xC0,
) -> bytes:
    out = bytearray(b"\xff\xd8")
    for tq, table_zz in enumerate(qts):
        body = bytes([tq]) + bytes(table_zz)
        out += b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for cid, hi, vi, tq in comps:
        sof += bytes([cid, (hi << 4) | vi, tq])
    out += bytes([0xFF, sof_marker]) + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, _DC_SYMBOLS, 4)
    out += _dht_segment(1, 0, _AC_SYMBOLS, 8)
    return bytes(out)


def _sos(
    comps: list[int], ss: int = 0, se: int = 63, ah: int = 0, al: int = 0
) -> bytes:
    body = bytes([len(comps)])
    for cid in comps:
        body += bytes([cid, 0x00])  # DC table 0, AC table 0 for all
    body += bytes([ss, se, (ah << 4) | al])
    return b"\xff\xda" + struct.pack(">H", len(body) + 2) + body


def make_jpeg_gray(
    img: np.ndarray, quant: int = 1, restart_interval: int = 0
) -> bytes:
    """Single-component baseline JPEG of a (H, W) uint8 image."""
    h, w = img.shape
    qmat_zz = [quant] * 64
    qmat = np.full((8, 8), float(quant))
    dc_tbl = _fixed_table(_DC_SYMBOLS, 4)
    ac_tbl = _fixed_table(_AC_SYMBOLS, 8)
    out = bytearray(_headers(w, h, [(1, 1, 1, 0)], [qmat_zz]))
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += _sos([1])
    padded = _pad_to_blocks(img, 8, 8)
    bw = _BitWriter()
    pred = 0
    mcu = 0
    rst = 0
    for y0 in range(0, padded.shape[0], 8):
        for x0 in range(0, padded.shape[1], 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.flush()
                out += bw.out
                bw = _BitWriter()
                out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                pred = 0
            zz = _block_zigzag(padded[y0 : y0 + 8, x0 : x0 + 8], qmat)
            pred = _encode_block(bw, zz, pred, dc_tbl, ac_tbl)
            mcu += 1
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def make_jpeg_rgb(
    rgb: np.ndarray, subsample: bool = False, interleaved: bool = True
) -> bytes:
    """3-component YCbCr baseline JPEG (4:4:4, or 4:2:0 with
    ``subsample=True``) of a (H, W, 3) uint8 image, quant all-ones.
    ``interleaved=False`` codes each component in its own scan over
    its own block grid (T.81 A.2.2) instead of one interleaved scan."""
    h, w, _ = rgb.shape
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    qmat = np.ones((8, 8))
    dc_tbl = _fixed_table(_DC_SYMBOLS, 4)
    ac_tbl = _fixed_table(_AC_SYMBOLS, 8)
    if subsample:
        comps = [(1, 2, 2, 0), (2, 1, 1, 0), (3, 1, 1, 0)]
        # 2×2 box-mean chroma; pad planes to the 16×16 MCU grid
        yp = _pad_to_blocks(np.clip(np.round(y), 0, 255), 16, 16)
        ypad_h, ypad_w = yp.shape
        cb_full = _pad_to_blocks(np.clip(np.round(cb), 0, 255), 16, 16)
        cr_full = _pad_to_blocks(np.clip(np.round(cr), 0, 255), 16, 16)
        cbs = cb_full.reshape(ypad_h // 2, 2, ypad_w // 2, 2).mean(axis=(1, 3))
        crs = cr_full.reshape(ypad_h // 2, 2, ypad_w // 2, 2).mean(axis=(1, 3))
        planes = [yp, np.round(cbs), np.round(crs)]
    else:
        comps = [(1, 1, 1, 0), (2, 1, 1, 0), (3, 1, 1, 0)]
        planes = [
            _pad_to_blocks(np.clip(np.round(p), 0, 255), 8, 8)
            for p in (y, cb, cr)
        ]
    out = bytearray(_headers(w, h, comps, [[1] * 64]))
    if not interleaved:
        hmax = vmax = 2 if subsample else 1
        for ci, (cid, hi, vi, _tq) in enumerate(comps):
            out += _sos([cid])
            bw = _BitWriter()
            pred = 0
            rows = (-(-h * vi // vmax) + 7) // 8
            cols = (-(-w * hi // hmax) + 7) // 8
            for by in range(rows):
                for bx in range(cols):
                    block = planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                    zz = _block_zigzag(block, qmat)
                    pred = _encode_block(bw, zz, pred, dc_tbl, ac_tbl)
            bw.flush()
            out += bw.out
        out += b"\xff\xd9"
        return bytes(out)
    out += _sos([1, 2, 3])
    bw = _BitWriter()
    preds = [0, 0, 0]
    mcu_h = 16 if subsample else 8
    mcu_w = 16 if subsample else 8
    for my in range(0, planes[0].shape[0], mcu_h):
        for mx in range(0, planes[0].shape[1], mcu_w):
            for ci, (cid, hi, vi, _tq) in enumerate(comps):
                plane = planes[ci]
                for by in range(vi):
                    for bx in range(hi):
                        y0 = (my // mcu_h) * vi * 8 + by * 8
                        x0 = (mx // mcu_w) * hi * 8 + bx * 8
                        zz = _block_zigzag(
                            plane[y0 : y0 + 8, x0 : x0 + 8], qmat
                        )
                        preds[ci] = _encode_block(
                            bw, zz, preds[ci], dc_tbl, ac_tbl
                        )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def _pt(v: int, al: int) -> int:
    """AC point transform: v / 2^al rounded toward zero (T.81 A.4)."""
    return v >> al if v >= 0 else -((-v) >> al)


_DEFAULT_PROG_SCRIPT = [
    (0, 0, 0, 1),  # DC first at Al=1
    (1, 5, 0, 1),  # AC band 1..5 first at Al=1
    (6, 63, 0, 1),  # AC band 6..63 first at Al=1
    (0, 0, 1, 0),  # DC refinement bit
    (1, 5, 1, 0),  # AC band 1..5 refinement
    (6, 63, 1, 0),  # AC band 6..63 refinement
]


class _EobBatcher:
    """Cross-block EOBRUN accumulation (T.81 G.1.2.2-3): all-EOB blocks
    batch into one EOBRUN symbol; refinement correction bits from the
    covered blocks buffer behind it, emitted in block order — exactly
    the bit order the decoder's eobrun>0 correction loop consumes."""

    def __init__(self, bw: _BitWriter, ac_tbl: dict):
        self.bw = bw
        self.ac_tbl = ac_tbl
        self.count = 0
        self.bits: list[int] = []

    def add(self, bits: list[int]) -> None:
        self.count += 1
        self.bits += bits
        if self.count == 0x7FFF:  # spec max EOBRUN
            self.flush()

    def flush(self) -> None:
        if not self.count:
            return
        r = self.count.bit_length() - 1
        code, ln = self.ac_tbl[r << 4]
        self.bw.put(code, ln)
        if r:
            self.bw.put(self.count - (1 << r), r)
        for b in self.bits:
            self.bw.put(b, 1)
        self.count = 0
        self.bits = []


def _encode_ac_first_block(bw, eob, ac_tbl, zz, ss, se, al) -> None:
    vals = [_pt(zz[k], al) for k in range(ss, se + 1)]
    last = max((i for i, v in enumerate(vals) if v), default=-1)
    if last < 0:
        eob.add([])  # whole band zero: joins the EOBRUN
        return
    eob.flush()
    run = 0
    for i in range(last + 1):
        v = vals[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tbl[0xF0]
            bw.put(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_tbl[(run << 4) | s]
        bw.put(code, ln)
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < len(vals) - 1:
        eob.add([])  # trailing zeros: EOB for this block (may batch on)


def _encode_ac_refine_block(bw, eob, ac_tbl, zz, ss, se, al) -> None:
    ks = list(range(ss, se + 1))
    abs_now = [abs(zz[k]) >> al for k in ks]
    if 1 not in abs_now:
        # no newly-visible coefficient: whole band joins the EOBRUN,
        # buffering one correction bit per nonzero-history position
        eob.add(
            [(abs(zz[k]) >> al) & 1 for i, k in enumerate(ks) if abs_now[i] > 1]
        )
        return
    eob.flush()
    run = 0
    pending: list[int] = []
    for i, k in enumerate(ks):
        t = abs_now[i]
        if t == 0:
            run += 1
            continue
        if t > 1:  # visible before this scan: correction bit
            pending.append((abs(zz[k]) >> al) & 1)
            continue
        while run > 15:
            code, ln = ac_tbl[0xF0]
            bw.put(code, ln)
            for b in pending:
                bw.put(b, 1)
            pending = []
            run -= 16
        code, ln = ac_tbl[(run << 4) | 1]
        bw.put(code, ln)
        bw.put(1 if zz[k] > 0 else 0, 1)
        for b in pending:
            bw.put(b, 1)
        pending = []
        run = 0
    if run > 0 or pending:
        eob.add(pending)  # rest of this block's band is EOB


def make_jpeg_progressive_from_coeffs(
    blocks: list[list[int]],
    w: int,
    h: int,
    quant: int = 1,
    script=None,
    comps: list[tuple[int, int, int, int]] | None = None,
    comp_blocks: dict[int, list[list[int]]] | None = None,
) -> bytes:
    """PROGRESSIVE (SOF2) JPEG from zigzag-order quantized coefficient
    blocks (row-major). Single-component by default; pass ``comps`` +
    ``comp_blocks`` (cid → blocks) for multi-component 1×1-sampled
    frames — the DC scan is then interleaved over MCUs while AC scans
    stay per-component (spec). EOBRUNs batch across blocks."""
    qmat_zz = [quant] * 64
    dc_tbl = _fixed_table(_DC_SYMBOLS, 4)
    ac_tbl = _fixed_table(_AC_SYMBOLS, 8)
    comps = comps or [(1, 1, 1, 0)]
    comp_blocks = comp_blocks or {1: blocks}
    out = bytearray(_headers(w, h, comps, [qmat_zz], sof_marker=0xC2))
    cids = [c[0] for c in comps]
    for ss, se, ah, al in script or _DEFAULT_PROG_SCRIPT:
        bw = _BitWriter()
        if ss == 0 and ah == 0:  # DC first — interleaved across comps
            out += _sos(cids, ss, se, ah, al)
            preds = {cid: 0 for cid in cids}
            for b in range(len(comp_blocks[cids[0]])):
                for cid in cids:
                    zz = comp_blocks[cid][b]
                    v = zz[0] >> al
                    diff = v - preds[cid]
                    preds[cid] = v
                    t = _category(diff)
                    code, ln = dc_tbl[t]
                    bw.put(code, ln)
                    if t:
                        bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
        elif ss == 0:  # DC refinement — interleaved, one bit per block
            out += _sos(cids, ss, se, ah, al)
            for b in range(len(comp_blocks[cids[0]])):
                for cid in cids:
                    bw.put((comp_blocks[cid][b][0] >> al) & 1, 1)
        else:  # AC scans: non-interleaved, one per component
            for cid in cids:
                if bw.out or bw.n:
                    bw.flush()
                    out += bw.out
                    bw = _BitWriter()
                out += _sos([cid], ss, se, ah, al)
                eob = _EobBatcher(bw, ac_tbl)
                for zz in comp_blocks[cid]:
                    if ah == 0:
                        _encode_ac_first_block(bw, eob, ac_tbl, zz, ss, se, al)
                    else:
                        _encode_ac_refine_block(bw, eob, ac_tbl, zz, ss, se, al)
                eob.flush()
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def make_jpeg_progressive_gray(
    img: np.ndarray, quant: int = 1, script=None
) -> bytes:
    """Single-component PROGRESSIVE (SOF2) JPEG of a (H, W) uint8
    image: spectral selection + successive approximation. The default
    script exercises DC first/refine and, per band, AC first (point-
    transformed magnitudes) and AC refinement (correction bits for
    nonzero history, sign bit for newly visible coefficients, batched
    EOBRUNs) — T.81 G.1.2.2/G.1.2.3 encoding, so the decoder's G.2
    path is exercised end-to-end. Coefficients are identical to
    make_jpeg_gray's, so decode must match the baseline decode of the
    same image bit-for-bit."""
    h, w = img.shape
    qmat = np.full((8, 8), float(quant))
    padded = _pad_to_blocks(img, 8, 8)
    blocks = []
    for y0 in range(0, padded.shape[0], 8):
        for x0 in range(0, padded.shape[1], 8):
            blocks.append(_block_zigzag(padded[y0 : y0 + 8, x0 : x0 + 8], qmat))
    return make_jpeg_progressive_from_coeffs(blocks, w, h, quant, script)


def make_progressive_stub(w: int = 8, h: int = 8) -> bytes:
    """Minimal SOF2 (progressive) JPEG header — enough for the marker
    walk to classify it; no decodable scan."""
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0])
    return (
        b"\xff\xd8"
        + b"\xff\xc2"
        + struct.pack(">H", len(sof) + 2)
        + sof
        + b"\xff\xd9"
    )


# ----------------------------------------------------------------- tests


def test_gray_roundtrip_quant1_near_exact():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(24, 17), dtype=np.uint8)  # non-8-multiple
    blob = make_jpeg_gray(img)
    got = _jpeg_pixels(blob)
    assert got is not None and got.shape == (24, 17)
    # quant=1 roundtrip: only fdct-round + float error survives
    assert np.abs(got - img.astype(np.float64)).max() <= 2.0


def test_gray_constant_image_exact():
    img = np.full((8, 8), 77, dtype=np.uint8)
    got = _jpeg_pixels(make_jpeg_gray(img))
    assert got is not None
    assert np.allclose(got, 77.0, atol=1e-9)


def test_gray_matches_quant_simulation_exactly():
    """Decoder output must equal the numpy simulation of
    quantize→dequantize→IDCT bit-for-bit (same float ops)."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    quant = 8
    blob = make_jpeg_gray(img, quant=quant)
    got = _jpeg_pixels(blob)
    basis = _dct_basis()
    expect = np.empty((16, 16))
    for y0 in range(0, 16, 8):
        for x0 in range(0, 16, 8):
            block = img[y0 : y0 + 8, x0 : x0 + 8].astype(np.float64) - 128.0
            q = np.round(basis @ block @ basis.T / quant) * quant
            expect[y0 : y0 + 8, x0 : x0 + 8] = basis.T @ q @ basis + 128.0
    assert got is not None
    assert np.allclose(got, np.clip(expect, 0, 255), atol=1e-9)


def test_gray_restart_markers():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(8, 40), dtype=np.uint8)  # 5 MCUs
    blob = make_jpeg_gray(img, restart_interval=2)
    assert b"\xff\xd0" in blob  # RST0 actually emitted
    got = _jpeg_pixels(blob)
    assert got is not None
    assert np.abs(got - img.astype(np.float64)).max() <= 2.0


def test_rgb_444_yields_luma_plane():
    rng = np.random.default_rng(5)
    rgb = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    got = _jpeg_pixels(make_jpeg_rgb(rgb))
    y = (
        0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    ).astype(np.float64)
    assert got is not None and got.shape == (16, 16)
    assert np.abs(got - y).max() <= 2.0


def test_rgb_420_subsampled_chroma_stays_in_sync():
    """4:2:0 MCUs interleave 4 Y + Cb + Cr blocks; the decoder must
    entropy-skip chroma correctly or the Y plane corrupts."""
    rng = np.random.default_rng(9)
    rgb = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
    got = _jpeg_pixels(make_jpeg_rgb(rgb, subsample=True))
    y = (
        0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    ).astype(np.float64)
    assert got is not None and got.shape == (24, 40)
    assert np.abs(got - y).max() <= 2.0


def test_rgb_per_component_scans_match_interleaved():
    """A sequential frame may code Y, Cb and Cr in three single-
    component scans, each over its own block grid (T.81 A.2.2): the
    decoded luma equals that of the interleaved encoding."""
    rng = np.random.default_rng(13)
    rgb = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    for subsample in (False, True):
        three = make_jpeg_rgb(rgb, subsample, interleaved=False)
        assert three.count(b"\xff\xda") == 3
        got = _jpeg_pixels(three)
        assert got is not None and got.shape == (16, 24)
        assert np.array_equal(got, _jpeg_pixels(make_jpeg_rgb(rgb, subsample)))


def test_gray_sampling_factors_keep_block_order():
    """A single-component scan's MCU is one block whatever the frame's
    sampling factors (T.81 A.2.2), so a grayscale frame declaring 2×2
    sampling decodes exactly like the 1×1 one."""
    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, size=(16, 32), dtype=np.uint8)
    blob = make_jpeg_gray(img)
    # SOF0: marker, length, P, Y, X, Nf, then C1's id and sampling byte
    at = blob.index(b"\xff\xc0") + 11
    assert blob[at] == 0x11
    sampled = blob[:at] + b"\x22" + blob[at + 1 :]
    got = _jpeg_pixels(sampled)
    assert got is not None and np.array_equal(got, _jpeg_pixels(blob))


def test_truncated_stream_degrades_to_none():
    img = np.full((16, 16), 100, dtype=np.uint8)
    blob = make_jpeg_gray(img)
    assert _jpeg_pixels(blob[: len(blob) // 2]) is None


def test_oversized_sof_degrades_to_header_tier():
    """A SOF declaring 65535×65535 must not size coefficient stores
    from the header (that raised MemoryError): pixel decode is None,
    and the real-decode tier keeps the declared dims with the hash
    feature."""
    blob = make_jpeg_gray(np.full((16, 16), 100, dtype=np.uint8))
    sof = blob.index(b"\xff\xc0")  # marker, length(2), precision, H, W
    patched = (
        blob[: sof + 5] + struct.pack(">HH", 65535, 65535) + blob[sof + 9 :]
    )
    assert decode_pixels(patched) is None
    w, h, channels, feature = _real_decode_image(patched)
    assert (w, h, channels) == (65535, 65535, 1)
    assert feature == _hash_feature(patched)


def test_progressive_supported_arithmetic_still_loud():
    """Progressive Huffman (SOF2) moved INSIDE the decode boundary in
    round 6: a header-only stub is merely truncated (None pixels,
    header-tier real-decode), while arithmetic coding remains the loud
    NotImplementedError boundary."""
    blob = make_progressive_stub()
    assert _jpeg_unsupported_kind(blob) is None  # no longer out of scope
    assert decode_pixels(blob) is None  # no scan data: truncated
    assert perceptual_hash(blob) is None
    w, h, _ch, _feat = _real_decode_image(blob)  # header tier, not loud
    assert (w, h) == (8, 8)
    arith = blob.replace(b"\xff\xc2", b"\xff\xc9", 1)
    assert _jpeg_unsupported_kind(arith) == "arithmetic sequential"
    with pytest.raises(NotImplementedError, match="arithmetic"):
        _real_decode_image(arith)


def test_progressive_scanless_with_dqt_is_none():
    """ADVICE r6: a SOF2 stream carrying a DQT and a clean EOI but ZERO
    SOS scans must decode to None (like the baseline decoder), not a
    fabricated all-128 gray plane — otherwise every such malformed file
    gets identical real-tier features and distinct corrupt files would
    falsely cluster in dedup."""
    dqt = b"\xff\xdb" + struct.pack(">H", 2 + 65) + bytes([0]) + bytes(
        [1] * 64
    )
    stub = make_progressive_stub()
    blob = stub[:2] + dqt + stub[2:]  # SOI, DQT, SOF2, EOI — no SOS
    assert _jpeg_pixels(blob) is None
    assert decode_pixels(blob) is None


def test_progressive_roundtrip_matches_baseline_decode():
    """Full-script progressive decode (DC first/refine + per-band AC
    first/refine with EOBRUN and correction bits) must reproduce the
    baseline decode of the same image BIT-FOR-BIT — the coefficients
    are identical by construction, and dequant+IDCT use the same float
    ops."""
    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, size=(24, 17), dtype=np.uint8)
    for quant in (1, 8):
        base = _jpeg_pixels(make_jpeg_gray(img, quant=quant))
        prog = _jpeg_pixels(make_jpeg_progressive_gray(img, quant=quant))
        assert prog is not None and prog.shape == (24, 17)
        assert np.array_equal(prog, base), f"quant={quant}"


def test_progressive_spectral_only_script():
    """Spectral selection without successive approximation (Al=0
    everywhere) — the other common progressive layout."""
    rng = np.random.default_rng(37)
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    script = [(0, 0, 0, 0), (1, 5, 0, 0), (6, 63, 0, 0)]
    base = _jpeg_pixels(make_jpeg_gray(img))
    prog = _jpeg_pixels(make_jpeg_progressive_gray(img, script=script))
    assert prog is not None and np.array_equal(prog, base)


def test_progressive_deep_successive_approximation():
    """Three successive-approximation stages (Al=2 → 1 → 0) on both DC
    and AC: every refinement stage must chain exactly."""
    rng = np.random.default_rng(41)
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    script = [
        (0, 0, 0, 2), (1, 63, 0, 2),
        (0, 0, 2, 1), (1, 63, 2, 1),
        (0, 0, 1, 0), (1, 63, 1, 0),
    ]
    base = _jpeg_pixels(make_jpeg_gray(img))
    prog = _jpeg_pixels(make_jpeg_progressive_gray(img, script=script))
    assert prog is not None and np.array_equal(prog, base)


def test_progressive_real_decode_feature_tier():
    """The image kernel returns true pixel stats for a progressive JPEG —
    the boundary docstring contract."""
    img = np.zeros((16, 16), dtype=np.uint8)
    img[:, 8:] = 230
    img[:, :8] = 20
    blob = make_jpeg_progressive_gray(img)
    w, h, channels, feature = _real_decode_image(blob)
    assert (w, h, channels) == (16, 16, 1)
    grid = np.array(feature).reshape(4, 4)
    assert np.allclose(grid[:, :2], 20.0 / 255.0 * 2 - 1, atol=0.05)
    assert np.allclose(grid[:, 2:], 230.0 / 255.0 * 2 - 1, atol=0.05)


def test_baseline_jpeg_real_decode_feature_and_phash():
    """The image kernel returns true pixel stats; phash matches the PGM of
    the same pixels (high-contrast image, so rounding can't flip bits)."""
    from tests.test_phash import make_ppm

    img = np.zeros((16, 16), dtype=np.uint8)
    img[:, 8:] = 230
    img[:, :8] = 20
    blob = make_jpeg_gray(img)
    w, h, channels, feature = _real_decode_image(blob)
    assert (w, h, channels) == (16, 16, 1)
    grid = np.array(feature).reshape(4, 4)
    # left half dark (~20), right half bright (~230): scaled to [-1, 1]
    assert np.allclose(grid[:, :2], 20.0 / 255.0 * 2 - 1, atol=0.05)
    assert np.allclose(grid[:, 2:], 230.0 / 255.0 * 2 - 1, atol=0.05)
    decoded = _jpeg_pixels(blob)
    pgm = make_ppm(
        np.repeat(
            np.clip(np.round(decoded), 0, 255).astype(np.uint8)[:, :, None],
            3,
            axis=2,
        )
    )
    assert perceptual_hash(blob) == perceptual_hash(pgm)


def test_jpeg_header_dims_still_parse():
    from archive_to_parquet_spark.operators.multimodal import parse_image_header

    img = np.full((10, 12), 50, dtype=np.uint8)
    parsed = parse_image_header(make_jpeg_gray(img))
    assert parsed == (12, 10, 1)


def test_fill_bytes_before_markers_still_real_decode():
    """JPEG B.1.1.2 allows runs of 0xFF fill bytes before any marker;
    the marker walks must skip them instead of silently degrading to
    the header/fingerprint tier (ADVICE r5)."""
    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    blob = make_jpeg_gray(img)
    # Pad fill bytes before SOF0 and before SOS (headers precede scan
    # data, and the quant=1 DQT body contains no 0xFF, so the first
    # occurrence is the real marker).
    padded = blob.replace(b"\xff\xc0", b"\xff\xff\xff\xc0", 1).replace(
        b"\xff\xda", b"\xff\xff\xff\xff\xda", 1
    )
    assert _jpeg_unsupported_kind(padded) is None
    got = _jpeg_pixels(padded)
    assert got is not None and got.shape == (16, 16)
    assert np.array_equal(got, _jpeg_pixels(blob))
    # The unsupported-process walk must also see through fill padding.
    arith = make_progressive_stub().replace(b"\xff\xc2", b"\xff\xff\xff\xc9", 1)
    assert _jpeg_unsupported_kind(arith) == "arithmetic sequential"


def test_progressive_eobrun_spans_blocks():
    """EOBRUN > 1 across blocks, including refinement correction bits
    buffered behind the run: 16 identical blocks with one history-
    visible AC coefficient each — the refinement scan is a single
    EOBRUN=16 carrying 16 correction bits."""
    zz = [0] * 64
    zz[0] = 5 * 8  # DC (encoder works on quantized values; quant=1)
    zz = [int(v) for v in zz]
    zz[5] = 4  # |4|>>1 = 2 visible at Al=1; bit0 = 0 corrected at Al=0
    blocks = [list(zz) for _ in range(16)]
    blob = make_jpeg_progressive_from_coeffs(
        blocks, 32, 32, quant=1,
        script=[(0, 0, 0, 1), (1, 63, 0, 1), (0, 0, 1, 0), (1, 63, 1, 0)],
    )
    got = _jpeg_pixels(blob)
    assert got is not None and got.shape == (32, 32)
    # expected: same dequant+IDCT simulation as the baseline decoder
    basis = _dct_basis()
    lin = np.zeros(64)
    for k in range(64):
        lin[_JPEG_ZIGZAG[k]] = zz[k]
    block_px = basis.T @ lin.reshape(8, 8) @ basis + 128.0
    expected = np.tile(block_px, (4, 4))
    assert np.array_equal(got, np.clip(expected, 0.0, 255.0))


def test_progressive_zrl_in_refinement_scan():
    """A coefficient newly visible at Al=0 after >15 zero-history
    positions forces the ZRL path inside an AC refinement scan."""
    zz = [0] * 64
    zz[0] = 24
    zz[30] = 1  # invisible at Al=1 (1>>1 = 0), newly visible at Al=0
    zz[50] = -1  # a second one, further out, negative sign path
    blocks = [list(zz)]
    blob = make_jpeg_progressive_from_coeffs(
        blocks, 8, 8, quant=1,
        script=[(0, 0, 0, 1), (1, 63, 0, 1), (0, 0, 1, 0), (1, 63, 1, 0)],
    )
    got = _jpeg_pixels(blob)
    assert got is not None and got.shape == (8, 8)
    basis = _dct_basis()
    lin = np.zeros(64)
    for k in range(64):
        lin[_JPEG_ZIGZAG[k]] = zz[k]
    expected = np.clip(basis.T @ lin.reshape(8, 8) @ basis + 128.0, 0, 255)
    assert np.array_equal(got, expected)


def test_progressive_rgb_interleaved_dc_scan():
    """3-component 4:4:4 progressive: the DC scan interleaves all
    components per MCU while AC scans stay per-component; the decoded
    luma must equal the baseline 4:4:4 decode of the same image."""
    rng = np.random.default_rng(43)
    rgb = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    planes = {
        1: 0.299 * r + 0.587 * g + 0.114 * b,
        2: -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        3: 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    }
    qmat = np.ones((8, 8))
    comp_blocks = {}
    for cid, plane in planes.items():
        plane = np.clip(np.round(plane), 0, 255)
        blocks = []
        for y0 in range(0, 16, 8):
            for x0 in range(0, 16, 8):
                blocks.append(
                    _block_zigzag(plane[y0 : y0 + 8, x0 : x0 + 8], qmat)
                )
        comp_blocks[cid] = blocks
    blob = make_jpeg_progressive_from_coeffs(
        [], 16, 16, quant=1,
        comps=[(1, 1, 1, 0), (2, 1, 1, 0), (3, 1, 1, 0)],
        comp_blocks=comp_blocks,
    )
    got = _jpeg_pixels(blob)
    base = _jpeg_pixels(make_jpeg_rgb(rgb))
    assert got is not None and base is not None
    assert np.array_equal(got, base)
