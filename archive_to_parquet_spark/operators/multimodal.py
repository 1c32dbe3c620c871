"""Multimodal (image/audio/video) column plumbing.

Media lives as opaque ``binary`` columns with typed metadata, exactly like
the engine's ``content`` column. Every decode runs through ONE dispatch,
``decode_media``: per requested (column, cell kernel) it runs the kernel
on every cell inside a single Arrow-batched ``mapInPandas`` pass, so a
multi-format entry costs one Python boundary and no joins, and bytes
never take the row-at-a-time Python path. The per-format operators
(``extract_image_features``, ``extract_audio_features``,
``extract_video_metadata``, ``sample_video_frames``,
``image_perceptual_hashes``, ``audio_fingerprints``, ``resize_images``)
are each one call into it. ``profile_media`` is the one other pass: it
routes per row by kind and never fails (the CLI's bulk contract).

The cell kernels are real, pure-Python parsers and decoders that need no
image or audio library. Headers: PNG (IHDR), JPEG
(SOFn), GIF, BMP, TIFF (IFD walk, both byte orders), WEBP
(VP8/VP8L/VP8X), PPM/PGM dimensions+channels; WAV/RIFF, FLAC
STREAMINFO, and MP3 frame headers for sample rate / sample count /
duration; MP4/MOV mvhd and AVI avih for video duration / frame count /
dimensions. CONTENT, codec-free: PPM/PGM/uncompressed-BMP pixel grids,
PNG pixels via pure-stdlib zlib inflate + scanline unfilter
(non-interlaced 8/16-bit, color types 0/2/3/4/6), baseline and
progressive Huffman JPEG pixels via a pure-stdlib entropy decoder +
numpy IDCT (Y-plane luminance, chroma entropy-skipped), GIF first-frame
pixels via pure-stdlib LZW (global/local palettes, interlace),
uncompressed striped 8-bit TIFF pixels (both byte orders), (grid-mean
features, perceptual hashes), WAV samples in linear PCM, G.711
μ-law/A-law, and mono IMA ADPCM (log-RMS features, energy fingerprints
— G.711 and the ADPCM nibble core are bit-exact against the stdlib
audioop reference), native FLAC streams (lossless PCM decode, RFC 9639:
CONSTANT/VERBATIM/FIXED/LPC subframes, Rice + escape residuals, all
four channel assignments, CRC-8/16 enforced — bit-exact roundtrip
against the test-side encoder), and MP4 keyframe bitstream samples
sliced out of mdat via the stss/stsc/stco/stsz box walk.

The codec boundary: formats whose *feature* needs an actual codec
(WEBP, compressed TIFF, MP3 PCM) yield true dimensions/rates with a
hash-derived feature vector; arithmetic/lossless JPEG, unknown magic
and non-BMFF keyframe sampling raise ``NotImplementedError`` (MP3
stays outside deliberately: its fixed spec Huffman tables cannot be
verified without a reference decoder, whereas FLAC's parameters all
arrive in-stream). The perceptual-hash,
fingerprint and resize kernels return null for undecodable bytes instead.
"""

from __future__ import annotations

import hashlib
import math
import struct
from collections.abc import Callable, Iterator, Sequence
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("data", T.BinaryType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# JPEG start-of-frame markers that carry dimensions (C4/C8/CC are
# huffman/arithmetic tables, not frames)
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def parse_image_header(data: bytes) -> tuple[int, int, int] | None:
    """(width, height, channels) from pure-header parsing of PNG / JPEG /
    GIF / BMP / PPM-PGM bytes; None when the magic isn't one of those.
    No codec work — only fixed offsets and marker walks."""
    d = data or b""
    # PNG: 8-byte signature, IHDR chunk at fixed offset (spec: first chunk)
    if d[:8] == b"\x89PNG\r\n\x1a\n" and len(d) >= 26 and d[12:16] == b"IHDR":
        w, h = struct.unpack(">II", d[16:24])
        color_type = d[25]
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type, 3)
        return w, h, channels
    # JPEG: its own tolerant walk to the first SOFn, which resyncs over
    # non-0xFF bytes so a damaged JPEG still gets dims (and the hash
    # feature) instead of `_real_decode_image`'s NotImplementedError
    if d[:3] == b"\xff\xd8\xff":
        i = 2
        while i + 9 < len(d):
            if d[i] != 0xFF:
                i += 1
                continue
            marker = d[i + 1]
            if marker in (0xD8, 0x01, 0xFF) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            if i + 4 > len(d):
                return None
            seg_len = struct.unpack(">H", d[i + 2 : i + 4])[0]
            if marker in _JPEG_SOF:
                if i + 10 > len(d):
                    return None
                h, w = struct.unpack(">HH", d[i + 5 : i + 9])
                return w, h, d[i + 9]
            i += 2 + seg_len
        return None
    # GIF: little-endian logical screen size right after the magic
    if d[:6] in (b"GIF87a", b"GIF89a") and len(d) >= 10:
        w, h = struct.unpack("<HH", d[6:10])
        return w, h, 3
    # BMP: BITMAPINFOHEADER at offset 14
    if d[:2] == b"BM" and len(d) >= 30:
        w, h, _planes, bpp = struct.unpack("<iiHH", d[18:30])
        return w, abs(h), max(1, bpp // 8)
    # TIFF: byte-order-aware IFD walk for ImageWidth(256)/ImageLength(257)
    if d[:4] in (b"II*\x00", b"MM\x00*") and len(d) >= 8:
        bo = "<" if d[:2] == b"II" else ">"
        (ifd_off,) = struct.unpack(bo + "I", d[4:8])
        if ifd_off + 2 <= len(d):
            (n_tags,) = struct.unpack(bo + "H", d[ifd_off : ifd_off + 2])
            w = h = None
            for t in range(n_tags):
                e = ifd_off + 2 + t * 12
                if e + 12 > len(d):
                    break
                tag, typ = struct.unpack(bo + "HH", d[e : e + 4])
                if tag in (256, 257):
                    # SHORT(3) sits in the first 2 value bytes, LONG(4) in 4
                    val = struct.unpack(
                        bo + ("H" if typ == 3 else "I"),
                        d[e + 8 : e + 10 if typ == 3 else e + 12],
                    )[0]
                    if tag == 256:
                        w = val
                    else:
                        h = val
            if w is not None and h is not None:
                return w, h, 3
        return None
    # WEBP: RIFF container; VP8 (lossy), VP8L (lossless), VP8X (extended)
    if d[:4] == b"RIFF" and d[8:12] == b"WEBP":
        chunk = d[12:16]
        if chunk == b"VP8 " and len(d) >= 30 and d[23:26] == b"\x9d\x01\x2a":
            w, h = struct.unpack("<HH", d[26:30])
            return w & 0x3FFF, h & 0x3FFF, 3
        if chunk == b"VP8L" and len(d) >= 25 and d[20:21] == b"\x2f":
            bits = struct.unpack("<I", d[21:25])[0]
            return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1, 4
        if chunk == b"VP8X" and len(d) >= 30:
            w = int.from_bytes(d[24:27], "little") + 1
            h = int.from_bytes(d[27:30], "little") + 1
            return w, h, 4
        return None
    # PPM/PGM (ascii or binary): whitespace/comment-tolerant token scan
    if len(d) >= 2 and d[0:1] == b"P" and d[1:2] in b"2356":
        toks: list[int] = []
        i = 2
        limit = min(len(d), 4096)
        while i < limit and len(toks) < 2:
            c = d[i]
            if c == 0x23:  # '#' comment to end of line
                while i < limit and d[i] != 0x0A:
                    i += 1
            elif 0x30 <= c <= 0x39:
                j = i
                while j < limit and 0x30 <= d[j] <= 0x39:
                    j += 1
                toks.append(int(d[i:j]))
                i = j
            else:
                i += 1
        if len(toks) == 2:
            return toks[0], toks[1], 3 if d[1:2] in b"36" else 1
    return None


def parse_wav_header(data: bytes) -> tuple[int, int, float] | None:
    """(sample_rate, n_samples, duration_s) from a RIFF/WAVE header —
    fmt chunk for rate/channels/bits, data chunk size for the sample
    count. None for non-WAV bytes."""
    d = data or b""
    if len(d) < 36 or d[:4] != b"RIFF" or d[8:12] != b"WAVE":
        return None
    i = 12
    rate = channels = bits = None
    data_size = None
    while i + 8 <= len(d):
        cid = d[i : i + 4]
        size = struct.unpack("<I", d[i + 4 : i + 8])[0]
        if cid == b"fmt " and i + 24 <= len(d):
            channels, rate = struct.unpack("<HI", d[i + 10 : i + 16])
            bits = struct.unpack("<H", d[i + 22 : i + 24])[0]
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if rate and channels and bits and data_size is not None:
        bytes_per_frame = channels * max(bits // 8, 1)
        n = data_size // bytes_per_frame
        return rate, n, n / rate
    return None


def _f80(b: bytes) -> float:
    """Decode an 80-bit IEEE 754 extended float (the AIFF COMM sample
    rate field): 1 sign + 15 exponent + 64 mantissa with explicit
    integer bit.  Returns 0.0 (→ callers reject the file) for the
    inf/NaN exponent and for exponents a double cannot hold — corrupt
    bytes must degrade to None-paths, never raise OverflowError out of
    a mapInPandas task."""
    e = int.from_bytes(b[:2], "big")
    m = int.from_bytes(b[2:10], "big")
    sign = -1.0 if e & 0x8000 else 1.0
    e &= 0x7FFF
    if e == 0 and m == 0:
        return 0.0
    if e == 0x7FFF or e - 16446 > 960:  # inf/NaN or beyond double range
        return 0.0
    # e-16446 == 960 with a mantissa that rounds up to 2^64 as a double
    # still overflows (2^64 * 2^960 = 2^1024) — reject any non-finite
    # result rather than trusting the exponent bound alone.
    val = sign * m * 2.0 ** (e - 16383 - 63)
    return val if math.isfinite(val) else 0.0


def parse_aiff_header(data: bytes) -> tuple[int, int, float] | None:
    """(sample_rate, n_samples, duration_s) from an AIFF/AIFF-C COMM
    chunk (IFF big-endian; rate is an 80-bit extended float). None for
    non-AIFF bytes."""
    d = data or b""
    if len(d) < 12 or d[:4] != b"FORM" or d[8:12] not in (b"AIFF", b"AIFC"):
        return None
    i = 12
    while i + 8 <= len(d):
        cid = d[i : i + 4]
        size = struct.unpack(">I", d[i + 4 : i + 8])[0]
        if cid == b"COMM" and size >= 18 and i + 26 <= len(d):
            n_frames = struct.unpack(">I", d[i + 10 : i + 14])[0]
            rate = _f80(d[i + 16 : i + 26])
            if rate <= 0:
                return None
            return int(round(rate)), n_frames, n_frames / rate
        i += 8 + size + (size & 1)  # IFF chunks are word-aligned
    return None


# Sun/NeXT .au encodings we can size (bytes per sample): G.711 μ-law,
# 8-bit linear, 16-bit linear BE, G.711 A-law
_AU_SAMPLE_BYTES = {1: 1, 2: 1, 3: 2, 27: 1}


def parse_au_header(data: bytes) -> tuple[int, int, float] | None:
    """(sample_rate, n_samples, duration_s) from a Sun/NeXT .au/.snd
    header (big-endian: magic, data offset, data size, encoding, rate,
    channels). None for non-AU bytes or codec encodings we can't
    size."""
    d = data or b""
    if len(d) < 24 or d[:4] != b".snd":
        return None
    off, dsize, enc, rate, ch = struct.unpack(">IIIII", d[4:24])
    if not rate or not ch or enc not in _AU_SAMPLE_BYTES:
        return None
    if dsize == 0xFFFFFFFF:  # "unknown size" sentinel: rest of file
        dsize = max(len(d) - off, 0)
    n = dsize // (_AU_SAMPLE_BYTES[enc] * ch)
    return rate, n, n / rate


# MPEG audio tables: sample rates per version, bitrates (kbps) for
# Layer III, samples per frame for Layer III
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000), 0: (11025, 12000, 8000)}
_MP3_BITRATES_V1L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_MP3_BITRATES_V2L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)


def parse_flac_header(data: bytes) -> tuple[int, int, float] | None:
    """(sample_rate, n_samples, duration_s) from a FLAC STREAMINFO block
    (always the first metadata block per spec). Pure fixed-offset bit
    unpacking, no codec."""
    d = data or b""
    if d[:4] != b"fLaC" or len(d) < 26:
        return None
    if d[4] & 0x7F != 0:  # first block must be STREAMINFO (type 0)
        return None
    # after 10 bytes of block/frame sizes: 64 bits holding
    # rate(20) channels(3) bps(5) total_samples(36)
    bits = int.from_bytes(d[18:26], "big")
    rate = bits >> 44
    total = bits & ((1 << 36) - 1)
    if rate == 0:
        return None
    return rate, total, total / rate


# MPEG Layer III samples per frame by version bits (MPEG1: 1152,
# MPEG2/2.5: 576 — ISO/IEC 11172-3 / 13818-3)
_MP3_SPF = {3: 1152, 2: 576, 0: 576}


def parse_mp3_header(data: bytes) -> tuple[int, int, float] | None:
    """(sample_rate, n_samples, duration_s) from an MPEG Layer III
    stream (skipping any leading ID3v2 tag) — header tier only, NO PCM
    claim (the reference treats media as opaque bytes — this metadata
    tier goes beyond it; the PCM codec stub stands).

    Duration sources, strongest first: a Xing/Info VBR header (frame
    count at 4 + side-info bytes past the first frame header — 17/32
    for MPEG1 mono/other, 9/17 for MPEG2/2.5) or a Fraunhofer VBRI
    header (fixed 32-byte offset, frame count at tag+14) give the
    EXACT total ``frames × samples_per_frame``; without either the
    CBR estimate ``remaining bytes / byte rate`` is returned.
    Malformed bytes degrade to None, never raise."""
    d = data or b""
    start = 0
    if d[:3] == b"ID3" and len(d) >= 10:
        # syncsafe 28-bit tag size at bytes 6-9
        size = (d[6] << 21) | (d[7] << 14) | (d[8] << 7) | d[9]
        start = 10 + size
    i = start
    limit = min(len(d) - 4, start + 4096)
    while i <= limit:
        if d[i] == 0xFF and (d[i + 1] & 0xE0) == 0xE0:
            version = (d[i + 1] >> 3) & 0x3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
            layer = (d[i + 1] >> 1) & 0x3  # 1 = Layer III
            bitrate_idx = (d[i + 2] >> 4) & 0xF
            rate_idx = (d[i + 2] >> 2) & 0x3
            if version != 1 and layer == 1 and rate_idx != 3 and 0 < bitrate_idx < 15:
                rate = _MP3_RATES[version][rate_idx]
                spf = _MP3_SPF[version]
                # Xing/Info: first-frame offset = header + side info,
                # whose size depends on version and channel mode
                mode = (d[i + 3] >> 6) & 0x3  # 3 = mono
                if version == 3:
                    side = 17 if mode == 3 else 32
                else:
                    side = 9 if mode == 3 else 17
                x = i + 4 + side
                if d[x : x + 4] in (b"Xing", b"Info") and len(d) >= x + 12:
                    flags = int.from_bytes(d[x + 4 : x + 8], "big")
                    frames = int.from_bytes(d[x + 8 : x + 12], "big")
                    if flags & 0x1 and frames > 0:
                        n = frames * spf
                        return rate, n, n / rate
                # VBRI (Fraunhofer): fixed 32 bytes past the header;
                # u16 version/delay/quality, u32 bytes, u32 frames
                v = i + 4 + 32
                if d[v : v + 4] == b"VBRI" and len(d) >= v + 18:
                    frames = int.from_bytes(d[v + 14 : v + 18], "big")
                    if frames > 0:
                        n = frames * spf
                        return rate, n, n / rate
                table = _MP3_BITRATES_V1L3 if version == 3 else _MP3_BITRATES_V2L3
                kbps = table[bitrate_idx]
                duration = (len(d) - i) * 8.0 / (kbps * 1000)
                return rate, int(duration * rate), duration
        i += 1
    return None


_ADTS_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350,
)


def parse_adts_header(data: bytes) -> tuple[int, int, float] | None:
    """(sample_rate, n_samples, duration_s) from an ADTS/AAC elementary
    stream (ISO/IEC 13818-7 §6.2) — header-tier only, NO PCM claim:
    fixed-offset bit unpacking of the 7/9-byte frame headers, walking
    frame_length hops and counting 1024 samples per raw data block.
    Malformed/new-format bytes degrade to None."""
    d = data or b""
    if len(d) < 7 or d[0] != 0xFF or (d[1] & 0xF6) != 0xF0:
        return None  # syncword 0xFFF + layer 00 required
    rate_idx = (d[2] >> 2) & 0xF
    if rate_idx >= len(_ADTS_RATES):
        return None
    rate = _ADTS_RATES[rate_idx]
    i, n_samples = 0, 0
    while i + 7 <= len(d):
        if d[i] != 0xFF or (d[i + 1] & 0xF6) != 0xF0:
            return None  # mid-stream desync: treat as malformed
        if ((d[i + 2] >> 2) & 0xF) != rate_idx:
            return None  # rate change mid-stream — not a CBR ADTS file
        flen = ((d[i + 3] & 0x3) << 11) | (d[i + 4] << 3) | (d[i + 5] >> 5)
        header_len = 7 if d[i + 1] & 0x1 else 9  # +CRC when protected
        if flen < header_len or i + flen > len(d):
            return None
        n_samples += 1024 * ((d[i + 6] & 0x3) + 1)  # raw data blocks + 1
        i += flen
    if i != len(d) or n_samples == 0:
        return None
    return rate, n_samples, n_samples / rate


def parse_ogg_vorbis_header(data: bytes) -> tuple[int, int, float] | None:
    """(sample_rate, n_samples, duration_s) from an Ogg/Vorbis stream
    (RFC 3533 container + Vorbis I identification header) — header-tier
    only, NO PCM claim: the first page's first packet must be the
    ``\\x01vorbis`` identification header (version 0, rate/channels at
    fixed offsets), and the stream's total PCM length is the LAST
    page's granule position (absolute sample count by Vorbis mapping).
    Page CRCs are not verified — this is metadata extraction, not
    integrity checking; anything structurally off degrades to None."""
    d = data or b""
    if d[:4] != b"OggS" or len(d) < 28 or d[4] != 0:
        return None
    n_segs = d[26]
    seg_table_end = 27 + n_segs
    if n_segs < 1 or len(d) < seg_table_end + 30:
        return None
    p = seg_table_end  # first packet of first page
    if d[p : p + 7] != b"\x01vorbis":
        return None
    if int.from_bytes(d[p + 7 : p + 11], "little") != 0:
        return None  # vorbis_version must be 0
    channels = d[p + 11]
    rate = int.from_bytes(d[p + 12 : p + 16], "little")
    if channels == 0 or rate == 0:
        return None
    last = d.rfind(b"OggS")
    if last < 0 or len(d) < last + 28:
        return None
    granule = int.from_bytes(d[last + 6 : last + 14], "little")
    if granule in (0, 0xFFFFFFFFFFFFFFFF):  # -1 = "no packet ends here"
        return None
    return rate, granule, granule / rate


def _ebml_id(d: bytes, i: int) -> tuple[int, int] | None:
    """(class_id, n_bytes) at offset i — Matroska element IDs keep their
    length-marker bits (0x1A45DFA3 is the 4-byte ID as written). None on
    truncation or an invalid marker."""
    if i >= len(d):
        return None
    b = d[i]
    for ln in range(1, 5):  # element IDs are 1-4 bytes
        if b & (0x80 >> (ln - 1)):
            if i + ln > len(d):
                return None
            return int.from_bytes(d[i : i + ln], "big"), ln
    return None


def _ebml_size(d: bytes, i: int) -> tuple[int | None, int] | None:
    """(content_size, n_bytes) at offset i — marker bit STRIPPED; size
    None means the spec's "unknown size" (all value bits 1), which a
    streamed Segment may use. None overall on truncation/invalid."""
    if i >= len(d):
        return None
    b = d[i]
    for ln in range(1, 9):  # data sizes are 1-8 bytes
        if b & (0x80 >> (ln - 1)):
            if i + ln > len(d):
                return None
            raw = int.from_bytes(d[i : i + ln], "big") & ((1 << (7 * ln)) - 1)
            if raw == (1 << (7 * ln)) - 1:
                return None, ln  # unknown size
            return raw, ln
    return None


def _ebml_children(d: bytes, start: int, end: int):
    """Yield (element_id, content_start, content_end) for the EBML
    elements laid out in d[start:end). An unknown-size element extends
    to the enclosing end (legal only for the last child — which is what
    yielding-to-end models). Stops silently at any malformed element:
    callers treat what was walked so far as all there is."""
    i = start
    while i < end:
        rid = _ebml_id(d, i)
        if rid is None:
            return
        eid, id_len = rid
        rsz = _ebml_size(d, i + id_len)
        if rsz is None:
            return
        size, sz_len = rsz
        cs = i + id_len + sz_len
        ce = end if size is None else cs + size
        if ce > end:
            return
        yield eid, cs, ce
        i = ce


def parse_matroska_header(data: bytes) -> dict | None:
    """Container-level Matroska/WebM metadata via a real EBML walk
    (RFC 8794 structure + the Matroska DocType): Segment→Info yields
    TimestampScale (ns/tick, default 1,000,000) and Duration (4- or
    8-byte float, in ticks); Segment→Tracks→TrackEntry→Video yields
    PixelWidth/PixelHeight. Header-tier only — no codec claim, block
    data is never touched; anything structurally off degrades to None.
    Returns the parse_video_header dict shape."""
    d = data or b""
    if d[:4] != b"\x1a\x45\xdf\xa3":  # EBML header class ID
        return None
    scale = 1_000_000
    duration_ticks: float | None = None
    width = height = None
    for eid, cs, ce in _ebml_children(d, 0, len(d)):
        if eid != 0x18538067:  # Segment
            continue
        for sid, ss, se in _ebml_children(d, cs, ce):
            if sid == 0x1549A966:  # Info
                for iid, js, je in _ebml_children(d, ss, se):
                    if iid == 0x2AD7B1:  # TimestampScale (uint)
                        scale = int.from_bytes(d[js:je], "big") or scale
                    elif iid == 0x4489:  # Duration (float, in ticks)
                        if je - js == 4:
                            duration_ticks = struct.unpack(">f", d[js:je])[0]
                        elif je - js == 8:
                            duration_ticks = struct.unpack(">d", d[js:je])[0]
            elif sid == 0x1654AE6B:  # Tracks
                for tid, ts, te in _ebml_children(d, ss, se):
                    if tid != 0xAE:  # TrackEntry
                        continue
                    for vid, vs, ve in _ebml_children(d, ts, te):
                        if vid != 0xE0:  # Video settings
                            continue
                        for pid, ps, pe in _ebml_children(d, vs, ve):
                            if pid == 0xB0:
                                width = int.from_bytes(d[ps:pe], "big")
                            elif pid == 0xBA:
                                height = int.from_bytes(d[ps:pe], "big")
    if duration_ticks is None and width is None and height is None:
        return None  # an EBML stream, but nothing Matroska-shaped inside
    duration_s = (
        duration_ticks * scale / 1e9 if duration_ticks is not None else None
    )
    return {
        "duration_s": duration_s,
        "n_frames": None,
        "width": width,
        "height": height,
    }


def parse_ogg_opus_header(data: bytes) -> tuple[int, int, float] | None:
    """(sample_rate, n_samples, duration_s) from an Ogg/Opus stream
    (RFC 7845) — header-tier only, NO PCM claim: the first page's first
    packet must be the ``OpusHead`` identification header (version 1,
    channel count and pre-skip at fixed offsets). Opus always decodes
    at 48 kHz and granule positions count 48 kHz samples, so the PCM
    length is the LAST page's granule position minus the pre-skip
    (RFC 7845 §4) regardless of the informational input rate.
    Anything structurally off degrades to None."""
    d = data or b""
    if d[:4] != b"OggS" or len(d) < 28 or d[4] != 0:
        return None
    n_segs = d[26]
    p = 27 + n_segs  # first packet of first page
    if n_segs < 1 or len(d) < p + 19:
        return None
    if d[p : p + 8] != b"OpusHead" or d[p + 8] != 1:
        return None
    channels = d[p + 9]
    pre_skip = int.from_bytes(d[p + 10 : p + 12], "little")
    if channels == 0:
        return None
    last = d.rfind(b"OggS")
    if last < 0 or len(d) < last + 28:
        return None
    granule = int.from_bytes(d[last + 6 : last + 14], "little")
    if granule in (0, 0xFFFFFFFFFFFFFFFF):
        return None
    n = granule - pre_skip
    if n <= 0:
        return None
    return 48000, n, n / 48000.0


def parse_video_header(data: bytes) -> dict | None:
    """Container-level video metadata without any codec: MP4/MOV walks
    top-level boxes to moov→mvhd (timescale+duration, both mvhd
    versions); AVI reads the avih chunk (frame period, frame count,
    dimensions); Matroska/WebM walks the EBML tree to Info + Video
    (parse_matroska_header). Returns {duration_s, n_frames, width,
    height} with None for fields the container doesn't carry; None
    overall for unrecognized bytes."""
    d = data or b""
    if d[:4] == b"\x1a\x45\xdf\xa3":  # Matroska / WebM (EBML)
        return parse_matroska_header(d)
    # MP4 / MOV: size(4) type(4) boxes; mvhd lives inside moov
    if len(d) >= 12 and d[4:8] == b"ftyp":

        def find_box(buf: bytes, name: bytes, start: int, end: int) -> tuple[int, int] | None:
            i = start
            while i + 8 <= end:
                size = struct.unpack(">I", buf[i : i + 4])[0]
                if size < 8:
                    return None
                if buf[i + 4 : i + 8] == name:
                    return i + 8, min(i + size, end)
                i += size
            return None

        moov = find_box(d, b"moov", 0, len(d))
        if moov is None:
            return None
        mvhd = find_box(d, b"mvhd", *moov)
        if mvhd is None:
            return None
        p, _ = mvhd
        version = d[p]
        if version == 1 and p + 28 <= len(d):
            timescale = struct.unpack(">I", d[p + 20 : p + 24])[0]
            duration = struct.unpack(">Q", d[p + 24 : p + 32])[0]
        elif p + 20 <= len(d):
            timescale = struct.unpack(">I", d[p + 12 : p + 16])[0]
            duration = struct.unpack(">I", d[p + 16 : p + 20])[0]
        else:
            return None
        if not timescale:
            return None
        return {
            "duration_s": duration / timescale,
            "n_frames": None,
            "width": None,
            "height": None,
        }
    # AVI: RIFF container, avih (main header) inside LIST hdrl
    if d[:4] == b"RIFF" and d[8:12] == b"AVI ":
        i = d.find(b"avih")
        if i < 0 or i + 48 > len(d):
            return None
        p = i + 8  # skip chunk id + size
        usec_per_frame, _maxrate, _pad, _flags, n_frames = struct.unpack(
            "<IIIII", d[p : p + 20]
        )
        width, height = struct.unpack("<II", d[p + 32 : p + 40])
        duration = n_frames * usec_per_frame / 1e6 if usec_per_frame else None
        return {
            "duration_s": duration,
            "n_frames": n_frames,
            "width": width,
            "height": height,
        }
    return None


def _hash_feature(data: bytes, dim: int = 16) -> list[float]:
    """Deterministic content-fingerprint feature in [-1, 1] — the
    embedding stand-in for header-only formats (a real embedding needs
    pixel/PCM decode, which needs the heavy libs)."""
    h = hashlib.sha256(data or b"").digest()
    return [((b / 255.0) * 2.0 - 1.0) for b in h[:dim]]


def _real_decode_image(data: bytes) -> tuple[int, int, int, list[float]]:
    """Codec-free formats (PPM/PGM/uncompressed BMP, non-interlaced
    8/16-bit PNG via stdlib zlib, sequential AND progressive Huffman
    JPEG via the pure-stdlib entropy decoder, GIF via pure-stdlib
    LZW, and uncompressed 8-bit TIFF) yield REAL pixel features: a
    4×4 grid of box-mean luminances scaled to [-1, 1]. Header-only
    formats (WEBP, compressed/tiled TIFF, plus PNGs outside the
    stdlib-decodable subset) yield true dims with a hash-fingerprint
    feature (pixels need a codec lib); JPEG coding processes outside
    Huffman DCT (arithmetic / lossless / differential) and unknown
    magic raise NotImplementedError — the loud codec boundary."""
    gray = decode_pixels(data)
    if gray is not None:
        parsed = parse_image_header(data)
        channels = parsed[2] if parsed else 1
        grid = _grid_mean(gray, 4, 4)
        feature = [float(v) / 255.0 * 2.0 - 1.0 for v in grid.ravel()]
        return gray.shape[1], gray.shape[0], channels, feature
    kind = _jpeg_unsupported_kind(data or b"")
    if kind is not None:
        raise NotImplementedError(
            f"{kind} JPEG is outside the pure-stdlib Huffman decoder's "
            f"scope and needs a codec library (PIL) for pixel decode"
        )
    parsed = parse_image_header(data)
    if parsed is None:
        magic = (data or b"")[:4].hex()
        raise NotImplementedError(
            f"image header parse supports PNG/JPEG/GIF/BMP/TIFF/WEBP/PPM; "
            f"bytes with magic {magic!r} need a codec library (PIL) for "
            f"decode"
        )
    w, h, channels = parsed
    return w, h, channels, _hash_feature(data)


def parse_audio_header(data: bytes) -> tuple[int, int, float] | None:
    """(sample_rate, n_samples, duration_s) from the first audio header
    parser that recognises ``data`` — WAV, FLAC, M4A, Ogg Vorbis/Opus,
    AIFF, AU, MP3, ADTS — or None. The one header chain behind both
    ``_real_decode_audio`` and ``profile_media``."""
    return (
        parse_wav_header(data)
        or parse_flac_header(data)
        # strong-magic containers before MP3's sync-scan heuristic
        or parse_mp4_audio_header(data)
        or parse_ogg_vorbis_header(data)
        or parse_ogg_opus_header(data)
        or parse_aiff_header(data)
        or parse_au_header(data)
        or parse_mp3_header(data)
        or parse_adts_header(data)
    )


def _real_decode_audio(data: bytes) -> tuple[int, int, float, list[float]]:
    """WAV in linear PCM, G.711 μ-law/A-law, mono IMA ADPCM, or a
    native FLAC stream (lossless decode, RFC 9639) yields REAL sample
    features: log-RMS energy over 13 equal time blocks (MFCC-shaped,
    codec-free). Compressed formats with parseable headers (MP3, or a
    FLAC whose frames fail to decode) yield true rate/length with a
    hash-fingerprint feature; unknown magic raises
    NotImplementedError."""
    decoded = decode_pcm(data)
    if decoded is not None:
        import math

        import numpy as np

        rate, mono = decoded
        n = mono.size
        if n < 13:
            mono = np.repeat(mono, -(-13 // n))
            n = mono.size
        bounds = (np.arange(14) * n) // 13
        sq = np.zeros(n + 1)
        sq[1:] = np.cumsum(mono * mono)
        rms = np.sqrt(
            (sq[bounds[1:]] - sq[bounds[:-1]]) / (bounds[1:] - bounds[:-1])
        )
        feat = [float(20.0 * math.log10(max(v, 1e-10))) for v in rms]
        return rate, int(decoded[1].size), decoded[1].size / rate, feat
    parsed = parse_audio_header(data)
    if parsed is None:
        magic = (data or b"")[:4].hex()
        raise NotImplementedError(
            f"audio header parse supports WAV/FLAC/MP3/M4A/Ogg-Vorbis/"
            f"Ogg-Opus/ADTS-AAC/AIFF/AU; bytes with magic {magic!r} need "
            f"a codec library (soundfile)"
        )
    rate, n, duration = parsed
    h = hashlib.sha256(data or b"").digest()
    mfcc = [((b / 255.0) * 40.0 - 20.0) for b in h[4:17]]
    return rate, n, duration, mfcc


def _mp4_boxes(d: bytes, start: int, end: int):
    """Iterate (box_type, payload_start, payload_end) over an ISO BMFF
    box range. Handles 64-bit largesize; stops on malformed sizes."""
    i = start
    while i + 8 <= end:
        size, = struct.unpack(">I", d[i : i + 4])
        btype = d[i + 4 : i + 8]
        hdr = 8
        if size == 1:
            if i + 16 > end:
                return
            size, = struct.unpack(">Q", d[i + 8 : i + 16])
            hdr = 16
        elif size == 0:
            size = end - i  # box extends to end of enclosing range
        if size < hdr or i + size > end:
            return
        yield btype, i + hdr, i + size
        i += size


def _mp4_find(d: bytes, start: int, end: int, path: list[bytes]):
    """Descend a box path; yields payload ranges of every match of the
    final component (e.g. multiple ``trak`` boxes)."""
    head, rest = path[0], path[1:]
    for btype, ps, pe in _mp4_boxes(d, start, end):
        if btype != head:
            continue
        if not rest:
            yield ps, pe
        else:
            yield from _mp4_find(d, ps, pe, rest)


def parse_mp4_audio_header(data: bytes) -> tuple[int, int, float] | None:
    """(sample_rate, n_samples, duration_s) from an MP4/M4A audio
    track (ISO 14496-12) — header-tier only, NO PCM claim: walk
    moov→trak, keep the track whose hdlr handler is ``soun``, read
    timescale+duration from its mdhd (both versions) and
    channelcount + 16.16 sample rate from the first stsd sample entry
    (mp4a/alac/any AudioSampleEntry layout). n_samples converts mdhd
    ticks to samples ((duration × rate) div timescale — exact when the
    track timescale is the sample rate, the normal encoder layout).
    Anything structurally off degrades to None."""
    d = data or b""
    if len(d) < 12 or d[4:8] not in (b"ftyp", b"moov", b"mdat", b"wide", b"free"):
        return None
    try:
        for trak_s, trak_e in _mp4_find(d, 0, len(d), [b"moov", b"trak"]):
            is_audio = any(
                d[hs + 8 : hs + 12] == b"soun"
                for hs, _he in _mp4_find(d, trak_s, trak_e, [b"mdia", b"hdlr"])
            )
            if not is_audio:
                continue
            timescale = duration = rate = None
            for ms, me in _mp4_find(d, trak_s, trak_e, [b"mdia", b"mdhd"]):
                ver = d[ms]
                if ver == 1 and ms + 32 <= me:
                    timescale = struct.unpack(">I", d[ms + 20 : ms + 24])[0]
                    duration = struct.unpack(">Q", d[ms + 24 : ms + 32])[0]
                elif ver == 0 and ms + 20 <= me:
                    timescale = struct.unpack(">I", d[ms + 12 : ms + 16])[0]
                    duration = struct.unpack(">I", d[ms + 16 : ms + 20])[0]
            for ss, se in _mp4_find(
                d, trak_s, trak_e, [b"mdia", b"minf", b"stbl", b"stsd"]
            ):
                body = ss + 8 + 8  # fullbox + entry_count, then entry hdr
                if body + 28 <= se:
                    rate = struct.unpack(">I", d[body + 24 : body + 28])[0] >> 16
            if rate and timescale and duration is not None:
                n = duration * rate // timescale
                return rate, n, n / rate
        return None
    except (struct.error, IndexError):
        return None


def mp4_keyframe_samples(data: bytes) -> list[tuple[int, int, int]] | None:
    """Keyframe (sample_number, byte_offset, byte_size) triples from an
    MP4/MOV sample table — a pure ``moov→trak→mdia→minf→stbl`` box walk
    over ``stss`` (sync samples) + ``stsc`` (sample→chunk runs) +
    ``stco``/``co64`` (chunk offsets) + ``stsz`` (sample sizes). No
    codec: offsets address the raw codec bitstream samples inside
    ``mdat``. Returns None when the bytes aren't ISO BMFF, carry no
    video sample table, or the sample table is malformed/truncated
    (a struct read past a box's declared payload degrades to None —
    same infallable-copy spirit as the walker, never a task failure);
    absent ``stss`` means every sample is a sync sample (ISO 14496-12
    §8.6.2)."""
    try:
        return _mp4_keyframe_samples_strict(data)
    except (struct.error, IndexError, MemoryError):
        return None


def _mp4_keyframe_samples_strict(data: bytes) -> list[tuple[int, int, int]] | None:
    d = data or b""
    if len(d) < 12 or d[4:8] not in (b"ftyp", b"moov", b"mdat", b"wide", b"free"):
        return None
    for trak_s, trak_e in _mp4_find(d, 0, len(d), [b"moov", b"trak"]):
        # video track? hdlr handler_type at payload offset 8
        is_video = any(
            d[hs + 8 : hs + 12] == b"vide"
            for hs, _he in _mp4_find(d, trak_s, trak_e, [b"mdia", b"hdlr"])
        )
        if not is_video:
            continue
        stbl = next(
            iter(
                _mp4_find(
                    d, trak_s, trak_e, [b"mdia", b"minf", b"stbl"]
                )
            ),
            None,
        )
        if stbl is None:
            continue
        boxes = {t: (s, e) for t, s, e in _mp4_boxes(d, stbl[0], stbl[1])}
        if b"stsz" not in boxes or b"stsc" not in boxes:
            continue
        co_key = b"stco" if b"stco" in boxes else b"co64"
        if co_key not in boxes:
            continue
        # stsz: version/flags(4), uniform_size(4), count(4) [, sizes]
        s, _e = boxes[b"stsz"]
        uniform, n_samples = struct.unpack(">II", d[s + 4 : s + 12])
        sizes = (
            [uniform] * n_samples
            if uniform
            else list(struct.unpack(f">{n_samples}I", d[s + 12 : s + 12 + 4 * n_samples]))
        )
        # chunk offsets
        s, _e = boxes[co_key]
        (n_chunks,) = struct.unpack(">I", d[s + 4 : s + 8])
        fmt, width = (">I", 4) if co_key == b"stco" else (">Q", 8)
        chunk_off = [
            struct.unpack(fmt, d[s + 8 + i * width : s + 8 + (i + 1) * width])[0]
            for i in range(n_chunks)
        ]
        # stsc runs → samples_per_chunk for every chunk
        s, _e = boxes[b"stsc"]
        (n_runs,) = struct.unpack(">I", d[s + 4 : s + 8])
        runs = [
            struct.unpack(">III", d[s + 8 + i * 12 : s + 20 + i * 12])[:2]
            for i in range(n_runs)
        ]
        per_chunk: list[int] = []
        for ri, (first, spc) in enumerate(runs):
            last = runs[ri + 1][0] - 1 if ri + 1 < len(runs) else n_chunks
            per_chunk.extend([spc] * (last - first + 1))
        # sample_number (1-based) → byte offset
        offsets: dict[int, int] = {}
        sample_n = 1
        for ci, spc in enumerate(per_chunk[:n_chunks]):
            off = chunk_off[ci]
            for _ in range(spc):
                if sample_n > n_samples:
                    break
                offsets[sample_n] = off
                off += sizes[sample_n - 1]
                sample_n += 1
        # stss: sync sample numbers; absent → all samples are keyframes
        if b"stss" in boxes:
            s, _e = boxes[b"stss"]
            (n_sync,) = struct.unpack(">I", d[s + 4 : s + 8])
            sync = struct.unpack(f">{n_sync}I", d[s + 8 : s + 8 + 4 * n_sync])
        else:
            sync = range(1, n_samples + 1)
        return [
            (k, offsets[k], sizes[k - 1]) for k in sync if k in offsets
        ]
    return None


def _real_video_meta(data: bytes) -> dict:
    """Video container metadata: the header parse, or a loud
    NotImplementedError for containers it does not know."""
    meta = parse_video_header(data)
    if meta is None:
        magic = (data or b"")[:8].hex()
        raise NotImplementedError(
            f"video metadata parse supports MP4/MOV/AVI/WebM; "
            f"bytes with magic {magic!r} need a demuxer (PyAV)"
        )
    return meta


def media_table_from_entries(entries: DataFrame) -> DataFrame:
    """Adapt the canonical entries table into the media schema (content →
    data), classifying kind from magic bytes JVM-side. RIFF is a
    container, not a format — the tag at bytes 9-12 decides (WAVE=audio,
    'AVI '=video, WEBP=image)."""
    content = F.col("content")

    def magic(pos: int, value: bytes):
        return content.substr(pos, len(value)) == F.lit(value)

    kind = (
        F.when(magic(1, b"\x89PNG"), "image")
        .when(magic(1, b"\xff\xd8\xff"), "image")
        .when(magic(1, b"GIF87a") | magic(1, b"GIF89a"), "image")
        .when(magic(1, b"BM"), "image")
        .when(magic(1, b"RIFF") & magic(9, b"WAVE"), "audio")
        .when(magic(1, b"RIFF") & magic(9, b"AVI "), "video")
        .when(magic(1, b"RIFF") & magic(9, b"WEBP"), "image")
        .when(magic(5, b"ftyp"), "video")
        .when(magic(1, b"fLaC"), "audio")
        .when(magic(1, b"ID3"), "audio")
        .when(magic(1, b".snd"), "audio")
        .when(
            magic(1, b"FORM") & (magic(9, b"AIFF") | magic(9, b"AIFC")),
            "audio",
        )
        .when(magic(1, b"P5\n") | magic(1, b"P5 ") | magic(1, b"P6\n")
              | magic(1, b"P6 "), "image")
        .when(magic(1, b"II*\x00") | magic(1, b"MM\x00*"), "image")
        .otherwise("unknown")
    )
    return entries.select(
        F.xxhash64("source", "path").alias("media_id"),
        kind.alias("kind"),
        F.lit(None).cast("string").alias("mime"),
        F.col("content").alias("data"),
        F.create_map(F.lit("path"), F.col("path")).alias("meta"),
    )


# -- real pixel decode + perceptual hashing ------------------------------------
#
# PPM/PGM (P6/P5, binary) and uncompressed BMP (24/32 bpp) carry raw
# pixels — decodable with numpy alone, no codec. Perceptual hashes over
# those pixels are therefore REAL content features (unlike the
# hash-derived stand-in feature vectors above); compressed formats
# yield null and are the documented codec boundary.


def _png_pixels(d: bytes):
    """Grayscale float64 (H, W) matrix for a non-interlaced 8/16-bit
    PNG (color types 0/2/3/4/6) — REAL pixel decode, pure stdlib:
    IDAT chunks are zlib-inflated and the five scanline filters
    (None/Sub/Up/Average/Paeth, spec §9) are reversed row by row.
    None for anything that isn't such a PNG (Adam7 interlace and
    1/2/4-bit depths stay out of scope; 16-bit samples use the MSB,
    which is the spec's own 8-bit reduction).
    """
    import zlib

    import numpy as np

    if d[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    # chunk walk: IHDR (must be first), PLTE, IDAT+
    pos = 8
    ihdr = None
    plte = None
    idat: list[bytes] = []
    while pos + 8 <= len(d):
        (length,) = struct.unpack(">I", d[pos : pos + 4])
        ctype = d[pos + 4 : pos + 8]
        body = d[pos + 8 : pos + 8 + length]
        if len(body) < length:
            return None  # truncated chunk
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w, h, depth, color, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    if interlace != 0 or depth not in (8, 16) or w == 0 or h == 0:
        return None
    n_ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if n_ch is None or (color == 3 and (depth != 8 or plte is None)):
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    bpp = n_ch * (depth // 8)  # filter unit: bytes per pixel
    stride = w * bpp
    if len(raw) < h * (stride + 1):
        return None
    prev = np.zeros(stride, dtype=np.uint8)
    rows = np.empty((h, stride), dtype=np.uint8)
    for y in range(h):
        base = y * (stride + 1)
        ftype = raw[base]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=base + 1)
        if ftype == 0:
            cur = line.copy()
        elif ftype == 2:  # Up — vectorized
            cur = line + prev
        elif ftype == 1:  # Sub — sequential in x
            cur = line.copy()
            for x in range(bpp, stride):
                cur[x] = (int(cur[x]) + int(cur[x - bpp])) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            for x in range(stride):
                left = int(cur[x - bpp]) if x >= bpp else 0
                cur[x] = (int(line[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            return None
        rows[y] = cur
        prev = cur
    px = rows.reshape(h, w, bpp)
    if depth == 16:
        px = px[:, :, ::2]  # MSB of each 16-bit sample
    if color == 3:  # palette lookup → RGB
        pal = np.frombuffer(plte, dtype=np.uint8)
        pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3)
        idx = px[:, :, 0]
        if idx.max(initial=0) >= len(pal):
            return None
        px = pal[idx]
    samples = px.astype(np.float64)
    if color in (2, 3, 6):  # RGB / palette-RGB / RGBA → luminance
        return samples[:, :, :3] @ np.array([0.299, 0.587, 0.114])
    return samples[:, :, 0]  # grayscale (alpha, if any, ignored)


# Annex-F zigzag: _JPEG_ZIGZAG[k] is the linear (row*8+col) index of the
# k-th coefficient in zigzag scan order.
_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# SOF markers by coding process: sequential (SOF0/SOF1) and progressive
# (SOF2) Huffman are decodable here; everything else is the loud codec
# boundary.
_JPEG_SOF_BASELINE = {0xC0, 0xC1}
# Largest declared frame (width × height) `_jpeg_pixels` decodes: PIL's
# decompression-bomb default. The coefficient stores are sized from the
# SOF before any entropy data is read, and a progressive EOBRUN lets a
# few bytes cover any grid, so the file size bounds nothing.
_JPEG_MAX_PIXELS = 89_478_485
_JPEG_SOF_PROGRESSIVE = 0xC2
_JPEG_SOF_UNSUPPORTED = {
    0xC3: "lossless",
    0xC5: "differential sequential",
    0xC6: "differential progressive",
    0xC7: "differential lossless",
    0xC9: "arithmetic sequential",
    0xCA: "arithmetic progressive",
    0xCB: "arithmetic lossless",
    0xCD: "differential arithmetic sequential",
    0xCE: "differential arithmetic progressive",
    0xCF: "differential arithmetic lossless",
}


def _jpeg_segments(d: bytes):
    """The JPEG marker walk (T.81 B.1.1): yields ``(marker, body,
    next_pos)`` for each marker segment in stream order, and
    ``(0xD9, b"", next_pos)`` for EOI, where it stops. It skips the
    spec-legal 0xFF fill bytes before a marker (B.1.1.2), steps over
    the standalone SOI and RSTn markers, and after an SOS segment skips
    the entropy-coded data (stuffed 0xFF00 bytes and RSTn included) to
    the next marker. It stops quietly at a byte that is not a marker
    and at a segment length below 2 or past the end of the data."""
    if d[:2] != b"\xff\xd8":
        return
    n = len(d)
    pos = 2
    while pos + 2 <= n:
        if d[pos] != 0xFF:
            return
        while pos + 2 < n and d[pos + 1] == 0xFF:
            pos += 1
        marker = d[pos + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            yield marker, b"", pos + 2
            return
        nxt = pos + 2 + int.from_bytes(d[pos + 2 : pos + 4], "big")
        if nxt < pos + 4 or nxt > n:
            return
        yield marker, d[pos + 4 : nxt], nxt
        pos = nxt
        if marker == 0xDA:
            pos = d.find(b"\xff", pos)
            while 0 <= pos < n - 1 and (
                d[pos + 1] == 0x00 or 0xD0 <= d[pos + 1] <= 0xD7
            ):
                pos = d.find(b"\xff", pos + 2)
            if pos < 0:
                return


def _jpeg_unsupported_kind(d: bytes) -> str | None:
    """Name of the JPEG coding process if `d` is a JPEG whose process is
    outside the Huffman decoder's scope (arithmetic / lossless /
    differential), else None. Marker walk only — no entropy decode."""
    for marker, _body, _nxt in _jpeg_segments(d):
        if marker in _JPEG_SOF_UNSUPPORTED:
            return _JPEG_SOF_UNSUPPORTED[marker]
        if marker in _JPEG_SOF_BASELINE or marker == 0xDA:
            return None
    return None


def _jpeg_build_huffman(counts: bytes, symbols: bytes) -> dict:
    """Canonical JPEG Huffman table (spec C.2): {(length, code): symbol}."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _JpegMarker(Exception):
    """Entropy-coded segment ended at a marker (RSTn / EOI / next SOS)."""

    def __init__(self, marker: int):
        self.marker = marker


class _JpegBits:
    """MSB-first bit reader over an entropy-coded segment, undoing the
    0xFF00 byte stuffing; raises _JpegMarker when a real marker starts."""

    def __init__(self, d: bytes, pos: int):
        self.d = d
        self.pos = pos
        self.cur = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.d):
                raise _JpegMarker(0xD9)
            b = self.d[self.pos]
            if b == 0xFF:
                nxt = self.d[self.pos + 1] if self.pos + 1 < len(self.d) else 0xD9
                if nxt != 0x00:
                    raise _JpegMarker(nxt)
                self.pos += 2
            else:
                self.pos += 1
            self.cur = b
            self.nbits = 8
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huffman(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise _JpegMarker(0xD9)  # invalid stream: treat as truncated

    def align_and_expect_rst(self, n: int) -> bool:
        """Byte-align and consume the RSTn marker at a restart boundary."""
        self.nbits = 0
        if self.pos + 2 > len(self.d):
            return False
        if self.d[self.pos] != 0xFF or self.d[self.pos + 1] != 0xD0 + (n & 7):
            return False
        self.pos += 2
        return True


def _jpeg_extend(v: int, n: int) -> int:
    """Sign-extend an n-bit magnitude (spec F.2.2.1 EXTEND)."""
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1



def _jpeg_decode_scan(
    d: bytes,
    pos: int,
    comps: list,
    layout: list,
    grid: tuple[int, int],
    spectral: tuple[int, int, int, int],
    restart_interval: int,
    progressive: bool,
):
    """Entropy-decode the scan whose data starts at ``d[pos]`` into the
    coefficient stores (T.81 F.2.2 and G.2). ``comps`` holds, per scan
    component, ``(cid, store, dc_table, ac_table)`` — its component id,
    which keys the DC predictor, and its (rows, cols, 64) store of
    natural-order coefficients — or None when the component or a table
    it needs is missing, which fails the scan where its first block is
    reached. A unit is an MCU
    of an interleaved scan or one block of a single-component scan;
    ``layout`` lists its blocks as ``(j, v, y, h, x)`` — block
    ``(uy * v + y, ux * h + x)`` of scan component j in unit (uy, ux) —
    and ``grid`` is (rows, cols) of units. ``spectral`` is the scan's
    (Ss, Se, Ah, Al). A sequential scan is the special case DC-first
    then AC 1..63 at Al=0; its blocks are decoded whole and stored with
    one row write.

    Returns None on a malformed or truncated scan, else the list of
    ``(j, by, bx)`` blocks the data did not reach: empty for a whole
    scan, non-empty only under the sequential rule that end-of-data in
    the last unit keeps the blocks decoded before it."""
    ss, se, ah, al = (1, 63, 0, 0) if not progressive else spectral
    br = _JpegBits(d, pos)
    preds = {c[0]: 0 for c in comps if c is not None}
    eobrun = 0
    p1 = 1 << al
    m1 = -p1

    def dc_first(blk, cid: int, tbl: dict) -> None:
        t = br.decode_huffman(tbl)
        preds[cid] += _jpeg_extend(br.receive(t), t)
        blk[0] = preds[cid] << al

    def ac_first(blk, tbl: dict) -> None:
        nonlocal eobrun
        if eobrun:
            eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = br.decode_huffman(tbl)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r != 15:
                    if progressive:  # EOBRUN (G.1.2.2); sequential: EOB
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.receive(r)
                    return
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                if progressive:
                    raise _JpegMarker(0xD9)  # malformed band overrun
                return  # sequential: the run ends the block
            blk[_JPEG_ZIGZAG[k]] = _jpeg_extend(br.receive(s), s) << al
            k += 1

    def correct(blk, z: int) -> None:
        if br.read_bit() and not (int(blk[z]) & p1):
            blk[z] += p1 if blk[z] >= 0 else m1

    def ac_refine(blk, tbl: dict) -> None:
        nonlocal eobrun
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = br.decode_huffman(tbl)
                r, s = rs >> 4, rs & 0x0F
                val = 0
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += br.receive(r)
                        break
                    # ZRL: advance over 16 zero-history coefficients
                else:
                    # s must be 1 in a refinement scan
                    val = p1 if br.read_bit() else m1
                while k <= se:
                    z = _JPEG_ZIGZAG[k]
                    if blk[z] != 0:
                        correct(blk, z)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    blk[_JPEG_ZIGZAG[k]] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                z = _JPEG_ZIGZAG[k]
                if blk[z] != 0:
                    correct(blk, z)
                k += 1
            eobrun -= 1

    def unit(cid: int, store, dc_tbl, ac_tbl, by: int, bx: int) -> None:
        if not progressive:
            coef = [0] * 64
            dc_first(coef, cid, dc_tbl)
            ac_first(coef, ac_tbl)
            store[by, bx] = coef
        elif ss > 0:
            (ac_refine if ah else ac_first)(store[by, bx], ac_tbl)
        elif ah == 0:
            dc_first(store[by, bx], cid, dc_tbl)
        elif br.read_bit():  # DC refinement bit
            store[by, bx, 0] = int(store[by, bx, 0]) | p1

    rows, cols = grid
    count = rst = i = 0
    try:
        for uy in range(rows):
            for ux in range(cols):
                if restart_interval and count and count % restart_interval == 0:
                    if not br.align_and_expect_rst(rst):
                        return None
                    rst = (rst + 1) & 7
                    preds = dict.fromkeys(preds, 0)
                    eobrun = 0
                for i, (j, v, y, h, x) in enumerate(layout):
                    if comps[j] is None:
                        return None
                    unit(*comps[j], uy * v + y, ux * h + x)
                count += 1
    except _JpegMarker as m:
        if progressive or m.marker != 0xD9 or count < rows * cols - 1:
            return None
        return [(j, uy * v + y, ux * h + x) for j, v, y, h, x in layout[i:]]
    return []


def _jpeg_pixels(d: bytes):
    """Grayscale float64 (H, W) matrix — the luma (Y) plane — of a
    Huffman-coded JPEG, sequential (SOF0/SOF1, the overwhelmingly
    dominant JPEG on the web) or progressive (SOF2): REAL pixel decode,
    pure stdlib + numpy. One marker walk (`_jpeg_segments`) collects
    DQT/DHT/DRI/SOF; every SOS entropy-decodes into one per-component
    coefficient store (`_jpeg_decode_scan`: byte-unstuffing, restart
    markers, DC prediction, and for progressive frames the T.81 §G.2
    spectral-selection bands, EOBRUNs and successive-approximation
    refinement); one dequantize + 8×8 IDCT pass then rebuilds the Y
    plane. Chroma is entropy-decoded to keep the bitstream in sync but
    not reconstructed: the Y plane is the same BT.601 luma the PNG/BMP
    paths compute from RGB.

    Malformed input returns None; the frame types keep their own rules:
    - SOF0/1 needs no EOI. A scan decodes the frame components it names
      in frame order; decoding ends once every component has had its
      scan, and end-of-data inside the last unit of a scan is tolerated:
      the Y blocks it did not reach stay 0 (black). A run past
      coefficient 63 ends its block.
    - SOF2 needs an EOI. A scan decodes its components in scan order; a
      scan naming an unknown component, a band overrun, and end-of-data
      or a marker inside any scan return None.
    - Both need a scan that decoded Y, and Y's quantization table. A
      second SOF returns None, and so does a missing Huffman table once
      the scan reaches a block that needs it.
    - A SOF declaring more than 89,478,485 pixels (`_JPEG_MAX_PIXELS`,
      PIL's decompression-bomb default) returns None before anything
      is allocated; at the bound the stores take ~8 bytes per pixel
      per component.
    Out-of-scope processes (arithmetic/lossless/differential) are None
    here too; `_jpeg_unsupported_kind` names them so `_real_decode_image`
    can raise the loud codec boundary.

    Scale note: this is the correctness tier — a pure-Python Huffman
    loop (~1 MB/s/core). At 100 TB the hash-fingerprint tier or a real
    codec library on the executors is the throughput path; this decoder
    certifies the plumbing end-to-end without any codec dependency.
    """
    import numpy as np

    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    restart_interval = 0
    frame: list[tuple[int, int, int, int]] = []  # (cid, hi, vi, tq)
    stores: list = []  # per frame component: (rows, cols, 64) float64
    progressive = saw_eoi = False
    decoded: set[int] = set()  # frame components some scan decoded
    holes: list[tuple[int, int]] = []  # Y blocks left black (SOF0/1 rule)
    for marker, body, nxt in _jpeg_segments(d):
        if marker == 0xDB:  # DQT — one or more tables, 8- or 16-bit
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                end = i + 1 + (128 if pq else 64)
                if end > len(body):
                    return None
                qt[tq] = (
                    list(body[i + 1 : end])
                    if pq == 0
                    else [
                        int.from_bytes(body[j : j + 2], "big")
                        for j in range(i + 1, end, 2)
                    ]
                )
                i = end
        elif marker == 0xC4:  # DHT — one or more tables
            i = 0
            while i + 17 <= len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                counts = body[i + 1 : i + 17]
                total = sum(counts)
                i += 17
                if i + total > len(body):
                    return None
                huff[(tc, th)] = _jpeg_build_huffman(counts, body[i : i + total])
                i += total
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker in _JPEG_SOF:
            if frame or marker in _JPEG_SOF_UNSUPPORTED or len(body) < 6:
                return None
            h_img, w_img = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            if body[0] != 8 or not (w_img and h_img and ncomp):
                return None
            if w_img * h_img > _JPEG_MAX_PIXELS:
                return None
            if len(body) < 6 + 3 * ncomp:
                return None
            frame = [
                (body[j], body[j + 1] >> 4, body[j + 1] & 0x0F, body[j + 2])
                for j in range(6, 6 + 3 * ncomp, 3)
            ]
            hmax = max(c[1] for c in frame)
            vmax = max(c[2] for c in frame)
            # The luma component must be full-resolution (universally
            # true: Y carries the max sampling factors); bail rather
            # than mis-scale.
            if hmax == 0 or vmax == 0 or frame[0][1:3] != (hmax, vmax):
                return None
            progressive = marker == _JPEG_SOF_PROGRESSIVE
            mcus_x = (w_img + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h_img + 8 * vmax - 1) // (8 * vmax)
            # padded to the MCU grid so interleaved scans can index it
            stores = [
                np.zeros((mcus_y * vi, mcus_x * hi, 64))
                for _cid, hi, vi, _tq in frame
            ]
        elif marker == 0xDA:  # SOS
            if not frame or not body:
                return None
            ns = body[0]
            # a sequential scan's Ss/Se/Ah/Al are fixed; only a
            # progressive scan needs its three trailing bytes
            if ns == 0 or len(body) < 1 + 2 * ns + 3 * progressive:
                return None
            ss, se, ah, al = 0, 63, 0, 0
            if progressive:
                ss, se, a = body[1 + 2 * ns : 4 + 2 * ns]
                ah, al = a >> 4, a & 0x0F
                if ss > se or se > 63 or (ss == 0 and se != 0):
                    return None  # DC and AC never share a progressive scan
                if ss > 0 and ns != 1:
                    return None  # AC scans are non-interleaved by spec
            named = [(body[1 + 2 * j], body[2 + 2 * j]) for j in range(ns)]
            if progressive:
                # scan order; a repeated component decodes again
                index = {c[0]: ci for ci, c in enumerate(frame)}
                if any(cs not in index for cs, _tt in named):
                    return None
                sel = [(index[cs], tt) for cs, tt in named]
            else:
                # frame order, each named component with its entry's tables
                tables = dict(named)
                sel = [
                    (ci, tables[c[0]])
                    for ci, c in enumerate(frame)
                    if c[0] in tables
                ]
                if not sel:
                    return None
            needs_dc = not progressive or ss == ah == 0
            needs_ac = not progressive or ss > 0
            comps = []
            for ci, tt in sel:
                dc_tbl, ac_tbl = huff.get((0, tt >> 4)), huff.get((1, tt & 0x0F))
                if (needs_dc and dc_tbl is None) or (needs_ac and ac_tbl is None):
                    comps.append(None)
                else:
                    comps.append((frame[ci][0], stores[ci], dc_tbl, ac_tbl))
            if ns == 1:  # non-interleaved: the component's own block grid
                _cid, hi, vi, _tq = frame[sel[0][0]]
                ch = (h_img * vi + vmax - 1) // vmax
                cw = (w_img * hi + hmax - 1) // hmax
                grid = ((ch + 7) // 8, (cw + 7) // 8)
                layout = [(0, 1, 0, 1, 0)]
            else:  # interleaved: MCU geometry
                grid = (mcus_y, mcus_x)
                layout = [
                    (j, frame[ci][2], y, frame[ci][1], x)
                    for j, (ci, _tt) in enumerate(sel)
                    for y in range(frame[ci][2])
                    for x in range(frame[ci][1])
                ]
            missing = _jpeg_decode_scan(
                d, nxt, comps, layout, grid, (ss, se, ah, al),
                restart_interval, progressive,
            )
            if missing is None:
                return None
            decoded.update(ci for ci, _tt in sel)
            holes += [(by, bx) for j, by, bx in missing if sel[j][0] == 0]
            if not progressive and (missing or len(decoded) == len(frame)):
                break
        elif marker == 0xD9:
            saw_eoi = True
    if 0 not in decoded or (progressive and not saw_eoi):
        return None
    tq0 = frame[0][3]
    if tq0 not in qt:
        return None
    qy = np.zeros(64, dtype=np.float64)
    for k, lin in enumerate(_JPEG_ZIGZAG):
        qy[lin] = qt[tq0][k]
    qy = qy.reshape(8, 8)
    # 8×8 IDCT basis: C[u, x] = c(u)/2 · cos((2x+1)uπ/16)
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    basis = np.cos((2 * x + 1) * u * np.pi / 16.0) * 0.5
    basis[0, :] *= 1.0 / np.sqrt(2.0)
    cbh, cbw = (h_img + 7) // 8, (w_img + 7) // 8
    y_plane = np.zeros((cbh * 8, cbw * 8), dtype=np.float64)
    c0 = stores[0]
    for by in range(cbh):
        for bx in range(cbw):
            block = c0[by, bx].reshape(8, 8) * qy
            y_plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                basis.T @ block @ basis + 128.0
            )
    for by, bx in holes:
        y_plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = 0.0
    return np.clip(y_plane[:h_img, :w_img], 0.0, 255.0)


def _gif_lzw_decode(min_code_size: int, data: bytes, max_out: int):
    """GIF-variant LZW (LSB-first bit packing, variable width 3..12
    bits, clear/EOI codes): returns the decoded index bytes, or None on
    a corrupt stream. ``max_out`` bounds output so a malicious blob
    can't balloon memory (the quine-zip guard discipline of
    ``Walker.begin_visit_archive``)."""
    if not 2 <= min_code_size <= 11:
        return None
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < code_size:
            if pos >= len(data):
                # missing EOI: tolerated by most decoders — accept what
                # we have (matches the walker's truncation tolerance)
                return bytes(out)
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table) and code != clear and code != eoi:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            return None  # corrupt: code beyond table
        out += entry
        if len(out) > max_out:
            return None
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry


def _gif_pixels(d: bytes):
    """Grayscale float64 (H, W) matrix for the FIRST frame of a GIF87a/
    GIF89a — REAL pixel decode, pure stdlib: global/local color table,
    extension-block skip, GIF-LZW sub-block decode, Adam-style 4-pass
    deinterlace when flagged, palette lookup → BT.601 luminance. None
    for malformed/truncated streams."""
    import numpy as np

    if d[:6] not in (b"GIF87a", b"GIF89a") or len(d) < 13:
        return None
    flags = d[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = d[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            return None
        pos += 3 * n
    while pos < len(d):
        block = d[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(d) and d[pos] != 0:
                pos += 1 + d[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(d):
                return None
            w, h = struct.unpack("<HH", d[pos + 5 : pos + 9])
            iflags = d[pos + 9]
            pos += 10
            ct = gct
            if iflags & 0x80:  # local color table
                n = 2 << (iflags & 0x07)
                ct = d[pos : pos + 3 * n]
                if len(ct) < 3 * n:
                    return None
                pos += 3 * n
            if ct is None or w == 0 or h == 0 or pos >= len(d):
                return None
            mcs = d[pos]
            pos += 1
            sub = bytearray()
            while pos < len(d) and d[pos] != 0:
                ln = d[pos]
                sub += d[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx = _gif_lzw_decode(mcs, bytes(sub), max_out=w * h + 8)
            if idx is None or len(idx) < w * h:
                return None
            pal = np.frombuffer(ct, dtype=np.uint8)
            pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3)
            arr = np.frombuffer(idx[: w * h], dtype=np.uint8).reshape(h, w)
            if arr.max(initial=0) >= len(pal):
                return None
            if iflags & 0x40:  # interlaced: rows arrive in 4 passes
                order = (
                    list(range(0, h, 8))
                    + list(range(4, h, 8))
                    + list(range(2, h, 4))
                    + list(range(1, h, 2))
                )
                de = np.empty_like(arr)
                de[order] = arr
                arr = de
            rgb = pal[arr].astype(np.float64)
            return rgb @ np.array([0.299, 0.587, 0.114])
        else:  # trailer (0x3B) or junk
            return None
    return None


def _tiff_pixels(d: bytes):
    """Grayscale float64 (H, W) matrix for an UNCOMPRESSED striped
    8-bit TIFF (grayscale or RGB, either byte order) — REAL pixel
    decode, pure stdlib IFD walk: ImageWidth/Length, BitsPerSample,
    Compression=1, PhotometricInterpretation (0 inverts), StripOffsets/
    ByteCounts, SamplesPerPixel, RowsPerStrip. None for compressed,
    tiled, planar, or non-8-bit TIFFs (they need a codec or are out of
    this tier's scope)."""
    import numpy as np

    if d[:4] not in (b"II*\x00", b"MM\x00*") or len(d) < 8:
        return None
    bo = "<" if d[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack(bo + "I", d[4:8])
    if ifd_off + 2 > len(d):
        return None
    (n_tags,) = struct.unpack(bo + "H", d[ifd_off : ifd_off + 2])
    tags: dict[int, tuple[int, int, bytes]] = {}
    for t in range(n_tags):
        e = ifd_off + 2 + t * 12
        if e + 12 > len(d):
            return None
        tag, typ = struct.unpack(bo + "HH", d[e : e + 4])
        (count,) = struct.unpack(bo + "I", d[e + 4 : e + 8])
        tags[tag] = (typ, count, d[e + 8 : e + 12])

    _SZ = {1: 1, 3: 2, 4: 4}

    def values(tag: int, default=None):
        if tag not in tags:
            return default
        typ, count, inline = tags[tag]
        if typ not in _SZ:
            return None
        total = _SZ[typ] * count
        if total <= 4:
            buf = inline[:total]
        else:
            (off,) = struct.unpack(bo + "I", inline)
            buf = d[off : off + total]
            if len(buf) < total:
                return None
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        return list(struct.unpack(bo + str(count) + fmt, buf))

    w = (values(256) or [None])[0]
    h = (values(257) or [None])[0]
    compression = (values(259, [1]) or [1])[0]
    photometric = (values(262, [1]) or [1])[0]
    spp = (values(277, [1]) or [1])[0]
    bits = values(258, [8]) or [8]
    offsets = values(273)
    counts = values(279)
    rows_per_strip = (values(278, [h]) or [h])[0]
    if (
        not w
        or not h
        or compression != 1
        or photometric not in (0, 1, 2)
        or spp not in (1, 3)
        or any(b != 8 for b in bits)
        or not offsets
        or not counts
        or len(offsets) != len(counts)
        or not rows_per_strip
    ):
        return None
    raw = bytearray()
    for off, cnt in zip(offsets, counts):
        chunk = d[off : off + cnt]
        if len(chunk) < cnt:
            return None
        raw += chunk
    need = w * h * spp
    if len(raw) < need:
        return None
    px = np.frombuffer(bytes(raw[:need]), dtype=np.uint8).reshape(h, w, spp)
    samples = px.astype(np.float64)
    if spp == 3:
        return samples @ np.array([0.299, 0.587, 0.114])
    gray = samples[:, :, 0]
    if photometric == 0:  # white-is-zero
        gray = 255.0 - gray
    return gray


def decode_pixels(data: bytes):
    """Grayscale float64 (H, W) pixel matrix for binary PPM (P6), PGM
    (P5), uncompressed 24/32-bpp BMP, non-interlaced 8/16-bit PNG,
    sequential or progressive Huffman JPEG (Y plane), GIF (first frame,
    LZW), or
    uncompressed striped 8-bit TIFF bytes; None for anything else.
    """
    import numpy as np

    d = data or b""
    if d[:8] == b"\x89PNG\r\n\x1a\n":
        return _png_pixels(d)
    if d[:2] == b"\xff\xd8":
        return _jpeg_pixels(d)
    if d[:6] in (b"GIF87a", b"GIF89a"):
        return _gif_pixels(d)
    if d[:4] in (b"II*\x00", b"MM\x00*"):
        return _tiff_pixels(d)
    if d[:2] in (b"P6", b"P5"):
        # header: magic, width, height, maxval — whitespace/comment
        # separated, then a single whitespace byte before raster
        fields: list[bytes] = []
        i = 2
        while len(fields) < 3 and i < len(d):
            while i < len(d) and d[i : i + 1].isspace():
                i += 1
            if d[i : i + 1] == b"#":
                while i < len(d) and d[i] != 0x0A:
                    i += 1
                continue
            j = i
            while j < len(d) and not d[j : j + 1].isspace():
                j += 1
            fields.append(d[i:j])
            i = j
        i += 1  # the single whitespace after maxval
        if len(fields) < 3:
            return None
        w, h, maxval = (int(x) for x in fields)
        if maxval > 255:
            return None  # 2-byte samples: out of scope
        ch = 3 if d[:2] == b"P6" else 1
        need = w * h * ch
        raster = np.frombuffer(d, dtype=np.uint8, count=-1, offset=i)
        if raster.size < need:
            return None
        raster = raster[:need].astype(np.float64)
        if ch == 3:
            rgb = raster.reshape(h, w, 3)
            return rgb @ np.array([0.299, 0.587, 0.114])
        return raster.reshape(h, w)
    if d[:2] == b"BM" and len(d) >= 54:
        off, = struct.unpack("<I", d[10:14])
        w, h_signed, _planes, bpp, compression = struct.unpack(
            "<iiHHI", d[18:34]
        )
        if compression != 0 or bpp not in (24, 32):
            return None
        h = abs(h_signed)
        bytes_pp = bpp // 8
        stride = (w * bytes_pp + 3) & ~3  # rows pad to 4 bytes
        if off + stride * h > len(d):
            return None
        rows = np.frombuffer(
            d, dtype=np.uint8, count=stride * h, offset=off
        ).reshape(h, stride)
        px = rows[:, : w * bytes_pp].reshape(h, w, bytes_pp).astype(np.float64)
        gray = px[:, :, :3] @ np.array([0.114, 0.587, 0.299])  # BGR order
        if h_signed > 0:
            gray = gray[::-1]  # bottom-up storage
        return gray
    return None


def _grid_mean(gray, rows: int, cols: int):
    """Box-average a (H, W) matrix down to (rows, cols) — deterministic,
    pure numpy. Tiny images are nearest-neighbor upsampled first so
    every box is non-empty."""
    import numpy as np

    h, w = gray.shape
    if h < rows:
        gray = np.repeat(gray, -(-rows // h), axis=0)
        h = gray.shape[0]
    if w < cols:
        gray = np.repeat(gray, -(-cols // w), axis=1)
        w = gray.shape[1]
    rb = (np.arange(rows + 1) * h) // rows
    cb = (np.arange(cols + 1) * w) // cols
    csum = np.zeros((h + 1, w + 1))
    csum[1:, 1:] = gray.cumsum(0).cumsum(1)
    out = (
        csum[rb[1:, None], cb[None, 1:]]
        - csum[rb[:-1, None], cb[None, 1:]]
        - csum[rb[1:, None], cb[None, :-1]]
        + csum[rb[:-1, None], cb[None, :-1]]
    )
    area = (rb[1:] - rb[:-1])[:, None] * (cb[1:] - cb[:-1])[None, :]
    return out / area


def _bits_to_int64(bits) -> int:
    """Pack a flat boolean array (LSB first) into a signed int64."""
    out = 0
    for i, b in enumerate(bits):
        if b:
            out |= 1 << i
    return out - (1 << 64) if out >= (1 << 63) else out


def perceptual_hash(data: bytes, method: str = "ahash") -> int | None:
    """64-bit perceptual hash of decodable image bytes (PPM/PGM/raw
    BMP): 'ahash' thresholds an 8×8 box-mean against its mean; 'dhash'
    compares horizontal neighbors on a 9×8 grid. None when the format
    needs a codec."""
    gray = decode_pixels(data)
    return None if gray is None else _phash_gray(gray, method)


def _phash_gray(gray, method: str) -> int:
    if method == "ahash":
        g = _grid_mean(gray, 8, 8)
        return _bits_to_int64((g > g.mean()).ravel())
    if method == "dhash":
        g = _grid_mean(gray, 8, 9)
        return _bits_to_int64((g[:, 1:] > g[:, :-1]).ravel())
    raise ValueError(f"unknown perceptual hash method {method!r}")


# -- real PCM decode + audio fingerprinting ------------------------------------


def _g711_ulaw_to_linear(codes):
    """Vectorized G.711 μ-law → 16-bit-range linear (the classic
    ulaw2linear: complement, mantissa<<3 + 0x84 bias, segment shift)."""
    import numpy as np

    u = (~codes.astype(np.int64)) & 0xFF
    t = ((u & 0x0F) << 3) + 0x84
    t = t << ((u & 0x70) >> 4)
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.float64)


def _g711_alaw_to_linear(codes):
    """Vectorized G.711 A-law → 16-bit-range linear (alaw2linear:
    XOR 0x55, segment expansion; sign bit SET means positive)."""
    import numpy as np

    a = codes.astype(np.int64) ^ 0x55
    seg = (a & 0x70) >> 4
    t = (a & 0x0F) << 4
    t = np.where(seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0))
    return np.where(a & 0x80, t, -t).astype(np.float64)


_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX_ADJUST = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_adpcm_decode(raw: bytes, block_align: int):
    """Mono IMA ADPCM (WAV fmt 0x11) → float64 samples in [-1, 1]:
    per-block 4-byte header (predictor, step index) then 4-bit nibbles,
    low nibble first. Sequential by construction (each sample feeds the
    next predictor) — correctness tier, like the JPEG entropy loop."""
    import numpy as np

    if block_align < 5:
        return None
    out: list[float] = []
    for b0 in range(0, len(raw) - block_align + 1, block_align):
        block = raw[b0 : b0 + block_align]
        pred = struct.unpack("<h", block[0:2])[0]
        index = block[2]
        if index > 88:
            return None
        out.append(pred / 32768.0)
        for byte in block[4:]:
            for nib in (byte & 0x0F, byte >> 4):
                step = _IMA_STEPS[index]
                diff = step >> 3
                if nib & 1:
                    diff += step >> 2
                if nib & 2:
                    diff += step >> 1
                if nib & 4:
                    diff += step
                pred = pred - diff if nib & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                index = max(0, min(88, index + _IMA_INDEX_ADJUST[nib & 7]))
                out.append(pred / 32768.0)
    if not out:
        return None
    return np.array(out, dtype=np.float64)


# --------------------------------------------------------------------------
# FLAC (RFC 9639) native-stream decode — stdlib + numpy, correctness tier.
# Unlike MP3 (whose fixed spec Huffman tables cannot be verified in this
# container — no reference decoder exists), FLAC carries no fixed code
# tables: Rice parameters, predictor orders and LPC coefficients all
# arrive IN-STREAM, so a decoder is verifiable the same way the JPEG
# decoders are — bit-exact PCM roundtrip against a test-side encoder
# (tests/test_flac_real.py) plus CRC-8/CRC-16 enforcement from the spec.

_FLAC_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_FLAC_BLOCK = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608}
_FLAC_BPS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
_FIXED_COEFS = ((), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1))


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8+x^2+x+1 (0x07), init 0 — FLAC frame-header
    CRC (RFC 9639 §9.1.8)."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07 if crc & 0x80 else crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, polynomial x^16+x^15+x^2+1 (0x8005), init 0 — FLAC
    whole-frame CRC (RFC 9639 §9.3)."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                (crc << 1) ^ 0x8005 if crc & 0x8000 else crc << 1
            ) & 0xFFFF
    return crc


class _Bits:
    """MSB-first bit reader. Raises EOFError past the end — callers
    convert that to a None (malformed/truncated) result."""

    __slots__ = ("d", "pos")

    def __init__(self, d: bytes, bitpos: int = 0):
        self.d = d
        self.pos = bitpos

    def read(self, n: int) -> int:
        end = self.pos + n
        if end > len(self.d) * 8:
            raise EOFError
        v = 0
        pos = self.pos
        while n > 0:
            byte = self.d[pos >> 3]
            avail = 8 - (pos & 7)
            take = min(avail, n)
            v = (v << take) | (
                (byte >> (avail - take)) & ((1 << take) - 1)
            )
            pos += take
            n -= take
        self.pos = pos
        return v

    def sread(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int:
        # The 2^20 run cap is a deliberate DoS boundary, not a spec
        # limit: a spec-LEGAL stream (Rice param 0 carrying ~2^20+
        # residual magnitudes at 24/32-bit depth) can encode arbitrarily
        # long unary runs, each costing one pure-Python read(1) per bit.
        # Hitting the cap raises EOFError, which the frame loop converts
        # to TIER DEGRADATION — the entry falls back to the
        # hash-fingerprint tier (decoded=None) instead of real PCM; no
        # wrong samples are ever produced, the stream just isn't decoded.
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 20:  # pathological-stream guard (see above)
                raise EOFError
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _flac_residual(br: _Bits, blocksize: int, order: int) -> list[int]:
    """One coded-residual section (RFC 9639 §9.2.7): Rice/Rice2
    partitions with the raw-bits escape."""
    method = br.read(2)
    if method > 1:
        raise ValueError("reserved residual method")
    pbits = 4 if method == 0 else 5
    part_order = br.read(4)
    nparts = 1 << part_order
    # nparts == 1 allows blocksize == order (a subframe whose predictor
    # warm-up covers the whole block has ZERO coded residuals — spec-
    # legal, if unseen from mainstream encoders); only blocksize < order
    # is geometric nonsense.  Multi-partition layouts still require a
    # non-empty per-partition sample count.
    if blocksize % nparts or (
        blocksize < order if nparts == 1 else blocksize >> part_order == 0
    ):
        raise ValueError("bad partition order")
    out: list[int] = []
    for p in range(nparts):
        n = (blocksize >> part_order) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("bad partition geometry")
        param = br.read(pbits)
        if param == (1 << pbits) - 1:  # escape: raw fixed-width values
            raw_bits = br.read(5)
            for _ in range(n):
                out.append(br.sread(raw_bits) if raw_bits else 0)
        else:
            for _ in range(n):
                q = br.unary()
                v = (q << param) | (br.read(param) if param else 0)
                out.append((v >> 1) ^ -(v & 1))  # zigzag
    return out


def _flac_subframe(br: _Bits, blocksize: int, bps: int) -> list[int]:
    """One subframe (RFC 9639 §9.2): CONSTANT / VERBATIM / FIXED 0-4 /
    LPC 1-32, with the wasted-bits shift."""
    if br.read(1) != 0:
        raise ValueError("subframe pad bit set")
    ftype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("wasted bits exhaust sample size")
    # Reconstructed samples must fit the subframe bit depth (RFC 9639
    # §9.2.4: predictors may not overflow the sample range).  The cap
    # is enforced IN the prediction loop: a crafted CRC-valid stream
    # (e.g. LPC coef 4, shift 0, zero residuals) would otherwise grow
    # Python bigints geometrically — unbounded memory/CPU, then an
    # OverflowError at the numpy conversion — before any range check.
    cap = 1 << (bps + 2)
    if ftype == 0:  # CONSTANT
        samples = [br.sread(eff)] * blocksize
    elif ftype == 1:  # VERBATIM
        samples = [br.sread(eff) for _ in range(blocksize)]
    elif 8 <= ftype <= 12:  # FIXED, order 0-4
        order = ftype - 8
        if order > blocksize:
            raise ValueError("order exceeds block")
        samples = [br.sread(eff) for _ in range(order)]
        res = _flac_residual(br, blocksize, order)
        coefs = _FIXED_COEFS[order]
        for r in res:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coefs))
            s = r + pred
            if not -cap <= s < cap:
                raise ValueError("predictor overflow")
            samples.append(s)
    elif ftype >= 32:  # LPC, order 1-32
        order = (ftype & 0x1F) + 1
        if order > blocksize:
            raise ValueError("order exceeds block")
        samples = [br.sread(eff) for _ in range(order)]
        prec = br.read(4)
        if prec == 15:
            raise ValueError("invalid LPC precision")
        prec += 1
        shift = br.sread(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [br.sread(prec) for _ in range(order)]
        res = _flac_residual(br, blocksize, order)
        for r in res:
            acc = sum(c * samples[-1 - j] for j, c in enumerate(coefs))
            s = r + (acc >> shift)
            if not -cap <= s < cap:
                raise ValueError("predictor overflow")
            samples.append(s)
    else:
        raise ValueError("reserved subframe type")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def _flac_pcm(data: bytes):
    """(sample_rate, int32 ndarray of shape (n_samples, n_channels),
    streaminfo_bits_per_sample) for a native FLAC stream, or None for
    malformed/truncated input or any CRC mismatch. Sequential by
    construction (predictors feed on their own output) — correctness
    tier, like the JPEG entropy loop; the fast path for
    already-decoded audio is the WAV/PCM branch."""
    import numpy as np

    d = data or b""
    if d[:4] != b"fLaC" or len(d) < 42:
        return None
    try:
        # ---- metadata blocks; first MUST be STREAMINFO (type 0)
        pos = 4
        if d[pos] & 0x7F != 0:
            return None
        si_len = int.from_bytes(d[pos + 1 : pos + 4], "big")
        if si_len < 34:
            return None
        si = d[pos + 4 : pos + 4 + si_len]
        bits = int.from_bytes(si[10:18], "big")
        rate = bits >> 44
        n_channels = ((bits >> 41) & 0x7) + 1
        bps_si = ((bits >> 36) & 0x1F) + 1
        total = bits & ((1 << 36) - 1)
        if rate == 0:
            return None
        last = bool(d[pos] & 0x80)
        pos += 4 + si_len
        while not last:
            if pos + 4 > len(d):
                return None
            last = bool(d[pos] & 0x80)
            if d[pos] & 0x7F == 0x7F:
                return None  # invalid block type
            blen = int.from_bytes(d[pos + 1 : pos + 4], "big")
            pos += 4 + blen
        if pos > len(d):
            return None

        # ---- frames
        chans: list[list[int]] = [[] for _ in range(n_channels)]
        while pos + 5 <= len(d) and (total == 0 or len(chans[0]) < total):
            hdr_start = pos
            if d[pos] != 0xFF or (d[pos + 1] & 0xFC) != 0xF8:
                return None  # lost sync
            if d[pos + 1] & 0x02:
                return None  # reserved bit
            bs_code = d[pos + 2] >> 4
            sr_code = d[pos + 2] & 0x0F
            ch_code = d[pos + 3] >> 4
            ss_code = (d[pos + 3] >> 1) & 0x7
            if d[pos + 3] & 1:
                return None  # reserved bit
            pos += 4
            # coded (UTF-8-style) frame/sample number: skip by length
            first = d[pos]
            if first < 0x80:
                nlen = 1
            elif first >= 0xFE:
                nlen = 7
            else:
                nlen = 0
                b = first
                while b & 0x80:
                    nlen += 1
                    b = (b << 1) & 0xFF
                if nlen < 2:
                    return None
            pos += nlen
            if bs_code == 0:
                return None  # reserved
            if bs_code == 6:
                blocksize = d[pos] + 1
                pos += 1
            elif bs_code == 7:
                blocksize = int.from_bytes(d[pos : pos + 2], "big") + 1
                pos += 2
            elif bs_code in _FLAC_BLOCK:
                blocksize = _FLAC_BLOCK[bs_code]
            else:
                blocksize = 256 << (bs_code - 8)
            if sr_code == 0:
                f_rate = rate
            elif sr_code in _FLAC_RATES:
                f_rate = _FLAC_RATES[sr_code]
            elif sr_code == 12:
                f_rate = d[pos] * 1000
                pos += 1
            elif sr_code == 13:
                f_rate = int.from_bytes(d[pos : pos + 2], "big")
                pos += 2
            elif sr_code == 14:
                f_rate = int.from_bytes(d[pos : pos + 2], "big") * 10
                pos += 2
            else:
                return None
            if f_rate != rate:
                return None  # variable-rate streams: out of scope
            if ch_code < 8:
                if ch_code + 1 != n_channels:
                    return None
            elif ch_code <= 10:
                if n_channels != 2:
                    return None
            else:
                return None  # reserved
            if ss_code == 0:
                bps = bps_si
            elif ss_code in _FLAC_BPS:
                bps = _FLAC_BPS[ss_code]
            else:
                return None
            if bps != bps_si:
                # RFC 9639: frame bit depth must match STREAMINFO —
                # and decode_pcm normalizes by the STREAMINFO depth,
                # so a mismatching frame would come out ~wrong-by-2^k
                return None
            if _crc8(d[hdr_start:pos]) != d[pos]:
                return None
            pos += 1

            br = _Bits(d, pos * 8)
            sub: list[list[int]] = []
            for ch in range(n_channels if ch_code < 8 else 2):
                ch_bps = bps
                # the SIDE channel carries one extra bit
                if (
                    (ch_code == 8 and ch == 1)
                    or (ch_code == 9 and ch == 0)
                    or (ch_code == 10 and ch == 1)
                ):
                    ch_bps += 1
                sub.append(_flac_subframe(br, blocksize, ch_bps))
            br.align()
            frame_end = br.pos // 8
            if frame_end + 2 > len(d):
                return None
            if _crc16(d[hdr_start:frame_end]) != int.from_bytes(
                d[frame_end : frame_end + 2], "big"
            ):
                return None
            pos = frame_end + 2

            # ---- stereo decorrelation (RFC 9639 §4.2)
            if ch_code == 8:  # left/side
                left, side = sub
                sub = [left, [l - s for l, s in zip(left, side)]]
            elif ch_code == 9:  # right/side (side stored first)
                side, right = sub
                sub = [[r + s for r, s in zip(right, side)], right]
            elif ch_code == 10:  # mid/side
                mid, side = sub
                left, right = [], []
                for m, s in zip(mid, side):
                    m = (m << 1) | (s & 1)
                    left.append((m + s) >> 1)
                    right.append((m - s) >> 1)
                sub = [left, right]
            for ch in range(n_channels):
                chans[ch].extend(sub[ch])
        if not chans[0]:
            return None
        n = len(chans[0])
        if total and n < total:
            return None  # truncated at a frame boundary: samples missing
        if total and n > total:  # final partial block padding
            chans = [c[:total] for c in chans]
            n = total
        arr = np.array(chans, dtype=np.int64).T
        if np.any(arr > (1 << 31) - 1) or np.any(arr < -(1 << 31)):
            return None
        return rate, arr.astype(np.int32), bps_si
    except (EOFError, ValueError, IndexError, OverflowError):
        return None


def _au_pcm(d: bytes):
    """(rate, mono float64 samples) for Sun/NeXT .au bytes carrying
    G.711 μ-law (1), 8-bit linear (2), 16-bit linear BE (3) or G.711
    A-law (27) payload; None when headerless/codec/empty."""
    import numpy as np

    if len(d) < 24:
        return None
    off, dsize, enc, rate, ch = struct.unpack(">IIIII", d[4:24])
    if not rate or not ch or enc not in _AU_SAMPLE_BYTES or off > len(d):
        return None
    if dsize == 0xFFFFFFFF or off + dsize > len(d):
        dsize = len(d) - off
    raw = d[off : off + dsize]
    if enc == 1:
        samples = _g711_ulaw_to_linear(
            np.frombuffer(raw, dtype=np.uint8)
        ) / 32768.0
    elif enc == 27:
        samples = _g711_alaw_to_linear(
            np.frombuffer(raw, dtype=np.uint8)
        ) / 32768.0
    elif enc == 2:
        samples = np.frombuffer(raw, dtype=np.int8).astype(np.float64) / 128.0
    else:  # 3: 16-bit linear PCM, big-endian
        samples = np.frombuffer(
            raw[: len(raw) & ~1], dtype=">i2"
        ).astype(np.float64) / 32768.0
    frames = samples.size // ch
    if frames == 0:
        return None
    return rate, samples[: frames * ch].reshape(frames, ch).mean(axis=1)


def _aiff_pcm(d: bytes):
    """(rate, mono float64 samples) for AIFF / AIFF-C bytes whose SSND
    payload is uncompressed PCM (AIFF always; AIFC compression 'NONE'
    big-endian or 'sowt' little-endian). None when the SSND chunk is
    absent/empty or the compression needs a codec."""
    import numpy as np

    is_aifc = d[8:12] == b"AIFC"
    i = 12
    channels = n_frames = bits = None
    little = False
    ok_comp = not is_aifc
    rate = 0.0
    raw = None
    while i + 8 <= len(d):
        cid = d[i : i + 4]
        size = struct.unpack(">I", d[i + 4 : i + 8])[0]
        if cid == b"COMM" and size >= 18 and i + 26 <= len(d):
            channels = struct.unpack(">H", d[i + 8 : i + 10])[0]
            n_frames = struct.unpack(">I", d[i + 10 : i + 14])[0]
            bits = struct.unpack(">H", d[i + 14 : i + 16])[0]
            rate = _f80(d[i + 16 : i + 26])
            if is_aifc and size >= 22 and i + 30 <= len(d):
                comp = d[i + 26 : i + 30]
                ok_comp = comp in (b"NONE", b"sowt")
                little = comp == b"sowt"
        elif cid == b"SSND" and size >= 8:
            # u32 offset + u32 block size precede the sample bytes
            data_off = struct.unpack(">I", d[i + 8 : i + 12])[0]
            raw = d[i + 16 + data_off : i + 8 + size]
        i += 8 + size + (size & 1)
    if not rate or rate <= 0 or not channels or raw is None or not ok_comp:
        return None
    if bits == 16:
        dt = "<i2" if little else ">i2"
        samples = np.frombuffer(
            raw[: len(raw) & ~1], dtype=dt
        ).astype(np.float64) / 32768.0
    elif bits == 8:  # AIFF 8-bit PCM is SIGNED (unlike WAV)
        samples = np.frombuffer(raw, dtype=np.int8).astype(np.float64) / 128.0
    else:
        return None
    frames = samples.size // channels
    if n_frames:
        frames = min(frames, n_frames)
    if frames == 0:
        return None
    return int(round(rate)), samples[: frames * channels].reshape(
        frames, channels
    ).mean(axis=1)


def decode_pcm(data: bytes):
    """(sample_rate, mono float64 sample array) for RIFF/WAVE bytes in
    linear PCM (format tag 1, 8/16-bit), G.711 A-law (6) / μ-law (7),
    mono IMA ADPCM (0x11), a native FLAC stream (lossless decode,
    RFC 9639 — see _flac_pcm), a Sun/NeXT .au file (μ-law / A-law /
    8-bit / 16-bit-BE linear), or an AIFF/AIFF-C file whose payload is
    uncompressed PCM ('NONE'/'sowt'); None otherwise. Multi-channel
    audio is averaged to mono. numpy + stdlib only — no codec
    library."""
    import numpy as np

    d = data or b""
    if d[:4] == b"fLaC":
        flac = _flac_pcm(d)
        if flac is None:
            return None
        rate, arr, bps = flac
        return rate, arr.astype(np.float64).mean(axis=1) / float(
            1 << (bps - 1)
        )
    if d[:4] == b".snd":
        return _au_pcm(d)
    if d[:4] == b"FORM" and d[8:12] in (b"AIFF", b"AIFC"):
        return _aiff_pcm(d)
    if len(d) < 36 or d[:4] != b"RIFF" or d[8:12] != b"WAVE":
        return None
    i = 12
    rate = channels = bits = fmt = None
    block_align = 0
    raw = None
    while i + 8 <= len(d):
        cid = d[i : i + 4]
        size = struct.unpack("<I", d[i + 4 : i + 8])[0]
        if cid == b"fmt " and i + 24 <= len(d):
            fmt, channels, rate = struct.unpack("<HHI", d[i + 8 : i + 16])
            block_align = struct.unpack("<H", d[i + 20 : i + 22])[0]
            bits = struct.unpack("<H", d[i + 22 : i + 24])[0]
        elif cid == b"data":
            raw = d[i + 8 : i + 8 + size]
        i += 8 + size + (size & 1)
    if not rate or not channels or raw is None:
        return None
    if fmt == 1 and bits in (8, 16):
        if bits == 16:
            samples = np.frombuffer(
                raw[: len(raw) & ~1], dtype="<i2"
            ).astype(np.float64) / 32768.0
        else:
            samples = (
                np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
            ) / 128.0
    elif fmt in (6, 7) and bits == 8:
        codes = np.frombuffer(raw, dtype=np.uint8)
        linear = (
            _g711_ulaw_to_linear(codes) if fmt == 7 else _g711_alaw_to_linear(codes)
        )
        samples = linear / 32768.0
    elif fmt == 0x11 and channels == 1 and bits == 4:
        mono = _ima_adpcm_decode(raw, block_align)
        if mono is None:
            return None
        return rate, mono
    else:
        return None
    frames = samples.size // channels
    if frames == 0:
        return None
    return rate, samples[: frames * channels].reshape(frames, channels).mean(axis=1)


def _fingerprint_from_mono(mono) -> int:
    """64-bit energy-envelope fingerprint from already-decoded mono
    samples: RMS energy over 64 equal time blocks, each bit = block
    energy above the median."""
    import numpy as np

    n = mono.size
    if n < 64:
        mono = np.repeat(mono, -(-64 // n))
        n = mono.size
    bounds = (np.arange(65) * n) // 64
    sq = np.zeros(n + 1)
    sq[1:] = np.cumsum(mono * mono)
    energy = (sq[bounds[1:]] - sq[bounds[:-1]]) / (bounds[1:] - bounds[:-1])
    return _bits_to_int64(energy > np.median(energy))


def audio_fingerprint64(data: bytes) -> int | None:
    """64-bit energy-envelope fingerprint of decodable audio bytes
    (PCM/G.711/ADPCM WAV, native FLAC) — robust to gain changes
    (median threshold) and codec-free. None for undecodable input.
    Compose with dedup.hamming_near_duplicates for bucketed audio
    near-dup."""
    decoded = decode_pcm(data)
    if decoded is None:
        return None
    return _fingerprint_from_mono(decoded[1])


# -- the decode dispatch and the per-format operators --------------------------


class CellKernel(NamedTuple):
    """A per-cell decode: ``fn(data)`` returns a tuple aligned with
    ``fields`` (``(name, Spark type)`` pairs), or None for a row whose
    fields are all null. Whatever ``fn`` raises fails the task."""

    fn: Callable[[bytes], tuple | None]
    fields: tuple[tuple[str, str], ...]


# pandas dtypes per declared Spark type. A plain list with None in it
# becomes float64, which rounds every 64-bit value above 2^53 in the
# batch — integers are built as nullable extension arrays instead.
_PANDAS_DTYPE = {"int": "Int32", "long": "Int64", "double": "float64"}


def decode_media(
    df: DataFrame,
    id_col: str,
    specs: Sequence[tuple[str, CellKernel, str]],
) -> DataFrame:
    """Run every requested cell kernel in ONE Arrow-batched
    ``mapInPandas`` pass over ``df``.

    Each spec is ``(column, kernel, prefix)``: ``kernel.fn`` runs on
    every cell of the binary ``column`` (a null cell reads as empty
    bytes) and its fields come out as ``{prefix}{name}``. The output is
    ``id_col long`` followed by every spec's fields in spec order, each
    column built once with its declared type. N formats therefore cost
    one Python boundary, one scan and no joins.

    Partitioning: rows are decoded in place per input partition — no
    shuffle. Upstream should repartition by size so a batch of large
    blobs does not exceed executor memory (the same per-task byte
    budget as the ingest walker).
    """
    fields = [
        (prefix + name, typ)
        for _col, kernel, prefix in specs
        for name, typ in kernel.fields
    ]
    ddl = ", ".join([f"{id_col} long"] + [f"{n} {t}" for n, t in fields])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {id_col: pdf[id_col].values}
            for col, kernel, prefix in specs:
                rows = [
                    kernel.fn(bytes(d) if d is not None else b"")
                    for d in pdf[col]
                ]
                for i, (name, typ) in enumerate(kernel.fields):
                    values = [None if r is None else r[i] for r in rows]
                    dtype = _PANDAS_DTYPE.get(typ)
                    out[prefix + name] = (
                        pd.array(values, dtype=dtype) if dtype else values
                    )
            yield pd.DataFrame(out)

    cols = dict.fromkeys([id_col, *(col for col, _k, _p in specs)])
    return df.select(*cols).mapInPandas(batches, ddl)


IMAGE_FEATURES = CellKernel(
    _real_decode_image,
    (("width", "int"), ("height", "int"), ("channels", "int"),
     ("feature", "array<float>")),
)

AUDIO_FEATURES = CellKernel(
    _real_decode_audio,
    (("sample_rate", "int"), ("n_samples", "long"), ("duration_s", "double"),
     ("mfcc", "array<float>")),
)

_VIDEO_META_FIELDS = (
    ("duration_s", "double"), ("n_frames", "long"), ("width", "int"),
    ("height", "int"),
)

VIDEO_META = CellKernel(
    lambda data: tuple(_real_video_meta(data)[n] for n, _t in _VIDEO_META_FIELDS),
    _VIDEO_META_FIELDS,
)


def _fingerprint_cell(data: bytes) -> tuple | None:
    decoded = decode_pcm(data)
    if decoded is None:
        return None
    rate, mono = decoded
    # fingerprint from the decode already in hand — a second
    # decode_pcm(data) would re-run the whole (sequential, per-bit for
    # FLAC) frame decode
    return rate, int(mono.size), _fingerprint_from_mono(mono)


AUDIO_FINGERPRINT = CellKernel(
    _fingerprint_cell,
    (("sample_rate", "int"), ("n_samples", "long"), ("fingerprint", "long")),
)


def phash_kernel(method: str = "ahash") -> CellKernel:
    """Decoded dims + 64-bit perceptual hash; null for bytes
    ``decode_pixels`` cannot decode."""

    def cell(data: bytes) -> tuple | None:
        gray = decode_pixels(data)
        if gray is None:
            return None
        return gray.shape[1], gray.shape[0], _phash_gray(gray, method)

    return CellKernel(cell, (("width", "int"), ("height", "int"), ("phash", "long")))


def resize_kernel(out_w: int, out_h: int) -> CellKernel:
    """Box-filter resize to ``out_h × out_w`` grayscale bytes; null for
    bytes ``decode_pixels`` cannot decode (see ``resize_images``)."""

    def cell(data: bytes) -> tuple | None:
        import numpy as np

        gray = decode_pixels(data)
        if gray is None:
            return None
        g = _grid_mean(gray, out_h, out_w)
        q = np.clip(np.floor(g + 0.5), 0, 255).astype(np.uint8)
        return gray.shape[1], gray.shape[0], out_w, out_h, q.tobytes()

    return CellKernel(
        cell,
        (("in_w", "int"), ("in_h", "int"), ("out_w", "int"), ("out_h", "int"),
         ("pixels", "binary")),
    )


def keyframes_kernel(every_n: int = 1) -> CellKernel:
    """Every ``every_n``-th MP4/MOV keyframe as ``(frame_idx, frame)``
    structs — the raw codec bitstream sample sliced out of ``mdat``
    (frame_idx = 1-based sample number, see ``mp4_keyframe_samples``).
    Non-BMFF bytes raise NotImplementedError (decoding the samples to
    pixels is the codec boundary)."""

    def cell(data: bytes) -> tuple:
        samples = mp4_keyframe_samples(data)
        if samples is None:
            raise NotImplementedError(
                f"keyframe sampling needs an MP4/MOV sample table; "
                f"bytes with magic {data[:8].hex()!r} need a demuxer (PyAV)"
            )
        # a malformed-but-parseable stco/stsz can point past the blob;
        # skip such samples rather than emitting truncated payloads
        return ([
            {"frame_idx": k, "frame": data[off : off + size]}
            for k, off, size in samples[:: max(1, every_n)]
            if off + size <= len(data)
        ],)

    return CellKernel(
        cell, (("keyframes", "array<struct<frame_idx:int,frame:binary>>"),)
    )


def _decode_column(
    df: DataFrame, data_col: str, id_col: str, kernel: CellKernel
) -> DataFrame:
    """One kernel over one column, keyed by ``media_id``."""
    media = df.select(F.col(id_col).alias("media_id"), F.col(data_col))
    return decode_media(media, "media_id", [(data_col, kernel, "")])


def extract_image_features(
    df: DataFrame, data_col: str = "data", id_col: str = "media_id"
) -> DataFrame:
    """image binary → (width, height, channels, 16-d feature): true
    dims/channels from the header, a 4×4 grid-mean luminance feature
    where the pixels decode, a hash feature where only the header
    parses; NotImplementedError for formats that need a codec."""
    return _decode_column(df, data_col, id_col, IMAGE_FEATURES)


def extract_audio_features(
    df: DataFrame, data_col: str = "data", id_col: str = "media_id"
) -> DataFrame:
    """audio binary → (sample_rate, n_samples, duration_s, 13-d
    log-RMS feature) — see ``_real_decode_audio``; unknown magic raises
    NotImplementedError."""
    return _decode_column(df, data_col, id_col, AUDIO_FEATURES)


def extract_video_metadata(
    df: DataFrame, data_col: str = "data", id_col: str = "media_id"
) -> DataFrame:
    """video binary → container metadata (duration, frame count, dims):
    MP4/MOV mvhd, AVI avih and Matroska/WebM EBML headers; unrecognized
    containers raise NotImplementedError. Fields a container doesn't
    carry are null (MP4 mvhd has duration but not dims/frames; AVI avih
    has all; Matroska has duration + dims)."""
    return _decode_column(df, data_col, id_col, VIDEO_META)


def sample_video_frames(
    df: DataFrame, data_col: str = "data", id_col: str = "media_id",
    every_n: int = 30,
) -> DataFrame:
    """video binary → exploded frame rows (media_id, frame_idx, frame):
    every ``every_n``-th MP4/MOV keyframe (``keyframes_kernel``),
    inlined JVM-side."""
    return _decode_column(
        df, data_col, id_col, keyframes_kernel(every_n)
    ).select("media_id", F.inline("keyframes"))


def image_perceptual_hashes(
    media: DataFrame,
    id_col: str = "media_id",
    data_col: str = "data",
    method: str = "ahash",
) -> DataFrame:
    """(media_id, width, height, phash) — real pixels for every format
    ``decode_pixels`` covers, null phash (and null dims) for
    codec-requiring formats."""
    return _decode_column(media, data_col, id_col, phash_kernel(method))


def resize_images(
    media: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "media_id",
    data_col: str = "data",
) -> DataFrame:
    """Box-filter resize of decodable images (the `resize` stage of a
    multimodal training pipeline — thumbnail/patch normalization before
    feature extraction). Decodes the grayscale plane (every format
    ``decode_pixels`` covers), box-averages to exactly ``out_h × out_w``
    (area-weighted integer pixel boundaries ``floor(i·dim/out)``, the
    same kernel the perceptual hashes use), quantizes ``floor(x + 0.5)``
    clamped to [0, 255], and emits (media_id, in_w, in_h, out_w, out_h,
    pixels) with the resized plane as row-major bytes. Codec-requiring
    formats yield null pixels (and null dims), the same degradation
    contract as ``image_perceptual_hashes``. Output rows are a bounded
    ``out_w·out_h`` bytes regardless of input size, so the stage
    SHRINKS data."""
    return _decode_column(media, data_col, id_col, resize_kernel(out_w, out_h))


def audio_fingerprints(
    media: DataFrame, id_col: str = "media_id", data_col: str = "data"
) -> DataFrame:
    """(media_id, sample_rate, n_samples, fingerprint) — real PCM decode
    (``decode_pcm``) and the 64-bit energy-envelope fingerprint; null
    row values for codec-requiring formats."""
    return _decode_column(media, data_col, id_col, AUDIO_FINGERPRINT)


MEDIA_PROFILE_DDL = (
    "media_id long, kind string, path string, n_bytes long, "
    "width int, height int, channels int, phash long, "
    "sample_rate int, n_samples long, duration_s double, audio_fp long, "
    "n_frames long"
)


def profile_media(df: DataFrame) -> DataFrame:
    """Single-pass BULK media profile over a media table
    (`media_table_from_entries` schema): per row, kind-routed header
    metadata plus content fingerprints where the pure-stdlib decoders
    reach — image dims/channels + perceptual hash, audio
    rate/length/duration + energy fingerprint, video
    duration/frames/dims. Every kernel degrades to null on undecodable
    bytes (the CLI bulk path must NEVER die on one weird file — unlike
    ``extract_*_features``, whose loud NotImplementedError
    is the right contract for targeted extraction).

    Scale shape: one Arrow-batched ``mapInPandas`` stage, no shuffle —
    the whole profile of a 100 TB corpus is scan-cost plus the Python
    kernels; rows stay where the walker emitted them.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                k: []
                for k in (
                    "media_id", "kind", "path", "n_bytes", "width", "height",
                    "channels", "phash", "sample_rate", "n_samples",
                    "duration_s", "audio_fp", "n_frames",
                )
            }
            for mid, kind, data, meta in zip(
                pdf["media_id"], pdf["kind"], pdf["data"], pdf["meta"]
            ):
                data = bytes(data) if data is not None else b""
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["path"].append((meta or {}).get("path"))
                out["n_bytes"].append(len(data))
                w = h = ch = ph = rate = None
                n_samp = dur = fp = frames = None
                if kind == "image":
                    parsed = parse_image_header(data)
                    if parsed:
                        w, h, ch = parsed
                    ph = perceptual_hash(data)
                elif kind == "audio":
                    parsed = parse_audio_header(data)
                    if parsed:
                        rate, n_samp, dur = parsed
                    fp = audio_fingerprint64(data)
                elif kind == "video":
                    info = parse_video_header(data)
                    if info:
                        dur = info.get("duration_s")
                        frames = info.get("n_frames")
                        w = info.get("width")
                        h = info.get("height")
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(ch)
                out["phash"].append(ph)
                out["sample_rate"].append(rate)
                out["n_samples"].append(
                    int(n_samp) if n_samp is not None else None
                )
                out["duration_s"].append(
                    float(dur) if dur is not None else None
                )
                out["audio_fp"].append(fp)
                out["n_frames"].append(
                    int(frames) if frames is not None else None
                )
            # nullable Int64 for every integer column: a plain list with
            # None in it becomes float64, which corrupts 64-bit
            # fingerprints above 2^53 (caught by the multimodal_profile
            # oracle — the exact dtype class the round-4 audit chases)
            frame = {
                k: (
                    pd.array(v, dtype="Int64")
                    if k
                    in (
                        "media_id", "n_bytes", "width", "height", "channels",
                        "phash", "sample_rate", "n_samples", "audio_fp",
                        "n_frames",
                    )
                    else v
                )
                for k, v in out.items()
            }
            yield pd.DataFrame(frame)

    return df.mapInPandas(batches, MEDIA_PROFILE_DDL)
