"""G.711 (μ-law/A-law) and IMA ADPCM WAV decode.

Oracle: a pure-Python transcription of the ITU-T G.711 expansion
tables (exponent/mantissa decode, public spec) — exhaustive over the
full 8-bit code domain — cross-checked bit-for-bit against the stdlib
``audioop`` module (CPython's C port of the same Sun g711.c) wherever
audioop still exists.  ``audioop`` was removed in Python 3.13, so the
pure-Python twin is the primary oracle and audioop is a bonus
cross-check behind a quiet import (r6 verdict hygiene item: no
DeprecationWarning, and no test goes dark on 3.13 — the ADPCM nibble
stream additionally pins a digest frozen FROM audioop on 3.11).
"""

from __future__ import annotations

import struct
import warnings

import numpy as np

from archive_to_parquet_spark.operators.multimodal import (
    _IMA_INDEX_ADJUST,
    _IMA_STEPS,
    _g711_alaw_to_linear,
    _g711_ulaw_to_linear,
    _ima_adpcm_decode,
    decode_pcm,
)

try:
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop  # removed in Python 3.13

    HAVE_AUDIOOP = True
except ImportError:
    HAVE_AUDIOOP = False


def _ref_ulaw2lin(code: int) -> int:
    """ITU-T G.711 μ-law expansion (pure Python, spec transcription):
    complement, split 3-bit exponent / 4-bit mantissa, re-add the
    33·8 = 0x84 bias that encoding folded in."""
    u = ~code & 0xFF
    sign = u & 0x80
    t = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
    return -t if sign else t


def _ref_alaw2lin(code: int) -> int:
    """ITU-T G.711 A-law expansion (pure Python, spec transcription):
    xor the 0x55 toggle, split exponent/mantissa; sign bit SET means
    positive (A-law transmits inverted even bits)."""
    a = code ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 7
    mant = a & 0x0F
    t = (mant << 4) + 8 if exp == 0 else ((mant << 4) + 0x108) << (exp - 1)
    return t if sign else -t


def make_wav(
    fmt: int, channels: int, rate: int, bits: int, block_align: int, body: bytes
) -> bytes:
    fmt_chunk = struct.pack(
        "<HHIIHH", fmt, channels, rate, rate * block_align, block_align, bits
    )
    riff = (
        b"WAVEfmt "
        + struct.pack("<I", len(fmt_chunk))
        + fmt_chunk
        + b"data"
        + struct.pack("<I", len(body))
        + body
    )
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def test_g711_exhaustive_against_spec_reference():
    """Exhaustive 256-code check against the pure-Python ITU-T
    transcription (always runs); where the stdlib audioop still exists
    it is cross-checked too, proving the transcription IS g711.c."""
    codes = np.arange(256, dtype=np.uint8)
    ref_u = np.array([_ref_ulaw2lin(int(c)) for c in codes], dtype=np.float64)
    ref_a = np.array([_ref_alaw2lin(int(c)) for c in codes], dtype=np.float64)
    assert np.array_equal(_g711_ulaw_to_linear(codes), ref_u)
    assert np.array_equal(_g711_alaw_to_linear(codes), ref_a)
    if HAVE_AUDIOOP:
        au = np.frombuffer(audioop.ulaw2lin(bytes(codes), 2), dtype="<i2")
        aa = np.frombuffer(audioop.alaw2lin(bytes(codes), 2), dtype="<i2")
        assert np.array_equal(ref_u, au.astype(np.float64))
        assert np.array_equal(ref_a, aa.astype(np.float64))


def test_g711_known_values():
    """Spec-grounded spot checks: 0xFF is μ-law zero; A-law has no true
    zero (code 0x55 → −8, code 0xD5 → +8)."""
    assert _g711_ulaw_to_linear(np.array([0xFF], dtype=np.uint8))[0] == 0.0
    assert _g711_ulaw_to_linear(np.array([0x7F], dtype=np.uint8))[0] == 0.0
    assert _g711_alaw_to_linear(np.array([0x55], dtype=np.uint8))[0] == -8.0
    assert _g711_alaw_to_linear(np.array([0xD5], dtype=np.uint8))[0] == 8.0


def test_ima_nibble_core_matches_frozen_adpcm_reference():
    """The 128-nibble decode must reproduce the DVI/Intel ADPCM
    reference stream: digest frozen FROM audioop.adpcm2lin on Python
    3.11 (so the check survives audioop's removal in 3.13); where
    audioop exists the live cross-check also runs."""
    import hashlib

    rng = np.random.default_rng(1)
    nibbles = rng.integers(0, 16, size=128)
    body = bytes(
        int(nibbles[i]) | (int(nibbles[i + 1]) << 4)
        for i in range(0, nibbles.size, 2)
    )
    block = struct.pack("<hBB", 0, 0, 0) + body
    mine = np.round(_ima_adpcm_decode(block, len(block)) * 32768.0).astype(int)
    ref_bytes = mine[1:].astype("<i2").tobytes()  # [0] is the header sample
    assert hashlib.sha256(ref_bytes).hexdigest() == (
        "a39603335c309f3e2aaf1cd45a6f72d00843c9d4f9aa947da918abdc6e7d3740"
    )
    if HAVE_AUDIOOP:
        packed = bytes(  # audioop packs the first nibble HIGH
            int(nibbles[i]) << 4 | int(nibbles[i + 1])
            for i in range(0, nibbles.size, 2)
        )
        out, _state = audioop.adpcm2lin(packed, 2, (0, 0))
        ref = np.frombuffer(out, dtype="<i2").astype(int)
        assert np.array_equal(mine[1:], ref)


def _ima_encode(samples16: np.ndarray, block_samples: int) -> tuple[bytes, int]:
    """Forward IMA encoder (test-side, greedy nibble quantization with
    the decoder's own reconstruction in the loop — the standard DVI
    encoder structure). Returns (raw blocks, block_align)."""
    n_data = (block_samples - 1 + 1) // 2  # nibble bytes per block
    block_align = 4 + n_data
    out = bytearray()
    pred, index = 0, 0
    i = 0
    while i < samples16.size:
        chunk = samples16[i : i + block_samples]
        i += block_samples
        pred = int(chunk[0])
        out += struct.pack("<hBB", pred, index, 0)
        nibs = []
        for s in chunk[1:]:
            step = _IMA_STEPS[index]
            diff = int(s) - pred
            nib = 8 if diff < 0 else 0
            diff = abs(diff)
            st = step
            if diff >= st:
                nib |= 4
                diff -= st
            st >>= 1
            if diff >= st:
                nib |= 2
                diff -= st
            st >>= 1
            if diff >= st:
                nib |= 1
            # reconstruct exactly like the decoder to stay in sync
            vp = step >> 3
            if nib & 1:
                vp += step >> 2
            if nib & 2:
                vp += step >> 1
            if nib & 4:
                vp += step
            pred = pred - vp if nib & 8 else pred + vp
            pred = max(-32768, min(32767, pred))
            index = max(0, min(88, index + _IMA_INDEX_ADJUST[nib & 7]))
            nibs.append(nib)
        while len(nibs) < (block_samples - 1):
            nibs.append(0)
        for j in range(0, len(nibs), 2):
            lo = nibs[j]
            hi = nibs[j + 1] if j + 1 < len(nibs) else 0
            out += bytes([lo | (hi << 4)])
    return bytes(out), block_align


def test_ima_adpcm_wav_sine_roundtrip_snr():
    t = np.arange(2048) / 8000.0
    sine = (10000.0 * np.sin(2 * np.pi * 440.0 * t)).astype(np.int64)
    raw, block_align = _ima_encode(sine, block_samples=505)
    wav = make_wav(0x11, 1, 8000, 4, block_align, raw)
    decoded = decode_pcm(wav)
    assert decoded is not None
    rate, mono = decoded
    assert rate == 8000
    got = mono[: sine.size] * 32768.0
    want = sine.astype(np.float64)
    noise = got - want
    snr_db = 10 * np.log10(np.sum(want**2) / max(np.sum(noise**2), 1e-12))
    # ~23 dB is the expected IMA quality for a 440 Hz sine at 8 kHz;
    # the nibble core is separately bit-exact against audioop, this
    # only guards the WAV block plumbing end-to-end
    assert snr_db > 20.0, snr_db


def test_g711_wav_plumbing_and_stereo_mean():
    ramp = np.arange(256, dtype=np.uint8)
    wav_u = make_wav(7, 1, 8000, 8, 1, bytes(ramp))
    rate, mono = decode_pcm(wav_u)
    assert rate == 8000 and mono.size == 256
    assert np.array_equal(
        mono * 32768.0, _g711_ulaw_to_linear(ramp)
    )
    # stereo A-law: channels average to mono
    inter = np.empty(512, dtype=np.uint8)
    inter[0::2] = ramp
    inter[1::2] = ramp[::-1]
    wav_a = make_wav(6, 2, 16000, 8, 2, bytes(inter))
    rate, mono = decode_pcm(wav_a)
    assert rate == 16000 and mono.size == 256
    want = (
        _g711_alaw_to_linear(ramp) + _g711_alaw_to_linear(ramp[::-1])
    ) / 2.0
    assert np.allclose(mono * 32768.0, want, atol=1e-9)


def test_unknown_wav_format_degrades_to_none():
    wav = make_wav(2, 1, 8000, 4, 256, b"\x00" * 256)  # MS-ADPCM: out of scope
    assert decode_pcm(wav) is None


def test_audio_features_real_covers_g711(spark):
    """The mapInPandas real-decode stage accepts a μ-law WAV end-to-end
    (plumbing check, same shape as the PCM leg)."""
    from pyspark.sql import Row

    from archive_to_parquet_spark.operators.multimodal import (
        extract_audio_features,
    )

    ramp = np.arange(256, dtype=np.uint8)
    wav = make_wav(7, 1, 8000, 8, 1, bytes(ramp))
    df = spark.createDataFrame([Row(media_id=1, data=bytes(wav))])
    row = extract_audio_features(df).collect()[0]
    assert row.sample_rate == 8000
    assert row.n_samples == 256
    assert len(row.mfcc) == 13


def test_g711_exhaustive_against_frozen_reference():
    """audioop-independent twin of the exhaustive G.711 check: the full
    256-code decode tables are pinned by sha256 digests computed FROM
    audioop (CPython's C port of Sun g711.c) on Python 3.11 — so the
    bit-exactness guarantee survives audioop's removal in 3.13."""
    import hashlib

    codes = np.arange(256, dtype=np.uint8)
    u = _g711_ulaw_to_linear(codes).astype("<i8").tobytes()
    a = _g711_alaw_to_linear(codes).astype("<i8").tobytes()
    assert hashlib.sha256(u).hexdigest() == (
        "fd65dfe4126ffa5208bb18dd4dc13649594c827f3a08b2c87a856774bb682b08"
    )
    assert hashlib.sha256(a).hexdigest() == (
        "7eb6677233733a90d7139d6bbcaeddbaeb1ef8a2b8f8e413ebdf834aca4cedd9"
    )


# -- Sun/NeXT .au and AIFF/AIFF-C (round 9) --------------------------------


def _make_au(encoding: int, rate: int, payload: bytes, channels: int = 1) -> bytes:
    return (
        b".snd"
        + struct.pack(">IIIII", 24, len(payload), encoding, rate, channels)
        + payload
    )


def _f80_bytes(x: float) -> bytes:
    import math

    m, e = math.frexp(x)
    return (16383 + e - 1).to_bytes(2, "big") + int(m * (1 << 64)).to_bytes(
        8, "big"
    )


def _make_aiff(
    rate: int,
    samples: np.ndarray,
    channels: int = 1,
    aifc_compression: bytes | None = None,
) -> bytes:
    frames = samples.size // channels
    little = aifc_compression == b"sowt"
    raw = samples.astype("<i2" if little else ">i2").tobytes()
    comm_body = (
        struct.pack(">HIH", channels, frames, 16) + _f80_bytes(float(rate))
    )
    form_type = b"AIFF"
    if aifc_compression is not None:
        form_type = b"AIFC"
        comm_body += aifc_compression + b"\x00\x00"  # pstring name ""
    comm = b"COMM" + struct.pack(">I", len(comm_body)) + comm_body
    if len(comm_body) & 1:
        comm += b"\x00"
    ssnd_body = struct.pack(">II", 0, 0) + raw
    ssnd = b"SSND" + struct.pack(">I", len(ssnd_body)) + ssnd_body
    body = form_type + comm + ssnd
    return b"FORM" + struct.pack(">I", len(body)) + body


def test_au_ulaw_decode_matches_g711_tables():
    codes = bytes(range(0, 256, 8))
    rate, mono = decode_pcm(_make_au(1, 8000, codes))
    assert rate == 8000 and mono.size == len(codes)
    expect = _g711_ulaw_to_linear(np.frombuffer(codes, np.uint8)) / 32768.0
    assert np.allclose(mono, expect)


def test_au_pcm16_be_and_stereo_mean():
    left = np.array([1000, -2000, 3000], dtype=np.int16)
    right = np.array([3000, 2000, -1000], dtype=np.int16)
    inter = np.empty(6, dtype=np.int16)
    inter[0::2], inter[1::2] = left, right
    rate, mono = decode_pcm(
        _make_au(3, 16000, inter.astype(">i2").tobytes(), channels=2)
    )
    assert rate == 16000 and mono.size == 3
    assert np.allclose(mono, (left + right) / 2.0 / 32768.0)


def test_au_header_tier_declared_size():
    from archive_to_parquet_spark.operators.multimodal import parse_au_header

    # header-only: declared 600 μ-law bytes (1 B/sample), no payload
    hdr = b".snd" + struct.pack(">IIIII", 24, 600, 1, 11000, 1)
    assert decode_pcm(hdr) is None  # no samples to decode
    rate, n, dur = parse_au_header(hdr)
    assert (rate, n) == (11000, 600) and abs(dur - 600 / 11000) < 1e-12
    # codec encoding (e.g. 23 = G.721 ADPCM) is not sizeable
    assert parse_au_header(
        b".snd" + struct.pack(">IIIII", 24, 600, 23, 8000, 1)
    ) is None


def test_aiff_be_and_aifc_sowt_roundtrip():
    sig = (np.sin(np.arange(64) / 3.0) * 12000).astype(np.int16)
    for comp in (None, b"NONE", b"sowt"):
        rate, mono = decode_pcm(_make_aiff(22050, sig, aifc_compression=comp))
        assert rate == 22050, comp
        assert np.allclose(mono, sig / 32768.0), comp


def test_aiff_header_tier_extended_float_rates():
    from archive_to_parquet_spark.operators.multimodal import (
        parse_aiff_header,
    )

    for rate in (8000, 10000, 22050, 44100, 48000):
        comm = (
            b"COMM"
            + struct.pack(">I", 18)
            + struct.pack(">HIH", 1, 4410, 16)
            + _f80_bytes(float(rate))
        )
        body = b"AIFF" + comm
        hdr = b"FORM" + struct.pack(">I", len(body)) + body
        got = parse_aiff_header(hdr)
        assert got is not None
        assert got[0] == rate and got[1] == 4410
    # a codec AIFC ('ima4') decodes to None but still header-parses
    sig = np.zeros(8, dtype=np.int16)
    ima = _make_aiff(8000, sig, aifc_compression=b"ima4")
    assert decode_pcm(ima) is None
    assert parse_aiff_header(ima)[0] == 8000


def test_profile_media_reads_au_and_aiff_like_extract(spark):
    """``profile_media``'s bulk audio metadata and targeted
    ``extract_audio_features`` agree on AU and AIFF: both read the same
    header chain, so an audio-classified ``.snd``/``FORM…AIFF`` blob
    never profiles with a null rate while it decodes fine."""
    from pyspark.sql import Row

    from archive_to_parquet_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
        profile_media,
    )

    sig = (np.sin(np.arange(4000) / 5.0) * 9000).astype(np.int16)
    blobs = {
        1: _make_au(3, 8000, sig.astype(">i2").tobytes()),
        2: _make_aiff(22050, sig),
    }
    media = spark.createDataFrame(
        [Row(media_id=k, kind="audio", mime=None, data=v, meta=None)
         for k, v in blobs.items()],
        MEDIA_SCHEMA,
    )
    prof = {r.media_id: r for r in profile_media(media).collect()}
    feat = {r.media_id: r for r in extract_audio_features(media).collect()}
    for k, rate in ((1, 8000), (2, 22050)):
        assert (prof[k].sample_rate, prof[k].n_samples) == (rate, 4000)
        assert (feat[k].sample_rate, feat[k].n_samples) == (rate, 4000)


def test_aiff_f80_overflow_edge_degrades_to_none():
    # e - 16446 == 960 passes an exponent-only bound, but a mantissa
    # within 2^10 of 2^64 rounds to 2^64 as a double, so the product
    # overflows to inf; the contract is None-path, never OverflowError.
    from archive_to_parquet_spark.operators.multimodal import (
        _f80,
        parse_aiff_header,
    )

    evil_rate = struct.pack(">H", 16446 + 960) + b"\xff" * 8
    assert _f80(evil_rate) == 0.0
    comm = (
        b"COMM"
        + struct.pack(">I", 18)
        + struct.pack(">HIH", 1, 100, 16)
        + evil_rate
    )
    body = b"AIFF" + comm
    hdr = b"FORM" + struct.pack(">I", len(body)) + body
    assert len(hdr) == 38
    assert parse_aiff_header(hdr) is None  # must not raise
    # largest finite edge still decodes: exponent 960+16445, mantissa
    # just under the rounding boundary stays finite
    big = struct.pack(">H", 16446 + 959) + b"\xff" * 8
    assert _f80(big) > 0.0 and _f80(big) != float("inf")
