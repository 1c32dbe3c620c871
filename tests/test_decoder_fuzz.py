"""Adversarial-input discipline for the pure-stdlib media decoders.

``decode_pixels`` / ``decode_pcm`` run inside executor tasks over
arbitrary archive content — a malformed blob must degrade to None (or
decode to a finite array), never raise and never balloon memory.  The
walker applies the same truncation-tolerance discipline (the quine and
depth guards in ``Walker.begin_visit_archive``); these tests hold the
media tier to it under random truncation and byte corruption of valid
fixtures.
"""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from archive_to_parquet_spark.operators.multimodal import (
    decode_pcm,
    decode_pixels,
)
from tests.test_audio_codecs import make_wav
from tests.test_gif_tiff_real import make_gif, make_tiff
from tests.test_jpeg_real import (
    _block_zigzag,
    make_jpeg_gray,
    make_jpeg_progressive_from_coeffs,
    make_jpeg_progressive_gray,
    make_jpeg_rgb,
)


def _fixtures() -> list[bytes]:
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    rgb = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    pal = [(i * 37 % 256,) * 3 for i in range(16)]
    idx = rng.integers(0, 16, size=(16, 16), dtype=np.uint8)
    rgb_wide = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    comp_blocks = {
        c + 1: [
            _block_zigzag(rgb[y0 : y0 + 8, x0 : x0 + 8, c], np.ones((8, 8)))
            for y0 in (0, 8)
            for x0 in (0, 8)
        ]
        for c in range(3)
    }
    return [
        make_jpeg_gray(img),
        make_jpeg_rgb(rgb, subsample=True),
        make_jpeg_progressive_gray(img),
        make_jpeg_progressive_from_coeffs(
            [], 16, 16,
            comps=[(1, 1, 1, 0), (2, 1, 1, 0), (3, 1, 1, 0)],
            comp_blocks=comp_blocks,
        ),
        make_jpeg_rgb(rgb_wide, interleaved=False),
        make_gif(idx, pal),
        make_tiff(img),
        make_tiff(rgb, byte_order=">"),
    ]


_FIXTURES = _fixtures()
_WAVS = [
    make_wav(7, 1, 8000, 8, 1, bytes(range(256))),
    make_wav(6, 2, 16000, 8, 2, bytes(range(256)) * 2),
    make_wav(1, 1, 8000, 16, 2, bytes(range(256))),
]


@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    fixture=st.integers(0, len(_FIXTURES) - 1),
    cut=st.floats(0.0, 1.0),
    flips=st.lists(
        st.tuples(st.floats(0.0, 1.0), st.integers(0, 255)), max_size=6
    ),
)
def test_decode_pixels_never_raises_on_corruption(fixture, cut, flips):
    blob = bytearray(_FIXTURES[fixture])
    blob = blob[: max(1, int(len(blob) * cut))]
    for pos_frac, val in flips:
        if blob:
            blob[int((len(blob) - 1) * pos_frac)] = val
    out = decode_pixels(bytes(blob))
    if out is not None:
        assert np.all(np.isfinite(out))
        assert out.size <= 1 << 20  # no decompression balloon


@settings(
    max_examples=80,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    fixture=st.integers(0, len(_WAVS) - 1),
    cut=st.floats(0.0, 1.0),
    flips=st.lists(
        st.tuples(st.floats(0.0, 1.0), st.integers(0, 255)), max_size=6
    ),
)
def test_decode_pcm_never_raises_on_corruption(fixture, cut, flips):
    blob = bytearray(_WAVS[fixture])
    blob = blob[: max(1, int(len(blob) * cut))]
    for pos_frac, val in flips:
        if blob:
            blob[int((len(blob) - 1) * pos_frac)] = val
    out = decode_pcm(bytes(blob))
    if out is not None:
        rate, mono = out
        assert rate > 0
        assert np.all(np.isfinite(mono))


@settings(max_examples=60, deadline=None)
@given(data=st.binary(max_size=512))
def test_random_bytes_degrade_quietly(data):
    assert decode_pcm(data) is None or data[:4] == b"RIFF"
    out = decode_pixels(data)
    if out is not None:
        assert np.all(np.isfinite(out))


@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    cut=st.floats(0.0, 1.0),
    flips=st.lists(
        st.tuples(st.floats(0.0, 1.0), st.integers(0, 255)), max_size=6
    ),
)
def test_matroska_parse_never_raises_on_corruption(cut, flips):
    """The EBML walker faces the same arbitrary-archive-content rule:
    truncated/bit-flipped Matroska must return a dict or None, never
    raise. A flipped float Duration byte can encode inf/nan and a
    flipped size vint can widen a dim field — the walker surfaces
    what the container declares and the caller range-checks, so the
    contract pinned here is shape-only: duration None-or-float, dims
    None-or-non-negative-int, no exception."""
    from archive_to_parquet_spark.operators.multimodal import (
        parse_matroska_header,
    )
    from tests.test_operators import _make_webm

    blob = bytearray(_make_webm(scale=2_000_000, width=320, height=240))
    blob = blob[: max(1, int(len(blob) * cut))]
    for pos_frac, val in flips:
        if blob:
            blob[int((len(blob) - 1) * pos_frac)] = val
    out = parse_matroska_header(bytes(blob))
    if out is not None:
        d = out["duration_s"]
        assert d is None or isinstance(d, float)
        for k in ("width", "height"):
            # a flipped size vint may widen the dim field (caller
            # range-checks); the contract here is: int, non-negative
            assert out[k] is None or out[k] >= 0
