"""Property-based checks for the pure-python media codecs, the PNG
raster backend, and FastDTW (hypothesis-generated inputs, no Spark
session needed — these all run inside executors at scale, so their
invariants must hold on arbitrary data), and fixed-example checks of
the PPM/WAV codecs' feature statistics and resize."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from bigdata_spark.ml.dtw import dtw_distance, fast_dtw
from bigdata_spark.ml.png import read_png, write_png
from bigdata_spark.multimodal.codecs import (
    audio_features,
    decode_ppm,
    decode_wav,
    encode_ppm,
    encode_wav,
    image_features,
    resize_ppm,
)


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
)
def test_ppm_roundtrip_any_shape(w, h, seed):
    rng = np.random.RandomState(seed)
    pix = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert (decode_ppm(encode_ppm(pix)) == pix).all()


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 30),
    h=st.integers(1, 30),
    w2=st.integers(1, 30),
    h2=st.integers(1, 30),
    seed=st.integers(0, 2**31 - 1),
)
def test_ppm_resize_shape_and_value_domain(w, h, w2, h2, seed):
    rng = np.random.RandomState(seed)
    pix = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = decode_ppm(resize_ppm(encode_ppm(pix), w2, h2))
    assert out.shape == (h2, w2, 3)
    # nearest-neighbor only ever copies source pixels
    src_colors = {tuple(c) for c in pix.reshape(-1, 3)}
    assert {tuple(c) for c in out.reshape(-1, 3)} <= src_colors


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(1, 2000),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_any_samples(n, rate, seed):
    rng = np.random.RandomState(seed)
    samples = rng.randint(-32768, 32768, size=n, dtype=np.int64).astype(np.int16)
    back, got_rate = decode_wav(encode_wav(samples, rate))
    assert got_rate == rate
    assert np.array_equal(back, samples.astype(np.float64) / 32768.0)


def test_ppm_codec_roundtrip_and_stats():
    # solid-color 4×6 image: channel means are exactly the color
    pix = np.zeros((4, 6, 3), dtype=np.uint8)
    pix[:, :, 0], pix[:, :, 1], pix[:, :, 2] = 255, 128, 0
    payload = encode_ppm(pix)
    assert (decode_ppm(payload) == pix).all()
    f = image_features(payload)
    assert f[0] == pytest.approx(1.0)
    assert f[1] == pytest.approx(128 / 255)
    assert f[2] == pytest.approx(0.0)
    assert f[3] == pytest.approx(0.0)  # solid → zero gray std
    assert f[6] == pytest.approx(6 / 4)  # aspect w/h
    # comment-bearing header also parses
    with_comment = b"P6\n# crafted\n6 4\n255\n" + pix.tobytes()
    assert (decode_ppm(with_comment) == pix).all()


def test_wav_codec_roundtrip_and_stats():
    rate = 8000
    t = np.arange(rate, dtype=np.float64)  # 1 s
    samples = (np.sin(2 * np.pi * 100 * t / rate) * 16384).astype(np.int16)
    payload = encode_wav(samples, rate)
    back, got_rate = decode_wav(payload)
    assert got_rate == rate and len(back) == rate
    assert np.allclose(back, samples / 32768.0)
    f = audio_features(payload)
    assert f[0] == pytest.approx(0.0, abs=1e-3)  # sine mean ~0
    assert f[4] == pytest.approx(0.5 / np.sqrt(2), abs=1e-3)  # RMS of 0.5-amp sine
    assert f[7] == pytest.approx(rate / 48000.0)


def test_resize_ppm_nearest_neighbor():
    pix = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    small = decode_ppm(resize_ppm(encode_ppm(pix), 2, 2))
    # nearest-neighbor with floor mapping keeps rows/cols 0 and 2
    assert (small == pix[[0, 2]][:, [0, 2]]).all()


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(1, 16),
    h=st.integers(1, 16),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_any_image(w, h, seed):
    import os
    import tempfile

    rng = np.random.RandomState(seed)
    pixels = [
        [tuple(int(v) for v in rng.randint(0, 256, 3)) for _ in range(w)]
        for _ in range(h)
    ]
    fd, path = tempfile.mkstemp(suffix=".png")
    os.close(fd)
    try:
        write_png(path, pixels)
        assert read_png(path) == pixels
    finally:
        os.unlink(path)


@settings(max_examples=20, deadline=None)
@given(
    n=st.integers(2, 80),
    m=st.integers(2, 80),
    radius=st.integers(1, 3),
    seed=st.integers(0, 2**31 - 1),
)
def test_fast_dtw_always_upper_bounds_exact(n, m, radius, seed):
    rng = np.random.RandomState(seed)
    a, b = np.cumsum(rng.randn(n)), np.cumsum(rng.randn(m))
    exact = dtw_distance(a, b)
    approx = fast_dtw(a, b, radius=radius)
    assert approx >= exact - 1e-9
    assert np.isfinite(approx)


@settings(max_examples=10, deadline=None)
@given(n=st.integers(1, 100), seed=st.integers(0, 2**31 - 1))
def test_fast_dtw_identity_is_zero(n, seed):
    rng = np.random.RandomState(seed)
    a = np.cumsum(rng.randn(n))
    assert fast_dtw(a, a.copy(), radius=1) == 0.0

@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    filter_type=st.integers(0, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_payload_roundtrip_all_filters(w, h, filter_type, seed):
    """Real zlib PNG codec: encode with each of the five scanline
    filters, decode must reproduce the pixels bit-exactly."""
    from bigdata_spark.multimodal.codecs import decode_png, encode_png

    rng = np.random.RandomState(seed)
    pix = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert (decode_png(encode_png(pix, filter_type=filter_type)) == pix).all()


def test_png_decode_gray_and_alpha_color_types():
    """Color types 0 (gray), 4 (gray+alpha), 6 (RGBA) decode to RGB:
    hand-build minimal payloads per type."""
    import struct
    import zlib

    from bigdata_spark.multimodal.codecs import _PNG_SIG, _png_chunk, decode_png

    def build(w, h, ctype, samples):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
        raw = b"".join(
            b"\x00" + bytes(samples[y * w * ch : (y + 1) * w * ch]) for y in range(h)
        )
        return (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b"")
        )

    # 2x1 grayscale: values 10, 200
    out = decode_png(build(2, 1, 0, [10, 200]))
    assert out.tolist() == [[[10, 10, 10], [200, 200, 200]]]
    # 1x1 gray+alpha: gray 77, alpha 255
    out = decode_png(build(1, 1, 4, [77, 255]))
    assert out.tolist() == [[[77, 77, 77]]]
    # 1x2 RGBA: alpha dropped
    out = decode_png(build(1, 2, 6, [1, 2, 3, 255, 9, 8, 7, 0]))
    assert out.tolist() == [[[1, 2, 3]], [[9, 8, 7]]]


def test_png_decode_rejects_unsupported():
    import struct
    import zlib

    import pytest

    from bigdata_spark.multimodal.codecs import _PNG_SIG, _png_chunk, decode_png

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JFIF....")
    # 16-bit depth must raise, not silently mis-decode
    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0)
    bad = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" + b"\x00" * 6))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="8-bit"):
        decode_png(bad)


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    quality=st.integers(50, 95),
    subsample=st.booleans(),
    rst=st.integers(0, 3),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_decode_never_crashes_and_bounds_error(w, h, quality, subsample, rst, seed):
    """Any (shape, quality, sampling, restart) combination must decode
    to the declared dimensions with bounded error — executors meet
    arbitrary payload shapes at scale."""
    from bigdata_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(seed)
    # smooth-ish content (random noise has unbounded quantization error)
    base = rng.randint(0, 256, size=(1, 1, 3))
    ramp = np.fromfunction(lambda y, x, c: (y * 3 + x * 5) % 97, (h, w, 3))
    pix = ((base + ramp) % 256).astype(np.uint8)
    out = decode_jpeg(
        encode_jpeg(pix, quality=quality, subsample=subsample, restart_interval=rst)
    )
    assert out.shape == (h, w, 3)
    assert out.dtype == np.uint8


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(8, 48),
    h=st.integers(8, 48),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_flat_regions_high_fidelity(w, h, seed):
    """Flat color at q90 must round-trip within 2 levels per channel —
    the DC path is exact up to quantization of a single coefficient."""
    from bigdata_spark.multimodal.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(seed)
    color = rng.randint(16, 240, size=3)
    pix = np.tile(color.astype(np.uint8), (h, w, 1))
    out = decode_jpeg(encode_jpeg(pix, quality=90))
    assert np.abs(out.astype(int) - pix.astype(int)).max() <= 2
