"""Pure-python/numpy media codecs.

This container ships no PIL/torchaudio/ffmpeg, so the engine decodes
what stdlib+numpy can genuinely parse: binary PPM (P6) images, PCM16
RIFF/WAVE audio, and — since zlib ships with Python — real
Deflate-compressed PNG (8-bit gray/RGB/alpha, all five scanline
filters). Baseline JPEG lives in ``jpeg.py``.

All functions are driver/executor-agnostic plain numpy.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


# --- PPM (P6, 8-bit RGB) ----------------------------------------------------

def encode_ppm(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary PPM (P6) payload."""
    a = np.asarray(pixels, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_ppm expects (h, w, 3)")
    h, w, _ = a.shape
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) payload → (h, w, 3) uint8 pixels."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header: magic, whitespace/comments, width, height, maxval, single ws
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError("decode_ppm handles 8-bit (maxval 255) only")
    data = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return data.reshape(h, w, 3).copy()


def resize_ppm(payload: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor resize of a P6 payload — a real pixel transform,
    not a pass-through."""
    pix = decode_ppm(payload)
    h, w, _ = pix.shape
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return encode_ppm(pix[ys][:, xs])


# --- PNG (8-bit, non-interlaced) --------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type → samples per pixel (palette is not emitted by any tool here)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray, filter_type: int = 0) -> bytes:
    """(h, w, 3) uint8 → RGB PNG payload. ``filter_type`` picks the
    per-scanline filter (0..4) — mainly useful for exercising every
    decoder branch; 0 is fine for synthetic data."""
    a = np.asarray(pixels, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_png expects (h, w, 3)")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError("filter_type must be 0..4")
    h, w, _ = a.shape
    rows = a.reshape(h, w * 3).astype(np.int32)
    prev = np.zeros(w * 3, dtype=np.int32)
    out = bytearray()
    for y in range(h):
        cur = rows[y]
        left = np.concatenate([np.zeros(3, dtype=np.int32), cur[:-3]])
        upleft = np.concatenate([np.zeros(3, dtype=np.int32), prev[:-3]])
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            filt = cur - (left + prev) // 2
        else:
            filt = cur - _paeth(left, prev, upleft)
        out.append(filter_type)
        out += (filt % 256).astype(np.uint8).tobytes()
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(left: np.ndarray, up: np.ndarray, upleft: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized over a scanline (RFC 2083 §6.6)."""
    p = left + up - upleft
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
    return np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))


def decode_png(payload: bytes) -> np.ndarray:
    """PNG payload → (h, w, 3) uint8 RGB pixels.

    Real Deflate + scanline-filter decode (stdlib zlib + numpy): 8-bit
    depth, color types 0/2/4/6, all five filters, non-interlaced.
    Grayscale is broadcast to RGB; alpha is dropped (features want
    color statistics). Palette/16-bit/interlaced raise — no silent
    wrong pixels."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, w, h, ctype, idat = 8, 0, 0, None, b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body[:13]
            )
            if depth != 8 or ctype not in _PNG_CHANNELS or interlace != 0:
                raise ValueError(
                    f"decode_png handles 8-bit gray/RGB/alpha non-interlaced "
                    f"only (depth={depth}, color_type={ctype}, interlace={interlace})"
                )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ctype is None:
        raise ValueError("missing IHDR chunk")
    ch = _PNG_CHANNELS[ctype]
    raw = zlib.decompress(idat)
    stride = 1 + w * ch
    if len(raw) < h * stride:
        raise ValueError("truncated PNG pixel data")
    # un-filter: scanlines depend on the previous reconstructed row, so
    # iterate rows; within a row the numpy ops are vectorized except
    # Sub/Paeth's left-neighbor recurrence (per-pixel, ch-strided).
    img = np.zeros((h, w * ch), dtype=np.uint8)
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        line = raw[y * stride : (y + 1) * stride]
        ftype = line[0]
        cur = np.frombuffer(line, dtype=np.uint8, count=w * ch, offset=1).astype(
            np.int32
        )
        if ftype == 0:
            rec = cur
        elif ftype == 2:
            rec = (cur + prev) % 256
        elif ftype == 1:
            # Sub is a per-channel prefix sum — vectorized, no recurrence
            rec = cur.reshape(w, ch).cumsum(axis=0).reshape(w * ch) % 256
        elif ftype in (3, 4):
            # Average/Paeth mix the running left neighbor with the prev
            # row through a nonlinear step — inherently sequential along
            # the scanline (kept as a loop; rows are Arrow-batch local)
            rec = cur.copy()
            for x in range(w * ch):
                left = rec[x - ch] if x >= ch else 0
                if ftype == 3:
                    rec[x] = (rec[x] + (left + prev[x]) // 2) % 256
                else:
                    upleft = prev[x - ch] if x >= ch else 0
                    p = left + prev[x] - upleft
                    pa, pb, pc = abs(p - left), abs(p - prev[x]), abs(p - upleft)
                    pred = left if pa <= pb and pa <= pc else (prev[x] if pb <= pc else upleft)
                    rec[x] = (rec[x] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        img[y] = rec.astype(np.uint8)
        prev = rec
    px = img.reshape(h, w, ch)
    if ctype == 0:
        return np.repeat(px, 3, axis=2)
    if ctype == 2:
        return px.copy()
    if ctype == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3].copy()


# --- WAV (RIFF/WAVE, PCM16) -------------------------------------------------

def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """1-D int16 samples → mono PCM16 RIFF/WAVE payload."""
    s = np.asarray(samples, dtype=np.int16)
    data = s.tobytes()
    byte_rate = sample_rate * 2
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, byte_rate, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Mono PCM16 RIFF/WAVE payload → (float64 samples in [-1, 1],
    sample_rate)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, sample_rate, data = 12, None, None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if tag == b"fmt ":
            audio_fmt, channels, sample_rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if (audio_fmt, channels, bits) != (1, 1, 16):
                raise ValueError("decode_wav handles mono PCM16 only")
        elif tag == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if sample_rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    return samples, int(sample_rate)


# --- feature extraction -----------------------------------------------------

def image_features(payload: bytes) -> np.ndarray:
    """8 real pixel statistics from a P6 PPM payload."""
    return pixel_features(decode_ppm(payload))


def png_features(payload: bytes) -> np.ndarray:
    """8 real pixel statistics from a PNG payload (real zlib decode)."""
    return pixel_features(decode_png(payload))


def pixel_features(pixels: np.ndarray) -> np.ndarray:
    """(h, w, 3) uint8 → per-channel means, gray std/min/max, aspect
    ratio, normalized size — codec-independent."""
    pix = pixels.astype(np.float64) / 255.0
    h, w, _ = pix.shape
    gray = pix.mean(axis=2)
    return np.array(
        [
            pix[:, :, 0].mean(),
            pix[:, :, 1].mean(),
            pix[:, :, 2].mean(),
            gray.std(),
            gray.min(),
            gray.max(),
            w / h,
            min(1.0, (w * h) / 4096.0),
        ]
    )


def audio_features(payload: bytes) -> np.ndarray:
    """8 real sample statistics from a PCM16 WAV payload: mean, std,
    min, max, RMS, zero-crossing rate, duration (s, capped), normalized
    sample rate."""
    samples, rate = decode_wav(payload)
    if len(samples) == 0:
        return np.zeros(8)
    zc = float(np.mean(np.abs(np.diff(np.signbit(samples).astype(np.int8)))))
    return np.array(
        [
            samples.mean(),
            samples.std(),
            samples.min(),
            samples.max(),
            float(np.sqrt(np.mean(samples**2))),
            zc,
            min(1.0, len(samples) / rate / 60.0),
            rate / 48000.0,
        ]
    )
