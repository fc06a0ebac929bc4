"""Minimal pure-stdlib PNG raster backend for the plot sink (SURVEY
§2.1 S8; reference code/src/visualization.py:6-81 renders via
matplotlib — this keeps the sink executable in deployments without it).

``write_png`` emits an 8-bit RGB truecolor PNG (filter 0, one zlib
IDAT); ``read_png`` reads exactly that subset back (for tests).
``Canvas`` is a tiny raster painter; ``viridis`` a 5-stop linear
approximation of the reference's colormap.
"""

from __future__ import annotations

import struct
import zlib

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def write_png(path: str, pixels: list[list[tuple[int, int, int]]]) -> str:
    """Write rows of (r, g, b) byte triples as an 8-bit truecolor PNG."""
    h = len(pixels)
    w = len(pixels[0]) if h else 0
    raw = bytearray()
    for row in pixels:
        if len(row) != w:
            raise ValueError("ragged pixel rows")
        raw.append(0)  # filter type 0 (None) per scanline
        for r, g, b in row:
            raw += bytes((r & 0xFF, g & 0xFF, b & 0xFF))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    with open(path, "wb") as f:
        f.write(_SIG)
        f.write(_chunk(b"IHDR", ihdr))
        f.write(_chunk(b"IDAT", zlib.compress(bytes(raw), 9)))
        f.write(_chunk(b"IEND", b""))
    return path


def read_png(path: str) -> list[list[tuple[int, int, int]]]:
    """Read back the subset write_png produces (8-bit RGB, filter 0)."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos, w, h, idat = 8, 0, 0, b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if (depth, ctype) != (8, 2):
                raise ValueError("read_png handles 8-bit RGB only")
        elif tag == b"IDAT":
            idat += payload
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = 1 + 3 * w
    out = []
    for y in range(h):
        line = raw[y * stride : (y + 1) * stride]
        if line[0] != 0:
            raise ValueError("read_png handles filter 0 only")
        out.append(
            [tuple(line[1 + 3 * x : 4 + 3 * x]) for x in range(w)]
        )
    return out


class Canvas:
    """Tiny raster painter: white background, filled rectangles."""

    def __init__(self, w: int, h: int, bg: tuple[int, int, int] = (255, 255, 255)):
        self.w, self.h = w, h
        self.pix = [[bg] * w for _ in range(h)]

    def rect(self, x0: int, y0: int, w: int, h: int, color: tuple[int, int, int]):
        for y in range(max(0, y0), min(self.h, y0 + h)):
            row = self.pix[y]
            for x in range(max(0, x0), min(self.w, x0 + w)):
                row[x] = color

    def save(self, path: str) -> str:
        """Write the raster as a PNG, whatever the extension."""
        return write_png(path, self.pix)


_VIRIDIS = [(68, 1, 84), (59, 82, 139), (33, 145, 140), (94, 201, 98), (253, 231, 37)]


def viridis(t: float) -> tuple[int, int, int]:
    """Linear interpolation over 5 viridis stops, t in [0, 1]."""
    t = min(1.0, max(0.0, t))
    pos = t * (len(_VIRIDIS) - 1)
    i = min(int(pos), len(_VIRIDIS) - 2)
    frac = pos - i
    a, b = _VIRIDIS[i], _VIRIDIS[i + 1]
    return tuple(round(a[c] + (b[c] - a[c]) * frac) for c in range(3))
