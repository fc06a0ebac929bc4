"""Baseline JFIF (JPEG) codec in pure numpy + stdlib.

The container ships no PIL/libjpeg, but baseline sequential JPEG is
decodable from first principles with ~400 lines of numpy: marker parse,
canonical Huffman decode, dequantize, 8x8 inverse DCT (orthonormal
cosine matrix), chroma upsample, YCbCr->RGB.

Decoder scope (what a training-data pipeline actually meets):
- baseline sequential DCT (SOF0) and extended sequential (SOF1),
  8-bit precision, Huffman entropy coding,
- 1 or 3 components, arbitrary sampling factors (4:4:4, 4:2:2, 4:2:0
  all fall out of the general MCU geometry),
- restart markers (DRI/RSTn) with DC-predictor reset,
- multi-table DQT/DHT segments, APPn/COM skip.
Progressive (SOF2), arithmetic coding, and 12-bit raise ValueError —
no silent wrong pixels (same policy as decode_png in codecs.py).

The encoder exists to make real, spec-conforming fixtures (and to
exercise resize round-trips): 4:4:4 or 4:2:0, quality-scaled Annex-K
quantization tables, standard Annex-K Huffman tables, optional restart
interval. All tables below are from the public JPEG spec (ITU-T T.81
Annex K) — they are the universally shipped defaults.

Everything here is plain numpy; nothing touches Spark.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag position k -> natural (row-major) index (T.81 Figure A.6)
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.1 quantization tables, natural (row-major) order
Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 typical Huffman tables: (BITS[1..16], HUFFVAL)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# orthonormal 8x8 DCT-II basis: F = M @ X @ M.T, X = M.T @ F @ M.
# Matches T.81 A.3.3's 1/4*C(u)*C(v) scaling exactly.
_M = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _dct2(block: np.ndarray) -> np.ndarray:
    return _M @ block @ _M.T


def _idct2(coef: np.ndarray) -> np.ndarray:
    return _M.T @ coef @ _M


def _build_decode_lut(bits: list[int], values: list[int]) -> dict:
    """Canonical Huffman: (code_length, code) -> symbol (T.81 C.2)."""
    lut, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lut[(length, code)] = values[k]
            k += 1
            code += 1
        code <<= 1
    return lut


def _build_encode_lut(bits: list[int], values: list[int]) -> dict:
    """symbol -> (code, code_length)."""
    lut, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lut[values[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return lut


def _scale_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's public quality->scale mapping (1..100)."""
    q = min(max(int(quality), 1), 100)
    s = 5000 // q if q < 50 else 200 - 2 * q
    return np.clip((base * s + 50) // 100, 1, 255).astype(np.int64)


# --------------------------------------------------------------------- encode


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing (T.81 B.1.1.5)
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


def _mag_bits(v: int) -> tuple[int, int]:
    """value -> (size category, amplitude bits) (T.81 F.1.2.1)."""
    s = int(abs(v)).bit_length()
    return (s, v if v >= 0 else v + (1 << s) - 1)


def _encode_block(
    bw: _BitWriter,
    block: np.ndarray,
    quant: np.ndarray,
    dc_lut: dict,
    ac_lut: dict,
    pred: int,
) -> int:
    coef = np.round(_dct2(block.astype(np.float64) - 128.0) / quant.reshape(8, 8))
    zz = coef.reshape(64)[ZIGZAG].astype(np.int64)
    diff = int(zz[0]) - pred
    s, amp = _mag_bits(diff)
    code, length = dc_lut[s]
    bw.write(code, length)
    bw.write(amp, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*ac_lut[0xF0])  # ZRL
            run -= 16
        s, amp = _mag_bits(v)
        code, length = ac_lut[(run << 4) | s]
        bw.write(code, length)
        bw.write(amp, s)
        run = 0
    if run:
        bw.write(*ac_lut[0x00])  # EOB
    return int(zz[0])


def _pad_plane(plane: np.ndarray, bh: int, bw_: int) -> np.ndarray:
    """Edge-replicate plane to (bh, bw) multiples."""
    h, w = plane.shape
    ph = (bh - h % bh) % bh
    pw = (bw_ - w % bw_) % bw_
    return np.pad(plane, ((0, ph), (0, pw)), mode="edge")


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF payload.

    ``subsample=True`` emits 4:2:0 (2x2 Y sampling, box-mean chroma);
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    MCUs (exercises the decoder's restart path)."""
    a = np.asarray(pixels, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_jpeg expects (h, w, 3)")
    h, w, _ = a.shape
    rgb = a.astype(np.float64)
    y = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    cb = -0.168736 * rgb[:, :, 0] - 0.331264 * rgb[:, :, 1] + 0.5 * rgb[:, :, 2] + 128.0
    cr = 0.5 * rgb[:, :, 0] - 0.418688 * rgb[:, :, 1] - 0.081312 * rgb[:, :, 2] + 128.0

    qy = _scale_quant(Q_LUMA, quality)
    qc = _scale_quant(Q_CHROMA, quality)

    if subsample:
        sampling = [(2, 2), (1, 1), (1, 1)]
        ye = _pad_plane(y, 16, 16)
        cbe = _pad_plane(cb, 16, 16)
        cre = _pad_plane(cr, 16, 16)
        # box-mean 2x2 chroma downsample
        cbe = cbe.reshape(cbe.shape[0] // 2, 2, cbe.shape[1] // 2, 2).mean(axis=(1, 3))
        cre = cre.reshape(cre.shape[0] // 2, 2, cre.shape[1] // 2, 2).mean(axis=(1, 3))
        planes = [ye, cbe, cre]
    else:
        sampling = [(1, 1), (1, 1), (1, 1)]
        planes = [_pad_plane(y, 8, 8), _pad_plane(cb, 8, 8), _pad_plane(cr, 8, 8)]

    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x = planes[0].shape[1] // (8 * sampling[0][0]) * sampling[0][0] // hmax
    mcus_y = planes[0].shape[0] // (8 * sampling[0][1]) * sampling[0][1] // vmax
    mcus_x = max(mcus_x, 1)
    mcus_y = max(mcus_y, 1)

    dc_luts = [_build_encode_lut(*_DC_LUMA), _build_encode_lut(*_DC_CHROMA)]
    ac_luts = [_build_encode_lut(*_AC_LUMA), _build_encode_lut(*_AC_CHROMA)]
    quants = [qy, qc, qc]
    tsel = [0, 1, 1]  # table selector per component

    entropy = bytearray()
    bw_ = _BitWriter()
    preds = [0, 0, 0]
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw_.flush()
                entropy += bw_.out
                entropy += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                bw_ = _BitWriter()
                preds = [0, 0, 0]
            for ci, (hi, vi) in enumerate(sampling):
                for by in range(vi):
                    for bx in range(hi):
                        py = (my * vi + by) * 8
                        px = (mx * hi + bx) * 8
                        block = planes[ci][py : py + 8, px : px + 8]
                        preds[ci] = _encode_block(
                            bw_, block, quants[ci],
                            dc_luts[tsel[ci]], ac_luts[tsel[ci]], preds[ci],
                        )
            mcu_count += 1
    bw_.flush()
    entropy += bw_.out

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(qy[ZIGZAG].astype(np.uint8)))
    out += seg(0xDB, bytes([0x01]) + bytes(qc[ZIGZAG].astype(np.uint8)))
    sof = bytearray(struct.pack(">BHHB", 8, h, w, 3))
    for ci, (hi, vi) in enumerate(sampling):
        sof += bytes([ci + 1, (hi << 4) | vi, 0 if ci == 0 else 1])
    out += seg(0xC0, bytes(sof))
    for tc, th, (bits, vals) in (
        (0, 0, _DC_LUMA), (1, 0, _AC_LUMA), (0, 1, _DC_CHROMA), (1, 1, _AC_CHROMA)
    ):
        out += seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([3])
    for ci in range(3):
        td = ta = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (td << 4) | ta])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, bytes(sos))
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------------- decode


class _BitReader:
    """MSB-first bit reader over unstuffed entropy bytes."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def read_bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                return 0  # pad past end (T.81 allows trailing pad bits)
            self.acc = self.data[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map s-bit amplitude to signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_sym(br: _BitReader, lut: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = lut.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG entropy data")


def _entropy_segments(data: bytes, pos: int) -> list[bytes]:
    """Split scan data at RST markers, removing 0xFF00 byte stuffing.
    Returns one unstuffed byte-string per restart segment."""
    segs, cur = [], bytearray()
    n = len(data)
    while pos < n:
        b = data[pos]
        if b == 0xFF:
            nxt = data[pos + 1] if pos + 1 < n else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                pos += 2
                continue
            if 0xD0 <= nxt <= 0xD7:  # RSTn
                segs.append(bytes(cur))
                cur = bytearray()
                pos += 2
                continue
            break  # a real marker (EOI / next scan) ends the data
        cur.append(b)
        pos += 1
    segs.append(bytes(cur))
    return segs


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JFIF payload -> (h, w, 3) uint8 RGB pixels.

    Grayscale (1-component) scans broadcast to RGB (same policy as
    decode_png). Progressive/arithmetic/12-bit raise ValueError."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode lut
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    scan_order: list[dict] = []
    data_start = -1
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        (length,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + length]
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                if pq != 0:
                    raise ValueError("decode_jpeg handles 8-bit quant tables only")
                zz = np.frombuffer(body, dtype=np.uint8, count=64, offset=i + 1)
                nat = np.zeros(64, dtype=np.int64)
                nat[ZIGZAG] = zz
                qt[tq] = nat
                i += 65
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 extended sequential
            precision, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise ValueError("decode_jpeg handles 8-bit precision only")
            comps = []
            for ci in range(ncomp):
                cid, samp, tq = body[6 + ci * 3 : 9 + ci * 3]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 15, "tq": tq})
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"decode_jpeg handles baseline/extended sequential Huffman only "
                f"(SOF marker 0x{marker:02X} unsupported)"
            )
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                huff[(tc, th)] = _build_decode_lut(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan_order = []
            for si in range(ns):
                cid, tsel = body[1 + si * 2 : 3 + si * 2]
                comp = next(c for c in comps if c["id"] == cid)
                scan_order.append({**comp, "td": tsel >> 4, "ta": tsel & 15})
            data_start = pos + 2 + length
            break
        pos += 2 + length
    if not comps or data_start < 0:
        raise ValueError("missing SOF/SOS in JPEG payload")
    if len(scan_order) not in (1, 3):
        raise ValueError("decode_jpeg handles 1- or 3-component scans only")
    if len(scan_order) != len(comps):
        # a legal-but-rare baseline layout: one SOS per component.
        # Decoding just the first scan would silently return luma as
        # grayscale — refuse instead (same no-wrong-pixels policy).
        raise ValueError("decode_jpeg handles single interleaved scans only")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = {
        c["id"]: np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.float64)
        for c in scan_order
    }

    segs = _entropy_segments(payload, data_start)
    seg_ix = 0
    br = _BitReader(segs[0])
    preds = {c["id"]: 0 for c in scan_order}
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                seg_ix += 1
                if seg_ix >= len(segs):
                    raise ValueError("truncated JPEG: missing restart segment")
                br = _BitReader(segs[seg_ix])
                preds = {c["id"]: 0 for c in scan_order}
            for c in scan_order:
                quant = qt[c["tq"]]
                dc_lut = huff[(0, c["td"])]
                ac_lut = huff[(1, c["ta"])]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        s = _decode_sym(br, dc_lut)
                        diff = _extend(br.read(s), s)
                        preds[c["id"]] += diff
                        zz[0] = preds[c["id"]]
                        k = 1
                        while k < 64:
                            rs = _decode_sym(br, ac_lut)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC coefficient index out of range")
                            zz[k] = _extend(br.read(s), s)
                            k += 1
                        nat = np.zeros(64, dtype=np.float64)
                        nat[ZIGZAG] = zz * quant
                        block = _idct2(nat.reshape(8, 8)) + 128.0
                        py = (my * c["v"] + by) * 8
                        px = (mx * c["h"] + bx) * 8
                        planes[c["id"]][py : py + 8, px : px + 8] = block
            mcu_count += 1

    # upsample each plane to full MCU-grid resolution by replication,
    # then crop to the declared (h, w)
    full = {}
    for c in scan_order:
        p = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full[c["id"]] = p[:h, :w]

    if len(scan_order) == 1:
        g = np.clip(full[scan_order[0]["id"]], 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = (full[c["id"]] for c in scan_order)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def jpeg_features(payload: bytes) -> np.ndarray:
    """8 real pixel statistics from a baseline JPEG payload."""
    from .codecs import pixel_features

    return pixel_features(decode_jpeg(payload))


def resize_jpeg(payload: bytes, width: int, height: int, quality: int = 90) -> bytes:
    """Decode -> nearest-neighbor resample -> re-encode (real pixels)."""
    pix = decode_jpeg(payload)
    h, w, _ = pix.shape
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return encode_jpeg(pix[ys][:, xs], quality=quality)
