"""Baseline JPEG codec in pure numpy — encode and decode, no external
libraries.  Implements the PUBLIC ITU-T T.81 / ISO 10918-1 baseline
sequential process (the format every camera and browser speaks):

- 8x8 block DCT-II via an exact orthonormal matrix product,
- Annex K quantization tables scaled with the libjpeg quality formula,
- zigzag scan, differential DC, run-length AC,
- canonical Huffman coding with the Annex K typical tables,
- JFIF container (SOI / APP0 / DQT / SOF0 / DHT / SOS / EOI),
- byte stuffing (FF -> FF 00) and optional restart intervals (DRI/RSTn),
- decoder handles grayscale and color, 4:4:4 and subsampled chroma
  (upsampled by replication), and restart-marker resynchronization.

This closes the last stubbed-codec seam in ``multimodal.py``: PPM, PNG,
WAV, and JPEG payloads now all take REAL codec paths.  JPEG is lossy,
so unlike the PPM/PNG oracles the catalog check pins exact dimensions
plus a reconstruction-error bound; bit-exact round-trip properties live
in pytest (encode->decode->re-encode stability, PSNR floors on smooth
images, marker-level malformed-input rejection).

Scale shape: like the other codecs this runs one payload at a time
inside Arrow-batched ``mapInPandas`` tasks — per-task memory is one
image, the fan-out across a 100 TB corpus is pure data parallelism.
The hot loops (DCT, quantize, zigzag) are vectorized numpy over whole
block stacks; only the entropy coder is per-symbol Python, the same
order of work every pure-Python JPEG implementation does.

Reference parity note: the reference engine never decodes images (it
stores embed metadata only, /root/reference/src/subscription.ts:23-31);
this module is north-star extension surface.
"""

from __future__ import annotations

import struct

import numpy as np

JPEG_MAGIC = b"\xff\xd8\xff"

# ---------------------------------------------------------------------------
# Tables (ITU-T T.81 Annex K — published typical tables)
# ---------------------------------------------------------------------------

# K.1 luminance / K.2 chrominance quantization tables (natural order)
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

# zigzag order: _ZIGZAG[i] = natural index of the i-th zigzag coefficient
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
_UNZIGZAG = np.argsort(_ZIGZAG)

# Annex K typical Huffman tables: (bits[1..16], values)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# orthonormal 8-point DCT-II matrix: Y = D @ X @ D.T
_DCT = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _DCT[_k, _n] = np.cos(np.pi * (2 * _n + 1) * _k / 16.0) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's public quality->scaling formula (ijg jcparam.c)."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (table * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


def _build_huffman_codes(bits, vals):
    """Canonical Huffman: symbol -> (code, length)."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_huffman_decoder(bits, vals):
    """(min_code, max_code, val_offset) per length for fast decode."""
    decode = {}
    code = 0
    k = 0
    for length in range(1, 17):
        n = bits[length - 1]
        if n:
            decode[length] = (code, code + n - 1, k)
            code += n
            k += n
        code <<= 1
    return decode, list(vals)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def pad_to_byte(self) -> None:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1-bits

    def raw_marker(self, byte2: int) -> None:
        self.pad_to_byte()
        self.out += bytes([0xFF, byte2])


class _BitReader:
    """Entropy-segment bit reader: unstuffs FF00, stops at markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                raise ValueError("truncated entropy data")
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
                if nxt == 0x00:
                    self.pos += 2
                elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                    # restart marker: caller resyncs via at_restart()
                    self.acc = (self.acc << 8) | 0x00
                    self.nbits += 8
                    continue
                else:
                    # EOI or other marker — feed pad bits
                    self.acc = (self.acc << 8) | 0x00
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_skip_restart(self) -> None:
        """Consume up to the next RSTn marker and resume after it."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected restart marker")


def _huff_decode(br: _BitReader, table) -> int:
    decode, vals = table
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        rng = decode.get(length)
        if rng and rng[0] <= code <= rng[1]:
            return vals[rng[2] + (code - rng[0])]
    raise ValueError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension of a t-bit magnitude."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """(category, magnitude bits) for a signed coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = a.bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


# ---------------------------------------------------------------------------
# Color transforms (JFIF / BT.601 full-range)
# ---------------------------------------------------------------------------

def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255)


def _blockify(plane: np.ndarray) -> np.ndarray:
    """(H, W) float plane (H, W multiples of 8) -> (n, 8, 8) blocks in
    raster MCU order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

def jpeg_encode(
    arr, quality: int = 90, restart_interval: int = 0
) -> bytes:
    """(h, w) gray or (h, w, 3) RGB uint8 -> baseline JFIF JPEG bytes.

    4:4:4 sampling (every component full resolution) — simplest MCU
    structure, and subsampling is a decode-side concern anyway.
    ``restart_interval`` > 0 emits DRI + RSTn every N MCUs (exercises
    the decoder's resynchronization path)."""
    a = np.asarray(arr, dtype=np.uint8)
    gray = a.ndim == 2
    if not gray and (a.ndim != 3 or a.shape[2] != 3):
        raise ValueError(f"expected (h, w) or (h, w, 3) uint8, got {a.shape}")
    h, w = a.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")

    # pad to multiples of 8 by edge replication
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    if gray:
        planes = [a.astype(np.float64)]
    else:
        ycc = _rgb_to_ycbcr(a)
        planes = [ycc[..., i] for i in range(3)]
    planes = [
        np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in planes
    ]

    qluma = _quality_scale(_Q_LUMA, quality)
    qchroma = _quality_scale(_Q_CHROMA, quality)
    qtabs = [qluma] + ([] if gray else [qchroma])

    # DCT + quantize every plane as one vectorized block stack
    comp_blocks = []
    for ci, plane in enumerate(planes):
        blocks = _blockify(plane - 128.0)
        coefs = np.einsum("ij,njk,lk->nil", _DCT, blocks, _DCT)
        q = qluma if ci == 0 else qchroma
        quant = np.round(coefs / q).astype(np.int32)
        comp_blocks.append(quant.reshape(-1, 64)[:, _ZIGZAG])

    dc_codes = [
        _build_huffman_codes(_DC_LUMA_BITS, _DC_LUMA_VALS),
        _build_huffman_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    ]
    ac_codes = [
        _build_huffman_codes(_AC_LUMA_BITS, _AC_LUMA_VALS),
        _build_huffman_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS),
    ]

    bw = _BitWriter()
    pred = [0] * len(planes)
    n_mcus = comp_blocks[0].shape[0]
    rst = 0
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            bw.raw_marker(0xD0 + (rst & 7))
            rst += 1
            pred = [0] * len(planes)
        for ci in range(len(planes)):
            tsel = 0 if ci == 0 else 1
            zz = comp_blocks[ci][m]
            # DC
            diff = int(zz[0]) - pred[ci]
            pred[ci] = int(zz[0])
            t, bits = _magnitude(diff)
            code, ln = dc_codes[tsel][t]
            bw.write(code, ln)
            if t:
                bw.write(bits, t)
            # AC
            run = 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_codes[tsel][0xF0]  # ZRL
                    bw.write(code, ln)
                    run -= 16
                t, bits = _magnitude(v)
                code, ln = ac_codes[tsel][(run << 4) | t]
                bw.write(code, ln)
                bw.write(bits, t)
                run = 0
            if run:
                code, ln = ac_codes[tsel][0x00]  # EOB
                bw.write(code, ln)
    bw.pad_to_byte()

    # ---- container ----
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + \
        struct.pack(">HH", 1, 1) + b"\x00\x00"
    for ti, q in enumerate(qtabs):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([ti])
        out += bytes(int(x) for x in q.reshape(-1)[_ZIGZAG])
    nc = len(planes)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci in range(nc):
        out += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    huff_specs = [
        (0x00, _DC_LUMA_BITS, _DC_LUMA_VALS),
        (0x10, _AC_LUMA_BITS, _AC_LUMA_VALS),
    ]
    if not gray:
        huff_specs += [
            (0x01, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
            (0x11, _AC_CHROMA_BITS, _AC_CHROMA_VALS),
        ]
    for tc, bits, vals in huff_specs:
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) + bytes([tc])
        out += bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for ci in range(nc):
        out += bytes([ci + 1, (0 if ci == 0 else 1) * 0x11])
    out += b"\x00\x3f\x00"
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

def jpeg_decode(payload: bytes):
    """Baseline JFIF JPEG bytes -> (width, height, channels,
    (h, w, ch) uint8 array). Supports grayscale + YCbCr, arbitrary
    sampling factors (chroma upsampled by replication), restart
    intervals. Raises ValueError on non-baseline or malformed input."""
    if not payload.startswith(JPEG_MAGIC[:2]):
        raise ValueError("not a JPEG payload")
    pos = 2
    n = len(payload)
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], tuple] = {}
    frame = None
    restart_interval = 0

    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        # T.81 B.1.1.2: any number of 0xFF FILL BYTES may precede a
        # marker — real encoders emit them for alignment.  Treating the
        # fill byte as the marker read the true marker bytes as a
        # segment length and rejected conformant files.
        while pos + 1 < n and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= n:
            raise ValueError("truncated marker after fill bytes")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack(">H", payload[pos : pos + 2])
        seg = payload[pos + 2 : pos + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated segment")
        if marker == 0xDB:  # DQT
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0x0F
                sp += 1
                if pq == 0:
                    vals = np.frombuffer(seg[sp : sp + 64], dtype=np.uint8)
                    sp += 64
                else:
                    vals = np.frombuffer(
                        seg[sp : sp + 128], dtype=">u2"
                    )
                    sp += 128
                t = np.zeros(64, dtype=np.int32)
                t[_ZIGZAG] = vals.astype(np.int32)
                qtabs[tq] = t.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            sp = 0
            while sp < len(seg):
                tc, th = seg[sp] >> 4, seg[sp] & 0x0F
                bits = list(seg[sp + 1 : sp + 17])
                nv = sum(bits)
                vals = list(seg[sp + 17 : sp + 17 + nv])
                htabs[(tc, th)] = _build_huffman_decoder(bits, vals)
                sp += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec, fh, fw, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise ValueError(f"unsupported precision {prec}")
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG process (marker 0xFF{marker:02X}) — "
                "baseline sequential only"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = []
            for si in range(ns):
                cs, tt = seg[1 + 2 * si], seg[2 + 2 * si]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append((comp, tt >> 4, tt & 0x0F))
            data_start = pos + seglen
            return _decode_scan(
                payload, data_start, frame, scan, qtabs, htabs,
                restart_interval,
            )
        pos += seglen
    raise ValueError("no SOS marker found")


def _decode_scan(data, pos, frame, scan, qtabs, htabs, restart_interval):
    h, w = frame["h"], frame["w"]
    # decompression-bomb guard (shared with PNG/GIF): the coefficient
    # planes below are allocated from the SOF dims BEFORE any entropy
    # data is read — a few-hundred-byte payload declaring 65535x65535
    # would attempt a ~34 GB float64 allocation and kill the task
    # before the quarantine's except could run
    from .codecs import _check_pixel_budget

    comps = [s[0] for s in scan]
    # ~17 B/pixel per component transient (upper bound, treating every
    # component as full resolution): 8 B float64 coefficient plane +
    # 8 B float64 full-res upsampled copy + 1 B uint8 output
    _check_pixel_budget(w, h, "JPEG", bytes_per_pixel=17 * len(comps))
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = -(-w // mcu_w)
    mcus_y = -(-h // mcu_h)

    # per-component coefficient planes (in padded block units)
    planes = []
    for c in comps:
        bw = mcus_x * c["h"]
        bh = mcus_y * c["v"]
        planes.append(np.zeros((bh * 8, bw * 8), dtype=np.float64))

    br = _BitReader(bytes(data), pos)
    pred = [0] * len(comps)
    mcu_index = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if (
                restart_interval
                and mcu_index
                and mcu_index % restart_interval == 0
            ):
                br.align_and_skip_restart()
                pred = [0] * len(comps)
            for ci, (c, td, ta) in enumerate(scan):
                dc_tab = htabs.get((0, td))
                ac_tab = htabs.get((1, ta))
                if dc_tab is None or ac_tab is None:
                    raise ValueError("missing Huffman table")
                q = qtabs.get(c["tq"])
                if q is None:
                    raise ValueError("missing quantization table")
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.float64)
                        t = _huff_decode(br, dc_tab)
                        diff = _extend(br.read_bits(t), t) if t else 0
                        pred[ci] += diff
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(br, ac_tab)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index out of range")
                            zz[k] = _extend(br.read_bits(s), s)
                            k += 1
                        blk = np.zeros(64, dtype=np.float64)
                        blk[_ZIGZAG] = zz
                        blk = blk.reshape(8, 8) * q
                        px = _DCT.T @ blk @ _DCT + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px
            mcu_index += 1

    # upsample each component to full resolution by replication, crop
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])

    if len(full) == 1:
        out = np.clip(full[0], 0, 255)[:, :, None]
    else:
        out = _ycbcr_to_rgb(np.stack(full, axis=-1))
    return w, h, len(full), np.round(out).astype(np.uint8)
