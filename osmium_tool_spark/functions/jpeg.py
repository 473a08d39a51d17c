"""From-spec baseline JPEG codec: stdlib + numpy, no image library.

Written from the published ITU-T T.81 specification (ISO/IEC 10918-1,
freely published by the ITU) — the sibling of `functions/png.py` and
the round-5 close of the "real lossy decode in-sandbox" gap: this
container has no PIL/libjpeg, so without it the PSNR>=40dB per-row
invariant (BASELINE.json input_hint) could run on real pixels only for
PNG. Scope is BASELINE SEQUENTIAL DCT, 8-bit samples:

- decoder: SOI/APPn/COM/DQT/DHT/SOF0/SOS/DRI/RSTn/EOI walk, canonical
  Huffman per Annex C, dequantize + dezigzag, float IDCT (orthonormal
  DCT-III as two matmuls, vectorized over all blocks of a component),
  sampling factors up to 2x2 (4:4:4, 4:2:2, 4:2:0), nearest-neighbor
  chroma upsampling, JFIF/BT.601 YCbCr->RGB. Grayscale (1 component)
  and YCbCr (3 components). Anything else — progressive (SOF2),
  arithmetic coding, 12-bit, 4-component CMYK — fails LOUD: wrong
  pixels are worse than an error.
- encoder: the Annex K example quantization tables scaled by the
  libjpeg quality formula, the Annex K "typical" Huffman tables,
  forward DCT + round, zigzag run-length + byte stuffing; grayscale
  or RGB with 4:4:4 or 4:2:0 (2x2 box-filter chroma downsample).
  Deterministic bytes for identical input — fixture generation and
  golden tests stay replayable, like `png.encode_gray`.

Quantization/Huffman tables are DECODED FROM THE FILE (DQT/DHT), not
assumed — external baseline JPEGs (libjpeg, PIL, camera firmware with
custom tables) decode correctly; the Annex K constants below are used
by the ENCODER only.

Scale note: decode cost is per-image inside Arrow-batched mapInPandas
kernels (`sources/images.py` ships this module into the pickle by
value, the png.py pattern). Entropy decoding is a sequential bit
walk per scan by nature; the heavy math (IDCT, color transform,
upsample) is numpy-vectorized across every block of the image at
once. At 10^12-image scale the codec rides the same
embarrassingly-parallel map stage as every decode kernel — no
shuffle, no driver involvement.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables
# Zigzag scan order (T.81 Figure 5): ZIGZAG[k] = raster index of the
# k-th coefficient in scan order.
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.1 example quantization tables (luminance / chrominance).
STD_LUMA_Q = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)
STD_CHROMA_Q = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

# Annex K.3 "typical" Huffman tables as (BITS[1..16], HUFFVAL).
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
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
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
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
]

# Orthonormal 8-point DCT-II basis: C[u, x] = a(u) cos((2x+1)u pi/16),
# a(0)=sqrt(1/8), a(u>0)=sqrt(2/8). Forward: C @ B @ C.T; inverse is
# the transpose pair. Shared by encoder and decoder.
_C = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else np.sqrt(0.25)
    for _x in range(8):
        _C[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """The libjpeg quality->scale mapping over the Annex K tables
    (public jcparam.c formula: 5000/q below 50, 200-2q above)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"JPEG: quality must be in [1, 100], got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    lq = np.clip((STD_LUMA_Q * scale + 50) // 100, 1, 255)
    cq = np.clip((STD_CHROMA_Q * scale + 50) // 100, 1, 255)
    return lq, cq


# ---------------------------------------------------------- Huffman core
_DTAB_CACHE: dict = {}


def _canonical_codes(bits: list[int], vals: list[int]):
    """(value -> (code, length)) per T.81 Annex C code generation."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out

def _decode_table(bits: list[int], vals: list[int]):
    """16-bit-prefix lookup tables (sym, length) for one-step Huffman
    decode: a canonical code of length L owns the 2^(16-L) table slots
    whose top L bits equal it, so decoding is ONE array index on the
    next 16 bits of the stream instead of a bit-by-bit walk (the
    classic libjpeg fast path, rebuilt from the canonical-code spec).
    Slots no code owns carry length 0 -> invalid-stream error.
    Memoized on the table bytes: a corpus encoded with one DHT set
    (the common case — every libjpeg/Annex-K file) builds its LUTs
    once per worker, not once per image."""
    key = (bytes(bits), bytes(vals))
    cached = _DTAB_CACHE.get(key)
    if cached is not None:
        return cached
    enc = _canonical_codes(bits, vals)
    sym = np.zeros(1 << 16, np.int16)
    ln = np.zeros(1 << 16, np.uint8)
    for v, (code, length) in enc.items():
        lo = code << (16 - length)
        hi = lo + (1 << (16 - length))
        sym[lo:hi] = v
        ln[lo:hi] = length
    _DTAB_CACHE[key] = (sym, ln)
    return sym, ln


class _BitWriter:
    """MSB-first bit accumulator with 0xFF byte stuffing (B.1.1.5)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits (B.1.1.5)
        return bytes(self.buf)

    def restart(self, n: int) -> None:
        """Byte-align and emit RSTn (markers are never stuffed)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)
        self.buf += bytes([0xFF, 0xD0 + (n & 7)])


class _BitReader:
    """MSB-first reader over entropy-coded data: removes 0x00 stuffing
    after 0xFF, surfaces RSTn markers, stops at any other marker.

    Fast path: bits accumulate in a 32+-bit int; `peek16` exposes the
    next 16 bits for the one-step Huffman LUT, `consume(k)` drops k
    bits, `receive(n)` reads n magnitude bits in one mask — no per-bit
    Python loops anywhere. Past the real stream the peek pads with
    1-bits (the spec's pad value, B.1.1.5), and `exhausted_mid_block`
    flags when a block actually consumed virtual bits."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None  # set when a non-RST marker ends the scan
        self.virtual = 0  # pad bits consumed past the real stream

    def _fill(self) -> bool:
        d = self.data
        if self.pos >= len(d):
            return False
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                return False  # RST boundary: consumed by sync_restart
            else:
                self.marker = nxt
                return False
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8
        return True

    def _ensure(self, n: int) -> None:
        while self.nbits < n:
            if not self._fill():
                # pad with 1-bits; consuming them is an error the MCU
                # loop checks via `virtual` after each block
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                self.virtual += 8

    def peek16(self) -> int:
        self._ensure(16)
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def consume(self, k: int) -> None:
        self.nbits -= k

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        self._ensure(n)
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def decode_huff(self, table) -> int:
        sym, ln = table
        w = self.peek16()
        length = int(ln[w])
        if length == 0:
            raise ValueError("JPEG: invalid Huffman code (corrupt stream)")
        self.nbits -= length
        return int(sym[w])

    def check_real(self) -> None:
        """Raise if decoding consumed bits past the real stream
        (truncated entropy data)."""
        if self.virtual and self.nbits < self.virtual:
            raise ValueError("JPEG: entropy data exhausted mid-block")

    def sync_restart(self, n: int) -> None:
        """Consume the expected RSTn marker and realign to a byte."""
        self.acc = 0
        self.nbits = 0
        self.virtual = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                got = d[self.pos + 1] & 7
                if got != n & 7:
                    raise ValueError(
                        f"JPEG: restart marker out of order (RST{got}, "
                        f"expected RST{n & 7})"
                    )
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("JPEG: missing restart marker")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 sign extension of a `size`-bit magnitude."""
    if size and v < (1 << (size - 1)):
        return v - (1 << size) + 1
    return v


def _category(v: int) -> int:
    """Bit size of |v| (0 for 0) — the DC/AC symbol size field."""
    return int(abs(v)).bit_length()


# ---------------------------------------------------------------- encode
def _encode_blocks(
    plane: np.ndarray, qtbl: np.ndarray
) -> np.ndarray:
    """(n_by, n_bx, 64) zigzagged quantized coefficients of an 8-aligned
    uint8 plane — level shift, vectorized forward DCT, round."""
    h, w = plane.shape
    shifted = plane.astype(np.float64) - 128.0
    blocks = shifted.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3)
    dct = _C @ blocks @ _C.T
    q = np.round(dct / qtbl).astype(np.int64)
    return q[:, :, ZIGZAG // 8, ZIGZAG % 8]


def _huff_block(
    bw: _BitWriter, zz: np.ndarray, pred: int, dc_codes, ac_codes
) -> int:
    """Entropy-code one zigzag block; returns the new DC predictor.
    The AC pass walks only the NONZERO coefficient positions (numpy
    nonzero once per block; zero runs come from position gaps) —
    quantized blocks are overwhelmingly sparse, so this is the encode
    hot-path analog of the decoder's prefix-LUT."""
    dc = int(zz[0])
    diff = dc - pred
    s = _category(diff)
    code, ln = dc_codes[s]
    bw.put(code, ln)
    if s:
        bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    nz = np.nonzero(zz[1:])[0]
    prev = 0
    for idx in nz:
        k = int(idx) + 1
        run = k - prev - 1
        v = int(zz[k])
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_codes[(run << 4) | s]
        bw.put(code, ln)
        bw.put(v if v > 0 else v + (1 << s) - 1, s)
        prev = k
    if nz.size == 0 or int(nz[-1]) + 1 != 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.put(code, ln)
    return dc


def _pad_to_blocks(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Edge-replicate to multiples of (bh, bw) — T.81's recommended
    padding keeps edge-block coefficients tame."""
    h, w = plane.shape
    ph = (bh - h % bh) % bh
    pw = (bw - w % bw) % bw
    return np.pad(plane, ((0, ph), (0, pw)), mode="edge")


def _marker_segments(
    w: int, h: int, qtables, components, huff_specs
) -> bytes:
    """SOI + DQT + SOF0 + DHT headers (SOS appended by the caller)."""
    out = bytearray(b"\xff\xd8")  # SOI
    for tid, tbl in qtables:
        # DQT stores the 64 entries in zigzag scan order (B.2.4.1)
        body = bytes([tid]) + bytes(
            int(x) for x in tbl.reshape(64)[ZIGZAG]
        )
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(body)) + body
    sof = bytearray(struct.pack(">BHHB", 8, h, w, len(components)))
    for cid, hv, tq in components:
        sof += bytes([cid, hv, tq])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + bytes(sof)
    for tc_th, bits, vals in huff_specs:
        body = bytes([tc_th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    return bytes(out)


def encode_gray(
    img: np.ndarray, quality: int = 90, restart_interval: int = 0
) -> bytes:
    """8-bit grayscale baseline JPEG, deterministic bytes. A non-zero
    `restart_interval` writes DRI + RSTn markers every N MCUs (the
    resync feature long camera rows use) so the decoder's restart path
    has a fixture source without any external codec."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("JPEG: encode_gray needs a 2-D uint8 array")
    h, w = img.shape
    if h == 0 or w == 0:
        raise ValueError("JPEG: empty image")
    lq, _ = _quality_tables(quality)
    plane = _pad_to_blocks(img, 8, 8)
    zz = _encode_blocks(plane, lq)
    dc = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    bw = _BitWriter()
    pred = 0
    mcu = 0
    rst = 0
    for by in range(zz.shape[0]):
        for bx in range(zz.shape[1]):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.restart(rst)
                rst = (rst + 1) & 7
                pred = 0
            pred = _huff_block(bw, zz[by, bx], pred, dc, ac)
            mcu += 1
    head = _marker_segments(
        w, h, [(0, lq)], [(1, 0x11, 0)],
        [(0x00, DC_LUMA_BITS, DC_LUMA_VALS),
         (0x10, AC_LUMA_BITS, AC_LUMA_VALS)],
    )
    if restart_interval:
        head += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    return head + sos + bw.flush() + b"\xff\xd9"


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """JFIF full-range BT.601 forward transform, float64 (h, w, 3)."""
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=2)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    """JFIF full-range BT.601 inverse transform -> uint8 (h, w, 3)."""
    y = ycc[:, :, 0]
    cb = ycc[:, :, 1] - 128.0
    cr = ycc[:, :, 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(
        np.uint8
    )


def encode_rgb(
    img: np.ndarray, quality: int = 90, subsample: str = "444"
) -> bytes:
    """Color baseline JPEG from an (h, w, 3) uint8 RGB array.

    subsample='444' writes one block per component per MCU;
    subsample='420' box-filters chroma 2x2 (the web default) and
    '422' horizontally only (the broadcast-video convention) so every
    decoder sampling branch has an in-sandbox fixture source."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("JPEG: encode_rgb needs an (h, w, 3) uint8 array")
    if subsample not in ("444", "422", "420"):
        raise ValueError(
            f"JPEG: subsample must be '444', '422' or '420', got {subsample!r}"
        )
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("JPEG: empty image")
    lq, cq = _quality_tables(quality)
    ycc = rgb_to_ycbcr(img)
    y = np.clip(np.round(ycc[:, :, 0]), 0, 255).astype(np.uint8)
    cb = np.clip(np.round(ycc[:, :, 1]), 0, 255).astype(np.uint8)
    cr = np.clip(np.round(ycc[:, :, 2]), 0, 255).astype(np.uint8)
    if subsample == "420":
        ypad = _pad_to_blocks(y, 16, 16)
        # 2x2 box filter on the padded even grid
        def down(p):
            p = _pad_to_blocks(p, 16, 16).astype(np.float64)
            q = (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2]
                 + p[1::2, 1::2]) / 4.0
            return np.clip(np.round(q), 0, 255).astype(np.uint8)
        planes = [ypad, down(cb), down(cr)]
        hv = [(2, 2), (1, 1), (1, 1)]
    elif subsample == "422":
        ypad = _pad_to_blocks(y, 8, 16)
        # horizontal-pair box filter (chroma halved in x only)
        def down_h(p):
            p = _pad_to_blocks(p, 8, 16).astype(np.float64)
            q = (p[:, 0::2] + p[:, 1::2]) / 2.0
            return np.clip(np.round(q), 0, 255).astype(np.uint8)
        planes = [ypad, down_h(cb), down_h(cr)]
        hv = [(2, 1), (1, 1), (1, 1)]
    else:
        planes = [_pad_to_blocks(p, 8, 8) for p in (y, cb, cr)]
        hv = [(1, 1), (1, 1), (1, 1)]
    qsel = [0, 1, 1]
    zzs = [
        _encode_blocks(p, lq if qi == 0 else cq)
        for p, qi in zip(planes, qsel)
    ]
    dc_l = _canonical_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _canonical_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _canonical_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _canonical_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)
    codes = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
    hmax = max(x for x, _ in hv)
    vmax = max(v for _, v in hv)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    bw_ = _BitWriter()
    preds = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(3):
                ch, cv = hv[ci]
                for by in range(cv):
                    for bx in range(ch):
                        row = my * cv + by
                        col = mx * ch + bx
                        preds[ci] = _huff_block(
                            bw_, zzs[ci][row, col], preds[ci], *codes[ci]
                        )
    head = _marker_segments(
        w, h, [(0, lq), (1, cq)],
        [(1, (hv[0][0] << 4) | hv[0][1], 0),
         (2, (hv[1][0] << 4) | hv[1][1], 1),
         (3, (hv[2][0] << 4) | hv[2][1], 1)],
        [(0x00, DC_LUMA_BITS, DC_LUMA_VALS),
         (0x10, AC_LUMA_BITS, AC_LUMA_VALS),
         (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
         (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS)],
    )
    sos = b"\xff\xda" + struct.pack(">H", 12) + bytes(
        [3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]
    )
    return head + sos + bw_.flush() + b"\xff\xd9"


# ---------------------------------------------------------------- decode
def decode(data: bytes) -> np.ndarray:
    """Baseline JPEG bytes -> (h, w, channels) uint8 (1=gray, 3=RGB).

    Tables come from the file's own DQT/DHT segments; unsupported
    features (progressive SOF2, arithmetic coding, 12-bit precision,
    >2x sampling factors, 4 components) raise ValueError."""
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise ValueError("JPEG: bad SOI signature")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    scan = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"JPEG: expected marker at byte {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError(
                f"JPEG: truncated segment 0xFF{marker:02X} "
                f"({len(body)} of {seglen - 2} bytes)"
            )
        nxt = pos + 2 + seglen
        if marker == 0xDB:  # DQT — possibly several tables per segment
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                if pq == 0:
                    raw = np.frombuffer(body[i + 1 : i + 65], np.uint8)
                    i += 65
                else:  # 16-bit precision table
                    raw = np.frombuffer(
                        body[i + 1 : i + 129], ">u2"
                    ).astype(np.int64)
                    i += 129
                tbl = np.zeros(64, np.int64)
                tbl[ZIGZAG] = raw
                qtables[tq] = tbl.reshape(8, 8)
        elif marker == 0xC4:  # DHT — possibly several tables
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                if len(bits) < 16 or len(body) < i + 17 + n:
                    raise ValueError("JPEG: truncated DHT segment")
                vals = list(body[i + 17 : i + 17 + n])
                htables[(tc, th)] = _decode_table(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0/1: baseline + ext sequential
            prec, fh, fw, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError(f"JPEG: only 8-bit precision, got {prec}")
            if nc not in (1, 3):
                raise ValueError(f"JPEG: {nc} components unsupported")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (fw, fh, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"JPEG: non-baseline frame (marker 0xFF{marker:02X}) — "
                "only baseline/extended sequential DCT supported"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            sel = []
            for c in range(ns):
                cs, tables = body[1 + 2 * c], body[2 + 2 * c]
                sel.append((cs, tables >> 4, tables & 15))
            scan = (sel, pos + 2 + seglen)
            break
        # APPn / COM / others: skip
        pos = nxt
    if frame is None or scan is None:
        raise ValueError("JPEG: missing SOF0/SOS")
    fw, fh, comps = frame
    sel, entropy_pos = scan
    if len(sel) != len(comps):  # decoding it as interleaved would garble the pixels
        raise ValueError(f"JPEG: scan names {len(sel)} of {len(comps)} components; need one interleaved scan")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax > 2 or vmax > 2:
        raise ValueError("JPEG: sampling factors above 2 unsupported")
    mcux = (fw + 8 * hmax - 1) // (8 * hmax)
    mcuy = (fh + 8 * vmax - 1) // (8 * vmax)
    by_id = {c[0]: c for c in comps}
    order = []
    for cs, td, ta in sel:
        if cs not in by_id:
            raise ValueError(f"JPEG: scan names unknown component {cs}")
        cid, ch, cv, tq = by_id[cs]
        if tq not in qtables:
            raise ValueError(f"JPEG: missing quantization table {tq}")
        if (0, td) not in htables or (1, ta) not in htables:
            raise ValueError("JPEG: missing Huffman table for scan")
        order.append((cid, ch, cv, qtables[tq], htables[(0, td)],
                      htables[(1, ta)]))
    # per-component coefficient stores (block grid covers all MCUs)
    coef = {
        cid: np.zeros((mcuy * cv, mcux * ch, 64), np.int64)
        for cid, ch, cv, _, _, _ in order
    }
    br = _BitReader(data, entropy_pos)
    preds = {cid: 0 for cid, *_ in order}
    mcu_count = 0
    rst_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                br.sync_restart(rst_n)
                rst_n = (rst_n + 1) & 7
                preds = {cid: 0 for cid, *_ in order}
            for cid, ch, cv, _q, dct, act in order:
                store = coef[cid]
                for by in range(cv):
                    for bx in range(ch):
                        zz = store[my * cv + by, mx * ch + bx]
                        s = br.decode_huff(dct)
                        diff = _extend(br.receive(s), s) if s else 0
                        preds[cid] += diff
                        zz[0] = preds[cid]
                        k = 1
                        while k <= 63:
                            rs = br.decode_huff(act)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError(
                                    "JPEG: AC run past block end"
                                )
                            zz[k] = _extend(br.receive(s), s)
                            k += 1
            br.check_real()
            mcu_count += 1
    # dequantize + IDCT per component, vectorized over all blocks
    planes = {}
    for cid, ch, cv, qtbl, _d, _a in order:
        zz = coef[cid]
        nby, nbx = zz.shape[:2]
        blocks = np.zeros((nby, nbx, 8, 8), np.float64)
        blocks[:, :, ZIGZAG // 8, ZIGZAG % 8] = zz
        blocks *= qtbl
        pix = _C.T @ blocks @ _C + 128.0
        plane = pix.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        # upsample to full-frame resolution by pixel replication
        plane = np.repeat(
            np.repeat(plane, vmax // cv, axis=0), hmax // ch, axis=1
        )
        planes[cid] = plane[:fh, :fw]
    if len(order) == 1:
        gray = np.clip(np.round(planes[order[0][0]]), 0, 255).astype(
            np.uint8
        )
        return gray[:, :, None]
    ycc = np.stack([planes[c[0]] for c in order], axis=2)
    return ycbcr_to_rgb(ycc)
