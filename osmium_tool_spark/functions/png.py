"""From-spec PNG codec: stdlib zlib + numpy, no image library.

Written from the published PNG specification (RFC 2083 / ISO 15948):
chunk walk with CRC verification, zlib inflate, scanline unfiltering
(all five filter types — None/Sub/Up/Average/Paeth), 8-bit samples,
non-interlaced, color types 0 (gray), 2 (RGB), 3 (palette), 4
(gray+alpha), 6 (RGBA). That subset covers everything the engine's
tile renderer emits plus the overwhelming majority of web map/chart
PNGs; anything else (16-bit, interlaced, sub-byte depths) fails LOUD.

This makes PNG a REAL codec path in the multimodal pipeline with no
image library (`sources/images.any_decode_fns` routes PNG payloads
here, baseline JPEG to `functions/jpeg.py`, and only other formats to
Pillow), so the PSNR invariant chain runs against genuinely decoded
pixels; `luma` serves both codecs. The encoder
is the same construction `tiles.render_density_tiles` inlines in its
executor kernel (nested there so executors need no repo path; kept
byte-identical — tests pin encode/decode parity between the two).

Scale note: decode cost is per-image and rides mapInPandas Arrow
batches; the sequential-left unfilter loop (Sub/Average/Paeth) is
O(w·h) python-per-row only for rows that USE those filters — the
engine's own tiles are filter-0 throughout and unfilter as one
memcpy-shaped slice.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

SIGNATURE = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel (before palette expansion)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def encode_gray(img: np.ndarray, level: int = 9) -> bytes:
    """8-bit grayscale PNG (filter 0 scanlines), deterministic bytes."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_gray: need a 2-D uint8 array")
    h, w = img.shape
    raw = np.concatenate([np.zeros((h, 1), np.uint8), img], axis=1).tobytes()

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, level))
        + chunk(b"IEND", b"")
    )


def encode_rgb(img: np.ndarray, level: int = 9) -> bytes:
    """8-bit RGB PNG (color type 2, filter 0 scanlines), deterministic
    bytes — the color sibling of encode_gray (r5, for the real resize
    path over color JPEG decodes)."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_rgb: need an (h, w, 3) uint8 array")
    h, w = img.shape[:2]
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), img.reshape(h, w * 3)], axis=1
    ).tobytes()

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, level))
        + chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, w: int, h: int, bpp: int) -> np.ndarray:
    """Reverse per-scanline filtering -> (h, w*bpp) uint8 sample grid."""
    stride = w * bpp
    rows = np.frombuffer(raw, np.uint8)
    if rows.size != h * (stride + 1):
        raise ValueError(
            f"PNG: IDAT carries {rows.size} bytes, expected {h * (stride + 1)}"
        )
    rows = rows.reshape(h, stride + 1)
    out = np.zeros((h, stride), np.int32)
    for r in range(h):
        ftype = int(rows[r, 0])
        line = rows[r, 1:].astype(np.int32)
        prev = out[r - 1] if r > 0 else np.zeros(stride, np.int32)
        if ftype == 0:  # None
            out[r] = line
        elif ftype == 1:  # Sub: recon[x] = filt[x] + recon[x-bpp]
            # per-channel cumulative sum mod 256 — vectorized, no x loop
            out[r] = (
                np.cumsum(line.reshape(w, bpp), axis=0, dtype=np.int64)
                .reshape(stride) % 256
            )
        elif ftype == 2:  # Up
            out[r] = (line + prev) % 256
        elif ftype == 3:  # Average (left dependency -> sequential in x)
            cur = out[r]
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (line[x] + (left + prev[x]) // 2) % 256
        elif ftype == 4:  # Paeth (left dependency -> sequential in x)
            cur = out[r]
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                c = prev[x - bpp] if x >= bpp else 0
                cur[x] = (line[x] + _paeth(int(a), int(prev[x]), int(c))) % 256
        else:
            raise ValueError(f"PNG: unknown filter type {ftype} on row {r}")
    return out.astype(np.uint8)


def decode(data: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, channels) uint8 (palette expanded to RGB).

    Verifies the signature and every chunk CRC; raises ValueError on
    any unsupported feature (16-bit, interlace, sub-byte depth) — wrong
    pixels are worse than a loud error.
    """
    if data[:8] != SIGNATURE:
        raise ValueError("PNG: bad signature")
    pos, idat, plte = 8, [], None
    w = h = depth = color = interlace = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if crc != zlib.crc32(typ + body):
            raise ValueError(f"PNG: CRC mismatch on {typ!r}")
        if typ == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if comp != 0 or filt != 0:
                raise ValueError("PNG: unknown compression/filter method")
        elif typ == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(body)
        elif typ == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("PNG: missing IHDR")
    if depth != 8:
        raise ValueError(f"PNG: only 8-bit depth supported, got {depth}")
    if interlace != 0:
        raise ValueError("PNG: interlaced images not supported")
    if color not in _CHANNELS:
        raise ValueError(f"PNG: unsupported color type {color}")
    bpp = _CHANNELS[color]
    samples = _unfilter(zlib.decompress(b"".join(idat)), w, h, bpp)
    img = samples.reshape(h, w, bpp)
    if color == 3:
        if plte is None:
            raise ValueError("PNG: palette image without PLTE")
        img = plte[img[:, :, 0]]
    return img


def luma(img: np.ndarray) -> np.ndarray:
    """Rec.601 luma as float64 (gray images pass through; alpha dropped)."""
    c = img.shape[2]
    if c in (1, 2):
        return img[:, :, 0].astype(np.float64)
    rgb = img[:, :, :3].astype(np.float64)
    return 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
