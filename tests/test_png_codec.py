"""From-spec PNG codec (functions/png.py) and the real decode stages
(sources/images.decode_codec_meta / decode_codec_pixels).

The filter-type tests build filtered scanlines with an INDEPENDENT
per-spec reference implementation written here, so the decoder's
unfilter math is pinned against the spec, not against itself.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.functions import png


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", zlib.crc32(typ + data))
    )


def _build_png(img: np.ndarray, color: int, filters, plte: bytes = b"") -> bytes:
    """Assemble a PNG with chosen per-row filter types, filtering each
    scanline per the spec (reference implementation independent of the
    decoder)."""
    h, w, c = img.shape
    raw = bytearray()
    recon = img.reshape(h, w * c).astype(np.int32)
    for r in range(h):
        f = filters[r % len(filters)]
        raw.append(f)
        prev = recon[r - 1] if r > 0 else np.zeros(w * c, np.int32)
        for x in range(w * c):
            cur = int(recon[r, x])
            left = int(recon[r, x - c]) if x >= c else 0
            up = int(prev[x])
            ul = int(prev[x - c]) if x >= c else 0
            if f == 0:
                v = cur
            elif f == 1:
                v = cur - left
            elif f == 2:
                v = cur - up
            elif f == 3:
                v = cur - (left + up) // 2
            else:  # Paeth
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                v = cur - pred
            raw.append(v % 256)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    out = png.SIGNATURE + _chunk(b"IHDR", ihdr)
    if plte:
        out += _chunk(b"PLTE", plte)
    return out + _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b"")


def _rng_img(h, w, c, seed):
    return (
        np.random.default_rng(seed).integers(0, 256, (h, w, c)).astype(np.uint8)
    )


def test_encode_decode_roundtrip_gray():
    for seed, (h, w) in enumerate([(1, 1), (5, 9), (32, 32), (17, 64)]):
        img = _rng_img(h, w, 1, seed)[:, :, 0]
        back = png.decode(png.encode_gray(img))
        assert back.shape == (h, w, 1)
        assert (back[:, :, 0] == img).all()


@pytest.mark.parametrize("filters", [[1], [2], [3], [4], [0, 1, 2, 3, 4]])
@pytest.mark.parametrize("color,c", [(0, 1), (2, 3), (4, 2), (6, 4)])
def test_all_filters_all_colors(filters, color, c):
    img = _rng_img(13, 11, c, 7 * color + filters[0])
    back = png.decode(_build_png(img, color, filters))
    assert (back == img).all()


def test_palette_expansion():
    idx = _rng_img(6, 8, 1, 42)
    idx %= 4
    plte = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 200, 210, 220])
    back = png.decode(_build_png(idx, 3, [0, 1], plte=plte))
    pal = np.frombuffer(plte, np.uint8).reshape(4, 3)
    assert (back == pal[idx[:, :, 0]]).all()


def test_loud_failures():
    img = _rng_img(4, 4, 1, 0)
    good = _build_png(img, 0, [0])
    bad = bytearray(good)
    bad[40] ^= 0xFF  # corrupt inside IDAT body -> CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        png.decode(bytes(bad))
    with pytest.raises(ValueError, match="signature"):
        png.decode(b"JFIF" + good)
    # 16-bit depth
    ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 0, 0, 0, 0)
    deep = png.SIGNATURE + _chunk(b"IHDR", ihdr) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="8-bit"):
        png.decode(deep)
    # interlaced
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1)
    inter = png.SIGNATURE + _chunk(b"IHDR", ihdr) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="interlaced"):
        png.decode(inter)


def test_luma_rec601():
    img = np.zeros((1, 2, 3), np.uint8)
    img[0, 0] = (255, 0, 0)
    img[0, 1] = (0, 255, 0)
    lm = png.luma(img)
    assert abs(lm[0, 0] - 0.299 * 255) < 1e-9
    assert abs(lm[0, 1] - 0.587 * 255) < 1e-9


def test_decode_codec_meta_spark(spark):
    # gray PNG (rendered tiles), RGB PNG and baseline-JPEG rows through
    # the Arrow-batched decode stage, checked against the codecs
    # called directly in the driver
    from osmium_tool_spark.functions import jpeg
    from osmium_tool_spark.operators.tiles import render_density_tiles
    from osmium_tool_spark.sources.images import decode_codec_meta

    pts = spark.range(300).select(
        ((F.col("id") * 2654435761) % 3_600_000_000 - 1_800_000_000).alias("lon"),
        ((F.col("id") * 2246822519) % 1_800_000_000 - 900_000_000).alias("lat"),
    )
    tiles = render_density_tiles(pts, res=6, tile_shift=3)
    rows = [
        (r.image_id, bytes(r.bytes))
        for r in tiles.select(
            F.concat_ws("_", "tile_ix", "tile_iy").alias("image_id"),
            F.col("png").alias("bytes"),
        ).collect()
    ]
    rgb = _rng_img(9, 13, 3, 1)
    gray = _rng_img(16, 24, 1, 2)[:, :, 0]
    rows += [
        ("rgb_png", png.encode_rgb(rgb)),
        ("gray_jpeg", jpeg.encode_gray(gray, 90)),
        ("rgb_jpeg", jpeg.encode_rgb(rgb, 90)),
    ]
    imgs = spark.createDataFrame(rows, "image_id string, bytes binary")
    meta = {r.image_id: r for r in decode_codec_meta(imgs).collect()}
    assert len(meta) == len(rows) == tiles.count() + 3
    for iid, payload in rows:
        fmt = "jpeg" if iid.endswith("_jpeg") else "png"
        img = (jpeg if fmt == "jpeg" else png).decode(payload)
        r = meta[iid]
        assert (r.w, r.h, r.fmt, r.n_bytes) == (img.shape[1], img.shape[0], fmt, len(payload))
        assert r.mean_luma == png.luma(img).mean()
    assert (meta["rgb_png"].w, meta["rgb_jpeg"].h, meta["gray_jpeg"].w) == (13, 9, 24)


def test_psnr_invariant_on_real_pixels(spark):
    # lossless re-encode of REAL decoded pixels -> zero violations;
    # a tampered pixel -> exactly one violation.
    from osmium_tool_spark.operators.invariants import pixel_invariant_violations
    from osmium_tool_spark.sources.images import decode_codec_pixels

    rng = np.random.default_rng(3)
    payloads = [
        ("a", png.encode_gray(rng.integers(0, 256, (8, 8)).astype(np.uint8))),
        ("b", png.encode_gray(rng.integers(0, 256, (8, 8)).astype(np.uint8))),
    ]
    imgs = spark.createDataFrame(payloads, "image_id string, bytes binary")
    before = decode_codec_pixels(imgs).withColumn("fmt", F.lit("png")).withColumn(
        "caption", F.col("image_id")
    )
    # re-encode the decoded pixels and decode again (lossless loop)
    redec = []
    for iid, data in payloads:
        img = png.decode(data)[:, :, 0]
        redec.append((iid, png.encode_gray(img)))
    after = decode_codec_pixels(
        spark.createDataFrame(redec, "image_id string, bytes binary")
    ).withColumn("caption", F.col("image_id"))
    assert pixel_invariant_violations(before, after).count() == 0

    # tamper one pixel of 'b'
    img_b = png.decode(dict(payloads)["b"])[:, :, 0].copy()
    img_b[0, 0] ^= 0x40
    tampered = [(iid, d) for iid, d in redec if iid == "a"] + [
        ("b", png.encode_gray(img_b))
    ]
    after2 = decode_codec_pixels(
        spark.createDataFrame(tampered, "image_id string, bytes binary")
    ).withColumn("caption", F.col("image_id"))
    bad = pixel_invariant_violations(before, after2).collect()
    assert [v.image_id for v in bad] == ["b"]


def test_encode_rgb_roundtrip():
    """r5: color-type-2 encoder (the color sibling of encode_gray) —
    decode returns the identical array; deterministic bytes."""
    import numpy as np

    from osmium_tool_spark.functions import png

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8)
    b = png.encode_rgb(img)
    assert b == png.encode_rgb(img)
    assert np.array_equal(png.decode(b), img)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="encode_rgb"):
        png.encode_rgb(img[:, :, 0])
