"""Optional-codec paths: lz4/zstd PBF blobs and the Pillow branch of
the image decode dispatch (sources/images.any_decode_fns). Without
those libraries the positive tests skip-mark cleanly and the
ALWAYS-run tests pin the loud-error contract (silent empty reads /
silent stub fallbacks are the failure mode these guard against)."""

import struct

import pytest

from osmium_tool_spark.sources.pbf import decompress_blob

HAS_LZ4 = True
try:
    import lz4.block  # noqa: F401
except ImportError:
    HAS_LZ4 = False
HAS_ZSTD = True
try:
    import zstandard  # noqa: F401
except ImportError:
    HAS_ZSTD = False
HAS_PIL = True
try:
    import PIL  # noqa: F401
except ImportError:
    HAS_PIL = False


def _varint(v):
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _blob(data_tag, payload, raw_size=None):
    msg = b""
    if raw_size is not None:
        msg += _varint((2 << 3) | 0) + _varint(raw_size)
    msg += _varint((data_tag << 3) | 2) + _varint(len(payload)) + payload
    return msg


class TestBlobCodecErrors:
    def test_zlib_still_decodes(self):
        import zlib

        assert decompress_blob(_blob(3, zlib.compress(b"abc"), 3)) == b"abc"

    def test_lzma_bzip2_still_decode(self):
        import bz2
        import lzma

        assert decompress_blob(_blob(4, lzma.compress(b"xy"), 2)) == b"xy"
        assert decompress_blob(_blob(5, bz2.compress(b"xy"), 2)) == b"xy"

    @pytest.mark.skipif(HAS_LZ4, reason="lz4 installed: loud error N/A")
    def test_lz4_missing_is_loud(self):
        with pytest.raises(ValueError, match="lz4"):
            decompress_blob(_blob(6, b"\x00\x00\x00\x00", 4))

    @pytest.mark.skipif(HAS_ZSTD, reason="zstandard installed: loud error N/A")
    def test_zstd_missing_is_loud(self):
        with pytest.raises(ValueError, match="zstandard"):
            decompress_blob(_blob(7, b"\x00\x00\x00\x00", 4))

    def test_no_data_field_is_loud(self):
        with pytest.raises(ValueError, match="no data field"):
            decompress_blob(_varint((2 << 3) | 0) + _varint(4))


@pytest.mark.skipif(not HAS_LZ4, reason="lz4 not installed")
class TestLz4Blob:
    def test_lz4_roundtrip(self):
        import lz4.block

        raw = b"DenseNodes payload bytes" * 100
        assert decompress_blob(
            _blob(6, lz4.block.compress(raw, store_size=False), len(raw))
        ) == raw

    def test_lz4_recompressed_fixture(self, spark, tmp_path):
        # recompress every blob of the f1 fixture with lz4, re-read,
        # expect identical entity frame (mirror of the lzma/bzip2 golden)
        import lz4.block

        from osmium_tool_spark.sources.pbf import read_osm_pbf

        src = "/root/reference/test/formats/f1.osm.pbf"
        out = tmp_path / "f1.lz4.osm.pbf"
        _recompress(src, str(out),
                    lambda raw: (6, lz4.block.compress(raw, store_size=False)))
        a = read_osm_pbf(spark, src).collect()
        b = read_osm_pbf(spark, str(out)).collect()
        assert sorted(map(str, a)) == sorted(map(str, b))


@pytest.mark.skipif(not HAS_ZSTD, reason="zstandard not installed")
class TestZstdBlob:
    def test_zstd_roundtrip(self):
        import zstandard

        raw = b"payload" * 500
        comp = zstandard.ZstdCompressor().compress(raw)
        assert decompress_blob(_blob(7, comp, len(raw))) == raw


def _recompress(src, dst, codec):
    """Rewrite a framed PBF file, recoding every OSMData blob payload."""
    from osmium_tool_spark.functions.protowire import fields
    from osmium_tool_spark.sources.pbf import decompress_blob

    with open(src, "rb") as f, open(dst, "wb") as g:
        while True:
            lenb = f.read(4)
            if len(lenb) < 4:
                break
            (hlen,) = struct.unpack(">I", lenb)
            header = f.read(hlen)
            htype, dlen = None, 0
            for tag, _wt, val in fields(header):
                if tag == 1:
                    htype = val
                elif tag == 3:
                    dlen = val
            blob = f.read(dlen)
            if htype != b"OSMData":
                g.write(lenb + header + blob)
                continue
            raw = decompress_blob(blob)
            data_tag, payload = codec(raw)
            newblob = (_varint((2 << 3) | 0) + _varint(len(raw))
                       + _varint((data_tag << 3) | 2)
                       + _varint(len(payload)) + payload)
            newheader = (_varint((1 << 3) | 2) + _varint(len(b"OSMData"))
                         + b"OSMData"
                         + _varint((3 << 3) | 0) + _varint(len(newblob)))
            g.write(struct.pack(">I", len(newheader)) + newheader + newblob)


def test_zstd_data_blobs_on_executors(spark, tmp_path):
    """OSMData blobs recoded as zstd (tag 7) decode on the executors
    through the same decompress_blob as the driver: with `zstandard`
    they read back unchanged, without it the error names the package.
    Only the data blobs are recoded; the driver reads the header."""
    from osmium_tool_spark.sinks.pbf import write_osm_pbf
    from tests.fixtures import _df, _node, _way
    from osmium_tool_spark.sources.pbf import read_osm_pbf

    ts = 1_420_074_000_000_000
    src, dst = str(tmp_path / "z.osm.pbf"), str(tmp_path / "z-zstd.osm.pbf")
    write_osm_pbf(_df(spark, [_node(1, 1.0, 2.0, {"a": "b"}, ts=ts),
                              _way(2, [1, 1], ts=ts)]), src)
    if HAS_ZSTD:
        import zstandard

        _recompress(src, dst, lambda raw: (7, zstandard.ZstdCompressor().compress(raw)))
        got = sorted(map(str, read_osm_pbf(spark, dst).collect()))
        assert got == sorted(map(str, read_osm_pbf(spark, src).collect()))
    else:
        _recompress(src, dst, lambda raw: (7, raw))
        with pytest.raises(Exception, match="zstandard"):
            read_osm_pbf(spark, dst).collect()


class TestDecodeRealContract:
    """The real (non-stub) decode stages over the magic-byte dispatch."""

    @pytest.mark.skipif(HAS_PIL, reason="PIL installed: loud error N/A")
    def test_non_codec_payload_is_loud_without_pil(self, spark):
        """Payloads that are neither PNG nor JPEG fail loud at execution
        time when Pillow is absent (synth_images bytes are hex text)."""
        from osmium_tool_spark.sources.images import decode_codec_meta, synth_images

        with pytest.raises(Exception, match="neither PNG nor baseline"):
            decode_codec_meta(synth_images(spark, 4)).collect()

    def test_from_spec_jpeg_decode(self, spark):
        """Baseline-JPEG payloads decode through functions/jpeg.py
        whether or not Pillow is installed."""
        import numpy as np

        from osmium_tool_spark.functions import jpeg as _jpeg
        from osmium_tool_spark.sources.images import decode_codec_meta

        rows = []
        for i in range(4):
            img = ((np.arange(16)[:, None] * 9 + np.arange(24)[None, :] * 5
                    + i * 31) % 256).astype(np.uint8)
            rows.append((f"img{i}", _jpeg.encode_gray(img, 92), 24, 16,
                         "jpeg", f"cap{i}", i))
        df = spark.createDataFrame(
            rows, "image_id string, bytes binary, w int, h int, fmt string,"
                  " caption string, phash long")
        got = {r["image_id"]: r for r in decode_codec_meta(df).collect()}
        assert len(got) == 4
        assert all(r["w"] == 24 and r["h"] == 16 and r["fmt"] == "jpeg"
                   for r in got.values())
        assert all(0.0 < r["mean_luma"] < 255.0 for r in got.values())

    def test_psnr_invariant_from_spec_jpeg(self, spark):
        """ALWAYS-RUN twin of the PIL PSNR test (r5): PNG original vs
        from-spec quality-92 JPEG re-encode passes the PSNR>=40dB
        invariant; a quality-2 re-encode violates it. Real lossy
        pixels end-to-end with zero codec libraries."""
        import numpy as np

        from osmium_tool_spark.functions import jpeg as _jpeg
        from osmium_tool_spark.functions import png as _png
        from osmium_tool_spark.operators.invariants import (
            pixel_invariant_violations,
        )
        from osmium_tool_spark.sources.images import decode_codec_pixels

        rng = np.random.default_rng(11)
        rows_a, rows_b, rows_bad = [], [], []
        for i in range(4):
            base = np.linspace(0, 200, 16 * 16).reshape(16, 16)
            arr = (base + rng.normal(0, 3, (16, 16))).clip(0, 255).astype(
                np.uint8)
            rows_a.append((f"i{i}", _png.encode_gray(arr), "jpeg", f"c{i}"))
            rows_b.append((f"i{i}", _jpeg.encode_gray(arr, 92), "jpeg",
                           f"c{i}"))
            rows_bad.append((f"i{i}", _jpeg.encode_gray(arr, 2), "jpeg",
                             f"c{i}"))
        ddl = "image_id string, bytes binary, fmt string, caption string"
        A = spark.createDataFrame(rows_a, ddl)
        B = spark.createDataFrame(rows_b, ddl)
        BAD = spark.createDataFrame(rows_bad, ddl)

        def with_meta(df, pix):
            return pix.join(df.select("image_id", "fmt", "caption"),
                            "image_id")

        good = pixel_invariant_violations(
            with_meta(A, decode_codec_pixels(A)),
            with_meta(B, decode_codec_pixels(B)))
        assert good.count() == 0
        bad = pixel_invariant_violations(
            with_meta(A, decode_codec_pixels(A)),
            with_meta(BAD, decode_codec_pixels(BAD)))
        assert bad.filter("reason = 'psnr_below_threshold'").count() == 4

    @pytest.mark.skipif(not HAS_PIL, reason="Pillow not installed")
    def test_pillow_branch_decodes_bmp(self, spark):
        """Formats outside PNG/JPEG reach the Pillow branch: BMP rows
        decode to the pixels they were written from."""
        import io

        import numpy as np
        from PIL import Image

        from osmium_tool_spark.functions import png as _png
        from osmium_tool_spark.sources.images import decode_codec_meta

        rows, want = [], {}
        rng = np.random.default_rng(7)
        for i in range(6):
            arr = rng.integers(0, 256, size=(8, 12, 3), dtype=np.uint8)
            buf = io.BytesIO()
            Image.fromarray(arr).save(buf, format="BMP")
            rows.append((f"img{i}", buf.getvalue()))
            want[f"img{i}"] = float(_png.luma(arr).mean())
        df = spark.createDataFrame(rows, "image_id string, bytes binary")
        got = {r["image_id"]: r for r in decode_codec_meta(df).collect()}
        assert len(got) == 6
        assert all((r["w"], r["h"], r["fmt"]) == (12, 8, "bmp")
                   for r in got.values())
        assert all(got[k]["mean_luma"] == v for k, v in want.items())

    @pytest.mark.skipif(not HAS_PIL, reason="Pillow not installed")
    def test_psnr_invariant_real_jpeg(self, spark):
        """The PSNR>=40dB invariant over REAL codec bytes: PNG original
        vs quality-92 JPEG re-encode must pass; a heavily corrupted
        re-encode must violate."""
        import io

        import numpy as np
        from PIL import Image

        from osmium_tool_spark.operators.invariants import (
            pixel_invariant_violations,
        )
        from osmium_tool_spark.sources.images import decode_codec_pixels

        rng = np.random.default_rng(11)
        rows_a, rows_b, rows_bad = [], [], []
        for i in range(4):
            # smooth gradient + mild noise: JPEG-friendly content
            base = np.linspace(0, 200, 16 * 16).reshape(16, 16)
            arr = (base + rng.normal(0, 3, (16, 16))).clip(0, 255).astype(
                np.uint8)
            img = Image.fromarray(arr, mode="L")
            pa, pb, pc = io.BytesIO(), io.BytesIO(), io.BytesIO()
            img.save(pa, format="PNG")
            img.save(pb, format="JPEG", quality=92)
            img.save(pc, format="JPEG", quality=2)
            rows_a.append((f"i{i}", pa.getvalue(), "jpeg", f"c{i}"))
            rows_b.append((f"i{i}", pb.getvalue(), "jpeg", f"c{i}"))
            rows_bad.append((f"i{i}", pc.getvalue(), "jpeg", f"c{i}"))
        ddl = "image_id string, bytes binary, fmt string, caption string"
        A = spark.createDataFrame(rows_a, ddl)
        B = spark.createDataFrame(rows_b, ddl)
        BAD = spark.createDataFrame(rows_bad, ddl)

        def with_meta(df, pix):
            return pix.join(df.select("image_id", "fmt", "caption"),
                            "image_id")

        pa = with_meta(A, decode_codec_pixels(A))
        pb = with_meta(B, decode_codec_pixels(B))
        pbad = with_meta(BAD, decode_codec_pixels(BAD))
        assert pixel_invariant_violations(pa, pb).count() == 0
        assert pixel_invariant_violations(pa, pbad).count() > 0
