"""functions/jpeg.py — from-spec baseline JPEG codec (ITU-T T.81).

Pins: roundtrip PSNR >= 40dB at quality 92 for gray/4:4:4/4:2:0,
deterministic bytes, odd (non-multiple-of-8/16) sizes, restart-marker
path bit-equivalence, DQT/DHT honored from the file, loud errors on
progressive / truncated / non-JPEG input, and PIL interop both ways
(skip-marked where Pillow is absent — the rest of the suite runs with
zero codec libraries).
"""

import numpy as np
import pytest

from osmium_tool_spark.functions import jpeg, png

try:
    import PIL  # noqa: F401

    HAS_PIL = True
except ImportError:
    HAS_PIL = False


def psnr(a, b):
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float("inf") if mse == 0 else 10 * np.log10(255.0**2 / mse)


def smooth_gray(h, w, seed=7):
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    return np.clip(
        120 + 60 * np.sin(xx / 9.0) + 40 * np.cos(yy / 7.0)
        + rng.normal(0, 2, (h, w)),
        0, 255,
    ).astype(np.uint8)


def smooth_rgb(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([
        np.clip(100 + 80 * np.sin(xx / 11.0), 0, 255),
        np.clip(140 + 50 * np.cos(yy / 8.0), 0, 255),
        np.clip(90 + 0.5 * xx + 0.8 * yy, 0, 255),
    ], axis=2).astype(np.uint8)


class TestRoundtrip:
    def test_gray_q92_psnr(self):
        img = smooth_gray(40, 56)
        out = jpeg.decode(jpeg.encode_gray(img, 92))
        assert out.shape == (40, 56, 1)
        assert psnr(img, out[:, :, 0]) >= 40.0

    def test_rgb_444_422_420(self):
        img = smooth_rgb(40, 56)
        for ss, floor in (("444", 44.0), ("422", 41.0), ("420", 40.0)):
            out = jpeg.decode(jpeg.encode_rgb(img, 92, subsample=ss))
            assert out.shape == (40, 56, 3)
            assert psnr(img, out) >= floor, ss

    def test_odd_sizes(self):
        # not multiples of 8 (gray) nor 16 (4:2:0) — edge padding crop
        for h, w in ((33, 41), (8, 8), (1, 1), (17, 100)):
            img = smooth_gray(h, w, seed=h * 100 + w)
            out = jpeg.decode(jpeg.encode_gray(img, 95))
            assert out.shape == (h, w, 1)
            assert psnr(img, out[:, :, 0]) >= 38.0, (h, w)
        rgb = smooth_rgb(33, 41)
        out = jpeg.decode(jpeg.encode_rgb(rgb, 92, subsample="420"))
        assert out.shape == (33, 41, 3)

    def test_deterministic_bytes(self):
        img = smooth_gray(24, 24)
        assert jpeg.encode_gray(img, 80) == jpeg.encode_gray(img, 80)
        rgb = smooth_rgb(24, 24)
        assert jpeg.encode_rgb(rgb, 80) == jpeg.encode_rgb(rgb, 80)

    def test_quality_monotone(self):
        img = smooth_gray(32, 32)
        p = [psnr(img, jpeg.decode(jpeg.encode_gray(img, q))[:, :, 0])
             for q in (10, 50, 95)]
        assert p[0] < p[1] < p[2]
        assert psnr(img, jpeg.decode(jpeg.encode_gray(img, 100))[:, :, 0]) > 50

    def test_flat_image_tiny_payload(self):
        img = np.full((16, 16), 77, np.uint8)
        b = jpeg.encode_gray(img, 90)
        out = jpeg.decode(b)
        assert psnr(img, out[:, :, 0]) == float("inf")
        assert len(b) < 400  # DC-only blocks entropy-code to near nothing


class TestRestartMarkers:
    def test_rst_path_pixel_identical(self):
        img = smooth_gray(48, 80)
        a = jpeg.decode(jpeg.encode_gray(img, 92))
        b_bytes = jpeg.encode_gray(img, 92, restart_interval=3)
        assert b"\xff\xdd" in b_bytes  # DRI segment present
        assert b"\xff\xd0" in b_bytes  # at least one RST0
        assert np.array_equal(a, jpeg.decode(b_bytes))

    def test_rst_interval_one(self):
        img = smooth_gray(24, 24)
        b = jpeg.encode_gray(img, 92, restart_interval=1)
        assert np.array_equal(
            jpeg.decode(b), jpeg.decode(jpeg.encode_gray(img, 92))
        )


class TestErrors:
    def test_bad_signature(self):
        with pytest.raises(ValueError, match="SOI"):
            jpeg.decode(b"\x89PNG\r\n\x1a\nnotjpeg")

    def test_progressive_rejected(self):
        # splice a SOF2 marker where SOF0 sits in a real stream
        b = bytearray(jpeg.encode_gray(smooth_gray(8, 8), 90))
        i = b.find(b"\xff\xc0")
        b[i + 1] = 0xC2
        with pytest.raises(ValueError, match="non-baseline"):
            jpeg.decode(bytes(b))

    def test_scan_with_fewer_components_rejected(self):
        # an SOS naming 1 of the frame's 3 components is a non-interleaved
        # scan layout; decoding it as interleaved would garble the pixels
        b = bytearray(jpeg.encode_rgb(smooth_rgb(16, 16), 90))
        i = b.find(b"\xff\xda")
        assert b[i + 4] == 3
        b[i + 4] = 1
        with pytest.raises(ValueError, match="scan names 1 of 3 components"):
            jpeg.decode(bytes(b))

    def test_truncated_entropy(self):
        b = jpeg.encode_gray(smooth_gray(32, 32), 90)
        with pytest.raises(ValueError):
            jpeg.decode(b[: len(b) // 2])

    def test_quality_range(self):
        with pytest.raises(ValueError, match="quality"):
            jpeg.encode_gray(smooth_gray(8, 8), 0)
        with pytest.raises(ValueError, match="quality"):
            jpeg.encode_gray(smooth_gray(8, 8), 101)

    def test_shape_validation(self):
        with pytest.raises(ValueError, match="2-D uint8"):
            jpeg.encode_gray(np.zeros((4, 4, 3), np.uint8))
        with pytest.raises(ValueError, match="uint8"):
            jpeg.encode_rgb(np.zeros((4, 4), np.uint8))
        with pytest.raises(ValueError, match="subsample"):
            jpeg.encode_rgb(np.zeros((4, 4, 3), np.uint8), subsample="411")


class TestTablesFromFile:
    def test_custom_qtable_is_used(self):
        """Decoder must dequantize with the FILE's DQT, not assumed
        constants: doubling the table in the stream must double the
        reconstructed AC amplitudes (approximately: same coefficients,
        different dequant scale)."""
        img = smooth_gray(16, 16)
        b = bytearray(jpeg.encode_gray(img, 50))
        out1 = jpeg.decode(bytes(b)).astype(np.float64)
        i = b.find(b"\xff\xdb")
        # DQT body: len(2) + id(1) + 64 zigzag bytes
        start = i + 5
        orig = bytes(b[start : start + 64])
        b[start : start + 64] = bytes(min(255, x * 2) for x in orig)
        out2 = jpeg.decode(bytes(b)).astype(np.float64)
        # scaled dequant must move pixels (same entropy data)
        assert np.abs(out1 - out2).max() > 4

    def test_luma_helper_contract(self):
        g = jpeg.decode(jpeg.encode_gray(smooth_gray(8, 8), 90))
        assert png.luma(g).shape == (8, 8)
        c = jpeg.decode(jpeg.encode_rgb(smooth_rgb(8, 8), 90))
        assert png.luma(c).shape == (8, 8)


@pytest.mark.skipif(not HAS_PIL, reason="Pillow not installed")
class TestPILInterop:
    def test_decode_pil_encoded(self):
        import io

        from PIL import Image

        img = smooth_gray(40, 56)
        for q in (75, 92):
            buf = io.BytesIO()
            Image.fromarray(img, mode="L").save(buf, format="JPEG", quality=q)
            out = jpeg.decode(buf.getvalue())
            assert out.shape[:2] == (40, 56)
            assert psnr(img, out[:, :, 0]) >= 35.0, q
        rgb = smooth_rgb(40, 56)
        buf = io.BytesIO()
        Image.fromarray(rgb).save(buf, format="JPEG", quality=92)
        out = jpeg.decode(buf.getvalue())
        assert psnr(rgb, out) >= 35.0

    def test_pil_decodes_ours(self):
        import io

        from PIL import Image

        img = smooth_gray(40, 56)
        pil = np.asarray(
            Image.open(io.BytesIO(jpeg.encode_gray(img, 92))).convert("L")
        )
        assert psnr(img, pil) >= 40.0
        rgb = smooth_rgb(40, 56)
        for ss in ("444", "422", "420"):
            pil = np.asarray(
                Image.open(io.BytesIO(jpeg.encode_rgb(rgb, 92, subsample=ss)))
            )
            assert psnr(rgb, pil) >= 38.0, ss
