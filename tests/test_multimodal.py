"""Multimodal payload stages: resize / frame-sample / feature-extract.

Plumbing is real (Arrow batches over the binary column, pure-Column
frame index math); the codec kernels are deterministic fakes — these
tests pin the deterministic contracts and the stage chaining into the
ANN operators."""

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.operators.multimodal import (
    extract_features,
    resize_images,
    sample_frames,
)
from osmium_tool_spark.sources.images import synth_images_from_documents

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def imgs(spark):
    df = synth_images_from_documents(spark, SF).cache()
    df.count()
    return df


def test_resize_clamps_long_side_preserving_aspect(imgs):
    out = resize_images(imgs, max_side=128)
    rows = out.join(
        imgs.select("image_id", F.col("w").alias("w0"), F.col("h").alias("h0")),
        on="image_id",
    ).collect()
    assert rows
    for r in rows:
        assert max(r.w, r.h) <= 128
        if max(r.w0, r.h0) <= 128:
            assert (r.w, r.h) == (r.w0, r.h0)  # no upscaling
        else:
            long0 = max(r.w0, r.h0)
            assert r.w == max(1, r.w0 * 128 // long0) or r.w == int(r.w0 * 128 / long0)
        assert r.bytes is not None and len(r.bytes) >= 1


def test_resize_byte_budget_shrinks_with_pixels(imgs):
    big = resize_images(imgs, max_side=512)
    small = resize_images(imgs, max_side=64)
    nb = {r.image_id: len(r.bytes) for r in big.collect()}
    ns = {r.image_id: len(r.bytes) for r in small.collect()}
    assert all(ns[k] <= nb[k] for k in ns)


def test_sample_frames_pure_column_and_stride(imgs):
    out = sample_frames(imgs, every_n=7)
    # zero Python in the plan: no Arrow/Python eval nodes
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    rows = out.collect()
    by_img: dict = {}
    for r in rows:
        by_img.setdefault(r.image_id, []).append(r)
    for rs in by_img.values():
        idxs = sorted(r.frame_idx for r in rs)
        n = rs[0].n_frames
        assert idxs == list(range(0, n, 7))
        for r in rs:
            assert 0 <= r.byte_off


def test_sample_frames_rejects_bad_stride(imgs):
    with pytest.raises(ValueError):
        sample_frames(imgs, every_n=0)


def test_extract_features_chains_into_ann(imgs):
    from osmium_tool_spark.operators.similarity import ann_topk

    emb = extract_features(imgs, dim=16).withColumn(
        "vec_id", F.expr("CAST(substring(image_id, 4) AS LONG)")
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    out = ann_topk(emb, queries, k=3)
    got = out.collect()
    assert got and all(r.rank <= 3 for r in got)
    # deterministic embeddings: same phash -> identical vector
    v = {r.image_id: r.embedding for r in emb.limit(5).collect()}
    v2 = {r.image_id: r.embedding for r in extract_features(imgs, dim=16).limit(5).collect()}
    for k in v:
        if k in v2:
            assert v[k] == v2[k]


class TestCropImages:
    def _imgs(self, spark, n=8, w=24, h=20):
        from osmium_tool_spark.sources.images import encode_pattern_png_images

        base = spark.createDataFrame(
            [(i, (i * 37) % 256, w, h) for i in range(n)],
            "image_id long, val int, w int, h int")
        return encode_pattern_png_images(base)

    def test_params_match_augment_crops(self, spark):
        from osmium_tool_spark.operators.multimodal import (
            augment_crops, crop_images)

        imgs = self._imgs(spark)
        got = {r.image_id: (r.crop_x, r.crop_y, r.w, r.h, r.flip)
               for r in crop_images(imgs, epoch=5).collect()}
        want = {r.image_id: (r.crop_x, r.crop_y, r.crop_w, r.crop_h, r.flip)
                for r in augment_crops(
                    imgs.select("image_id", "w", "h"), epoch=5).collect()}
        assert got == want

    def test_degenerate_dims_fail_loud(self, spark):
        """r5 ADVICE pin: w=0 (or h=0) used to make the position
        modulus `draw % 0` -> silent NULL crop rect in non-ANSI mode;
        the draws now assert in-plan instead."""
        import pytest as _pytest

        from osmium_tool_spark.operators.multimodal import augment_crops

        bad = spark.createDataFrame(
            [(1, 0, 20), (2, 24, 20)], "image_id long, w int, h int")
        with _pytest.raises(Exception, match="degenerate image dims"):
            augment_crops(bad, epoch=1).collect()
        ok = spark.createDataFrame(
            [(2, 24, 20)], "image_id long, w int, h int")
        rows = augment_crops(ok, epoch=1).collect()
        assert len(rows) == 1 and rows[0].crop_x is not None

    def test_pixels_exact(self, spark):
        import numpy as np

        from osmium_tool_spark.functions import png as P
        from osmium_tool_spark.operators.multimodal import crop_images

        for r in crop_images(self._imgs(spark), epoch=3).collect():
            img = P.decode(bytes(r.bytes))
            img = img[:, :, 0] if img.ndim == 3 else img
            val = (r.image_id * 37) % 256
            exp = np.array(
                [[(val * 31 + x * 7 + y * 13) % 256 for x in range(24)]
                 for y in range(20)], dtype=np.uint8)
            sub = exp[r.crop_y:r.crop_y + r.h, r.crop_x:r.crop_x + r.w]
            if r.flip:
                sub = np.fliplr(sub)
            assert img.shape == (r.h, r.w)
            assert np.array_equal(img, sub)

    def test_checksums_flip_sensitive(self, spark):
        """px_sum invariant under mirror; px_wsum not (for asymmetric
        content) — the pair pins orientation."""
        from osmium_tool_spark.operators.multimodal import (
            crop_images, png_pixel_checksums)

        imgs = self._imgs(spark, n=20)
        out = png_pixel_checksums(crop_images(imgs, epoch=2)).collect()
        assert len(out) == 20
        flipped = [r for r in out if r.flip]
        assert flipped  # hash-uniform: some flips in 20 draws
        for r in out:
            assert r.px_sum > 0 and r.px_wsum > 0

    @pytest.mark.parametrize("channels", [2, 3])
    def test_colour_inputs_crop_luma(self, spark, channels):
        """RGB and gray+alpha payloads crop to their rounded uint8 luma
        (the float luma used to crash encode_gray)."""
        import struct
        import zlib

        import numpy as np

        from osmium_tool_spark.functions import png as P
        from osmium_tool_spark.operators.multimodal import crop_images

        h, w = 20, 24
        rng = np.random.default_rng(channels)
        src = rng.integers(0, 256, (h, w, channels), dtype=np.uint8)
        if channels == 3:
            payload = P.encode_rgb(src)
        else:  # 8-bit gray+alpha PNG (color type 4)
            raw = np.concatenate(
                [np.zeros((h, 1), np.uint8), src.reshape(h, w * 2)], axis=1)

            def chunk(typ, data):
                return (struct.pack(">I", len(data)) + typ + data
                        + struct.pack(">I", zlib.crc32(typ + data)))

            payload = (P.SIGNATURE
                       + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 4, 0, 0, 0))
                       + chunk(b"IDAT", zlib.compress(raw.tobytes()))
                       + chunk(b"IEND", b""))
        imgs = spark.createDataFrame(
            [(i, payload, w, h) for i in range(4)],
            "image_id long, bytes binary, w int, h int")
        gray = np.clip(np.rint(P.luma(src)), 0, 255).astype(np.uint8)
        for r in crop_images(imgs, epoch=4).collect():
            sub = gray[r.crop_y:r.crop_y + r.h, r.crop_x:r.crop_x + r.w]
            if r.flip:
                sub = np.fliplr(sub)
            assert np.array_equal(P.decode(bytes(r.bytes))[:, :, 0], sub)


class TestResizeImagesReal:
    def test_png_gray_exact_nearest(self, spark):
        """r5 real-pixel resize: exact integer-grid nearest neighbor
        over a from-spec decoded PNG — every output pixel equals
        src[y*h0//h1, x*w0//w1] of the exact pattern."""
        import numpy as np

        from osmium_tool_spark.functions import png as _png
        from osmium_tool_spark.operators.multimodal import resize_images_real

        w0, h0, val = 32, 24, 7
        xs = np.arange(w0) * 7
        ys = np.arange(h0) * 13
        img = ((val * 31 + ys[:, None] + xs[None, :]) % 256).astype(np.uint8)
        df = spark.createDataFrame(
            [("a", _png.encode_gray(img))], "image_id string, bytes binary")
        r = resize_images_real(df, max_side=16).collect()[0]
        assert (r.w, r.h, r.fmt) == (16, 12, "png")
        got = _png.decode(bytes(r.bytes))[:, :, 0]
        yy = (np.arange(12) * h0) // 12
        xx = (np.arange(16) * w0) // 16
        assert np.array_equal(got, img[np.ix_(yy, xx)])

    def test_jpeg_color_and_noop(self, spark):
        import numpy as np

        from osmium_tool_spark.functions import jpeg as _jpeg
        from osmium_tool_spark.functions import png as _png
        from osmium_tool_spark.operators.multimodal import resize_images_real

        yy_, xx_ = np.mgrid[0:40, 0:56]
        rgb = np.stack([
            np.clip(100 + 80 * np.sin(xx_ / 11.0), 0, 255),
            np.clip(140 + 50 * np.cos(yy_ / 8.0), 0, 255),
            np.clip(90 + 0.5 * xx_ + 0.8 * yy_, 0, 255)],
            axis=2).astype(np.uint8)
        small_src = np.full((8, 6), 55, np.uint8)
        df = spark.createDataFrame(
            [("big", _jpeg.encode_rgb(rgb, 92)),
             ("small", _png.encode_gray(small_src))],
            "image_id string, bytes binary")
        out = {r.image_id: r for r in
               resize_images_real(df, max_side=28).collect()}
        big = out["big"]
        assert (big.w, big.h, big.fmt) == (28, 20, "png")
        dec = _png.decode(bytes(big.bytes))
        assert dec.shape == (20, 28, 3)  # color in -> color out
        # noop row passes through re-encoded, pixels identical
        small = out["small"]
        assert (small.w, small.h) == (6, 8)
        assert np.array_equal(
            _png.decode(bytes(small.bytes))[:, :, 0], small_src)

    def test_long_ids(self, spark):
        import numpy as np

        from osmium_tool_spark.functions import png as _png
        from osmium_tool_spark.operators.multimodal import resize_images_real

        df = spark.createDataFrame(
            [(7, _png.encode_gray(np.full((8, 6), 9, np.uint8)))],
            "image_id long, bytes binary")
        r = resize_images_real(df, max_side=4).collect()[0]
        assert (r.image_id, r.w, r.h) == ("7", 3, 4)

    def test_bad_args(self, spark):
        import pytest as _pytest

        from osmium_tool_spark.operators.multimodal import resize_images_real

        df = spark.createDataFrame([("a", b"x")], "image_id string, bytes binary")
        with _pytest.raises(ValueError, match="max_side"):
            resize_images_real(df, 0)
