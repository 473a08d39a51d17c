"""The engine's native input: an image+caption table (BASELINE.json
input_hint schema: image_id, bytes, w, h, fmt, caption, phash) and its
geo-referencing onto the entity model.

In production this is an Iceberg table at 10^12 rows; here we synthesize it
deterministically (no external data) either standalone or from the driver's
`documents` parquet so the DuckDB oracle can re-derive every non-binary
column with portable arithmetic.

Geo-referencing (SURVEY.md §1.4): each image row becomes a "node" whose
fixed-point lon/lat derive from its phash via the same Knuth-multiplicative
mix used everywhere else — so the whole osmium operator suite (extract /
tags-filter / sort / tiling) runs unchanged over images.

Image decoding: `any_decode_fns` dispatches on magic bytes to the
from-spec PNG and baseline-JPEG codecs (`functions/png.py`,
`functions/jpeg.py`; stdlib + numpy), and to Pillow for anything else
when it is installed. `decode_codec_meta` / `decode_codec_pixels` are
the decode stages over it. `decode_stub_meta` is the fake kept for the
synthetic tables above, whose `bytes` are caption text no codec can
decode.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PHASH_MOD = 281474976710656  # 2^48
MIX = 2654435761
MIX2 = 2246822519


def _phash(k):
    """48-bit pseudo-random perceptual-hash stand-in: two independent
    24-bit Knuth mixes (a single multiply mod 2^48 would leave the top
    bits zero for small keys)."""
    from pyspark.sql import functions as F

    return (k * MIX) % F.lit(16777216) + ((k * MIX2) % F.lit(16777216)) * F.lit(16777216)

# a tag only: decoding dispatches on the payload's magic bytes, never on fmt
FMTS = ("png", "jpeg", "webp")


def synth_images_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic image table over the driver's documents parquet.

    All non-binary columns are arithmetic on doc_id (portable to SQL);
    `bytes` is the UTF-8 caption payload — a stand-in with realistic
    per-row variable length that exercises the binary column end-to-end."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k = F.col("doc_id").cast("long")
    return docs.select(
        F.concat(F.lit("img"), F.col("doc_id").cast("string")).alias("image_id"),
        F.encode(F.col("text"), "UTF-8").alias("bytes"),
        (64 + (k * 37) % 448).cast("int").alias("w"),
        (64 + (k * 53) % 448).cast("int").alias("h"),
        F.element_at(F.array(*[F.lit(f) for f in FMTS]), (k % 3 + 1).cast("int")).alias("fmt"),
        F.col("text").alias("caption"),
        _phash(k).alias("phash"),
        F.col("doc_id").alias("doc_id"),
    )


def synth_images(spark: SparkSession, n: int, partitions: int = 32) -> DataFrame:
    """Standalone deterministic image table of n rows (benchmarks use this;
    no external input). bytes is a phash-seeded pseudo-payload."""
    k = F.col("id")
    return spark.range(0, n, 1, partitions).select(
        F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"),
        F.encode(
            F.conv(_phash(k).cast("string"), 10, 16), "UTF-8"
        ).alias("bytes"),
        (64 + (k * 37) % 448).cast("int").alias("w"),
        (64 + (k * 53) % 448).cast("int").alias("h"),
        F.element_at(F.array(*[F.lit(f) for f in FMTS]), (k % 3 + 1).cast("int")).alias("fmt"),
        F.concat(F.lit("caption for image "), F.col("id").cast("string")).alias("caption"),
        _phash(k).alias("phash"),
    )


DECODE_META_SCHEMA = (
    "image_id string, w int, h int, fmt string, n_bytes long, mean_luma double"
)


def decode_stub_meta(images: DataFrame) -> DataFrame:
    """Arrow-batched 'decode' stage: real plumbing, fake pixels.

    The mapInPandas stage receives the binary column in Arrow batches
    exactly as `decode_codec_meta` does, but derives per-image stats
    deterministically (mean_luma = phash % 256) instead of decoding.
    It is kept because the registry row `multimodal_decode` feeds it
    the caption-text `bytes` of `synth_images_from_documents`, which no
    codec can decode."""

    cols = images.select("image_id", "bytes", "w", "h", "fmt", "phash")

    def fake_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["bytes"].map(lambda b: len(b) if b is not None else 0)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "w": pdf["w"],
                    "h": pdf["h"],
                    "fmt": pdf["fmt"],
                    "n_bytes": n_bytes.astype("int64"),
                    "mean_luma": (pdf["phash"] % 256).astype("float64"),
                }
            )

    return cols.mapInPandas(fake_decode, schema=DECODE_META_SCHEMA)


PIXELS_SCHEMA = "image_id string, w int, h int, pixels array<double>"


def _codecs():
    """The from-spec codec modules (`functions/png.py`,
    `functions/jpeg.py`), registered with cloudpickle's public
    register_pickle_by_value so every kernel that references them
    ships them to executors that lack the repo on their sys.path."""
    from pyspark import cloudpickle

    from ..functions import jpeg, png

    cloudpickle.register_pickle_by_value(png)
    cloudpickle.register_pickle_by_value(jpeg)
    return png, jpeg


def any_decode_fns():
    """(decode, luma) for executor kernels. `decode(payload)` returns
    (fmt, pixels) with pixels an (h, w, c) uint8 array; `luma` is
    `png.luma` (Rec.601, float64). This is the one place that decides
    the format, by magic bytes: the PNG signature goes to
    `functions/png.py`, the JPEG SOI (FFD8) to `functions/jpeg.py`, and
    anything else to Pillow when the executor can import it; without
    Pillow it fails loud."""
    png, jpeg = _codecs()
    sig = png.SIGNATURE

    def decode(payload: bytes):
        if payload[:8] == sig:
            return "png", png.decode(payload)
        if payload[:2] == b"\xff\xd8":
            return "jpeg", jpeg.decode(payload)
        try:
            from PIL import Image
        except ImportError:
            raise NotImplementedError(
                "decode: payload is neither PNG nor baseline JPEG — "
                "other formats need Pillow"
            ) from None
        import io

        import numpy as np

        img = Image.open(io.BytesIO(payload))
        gray = img.mode in ("1", "L", "LA")
        pixels = np.asarray(img.convert("L" if gray else "RGB"))
        return (img.format or "").lower(), pixels[:, :, None] if gray else pixels

    return decode, png.luma


def decode_codec_meta(images: DataFrame) -> DataFrame:
    """REAL decode stage: w/h/mean_luma from the decoded pixels of each
    (image_id, bytes) row, fmt from the payload's magic bytes (the
    input's fmt column, if any, is ignored). Same Arrow-batched
    mapInPandas shape and DECODE_META_SCHEMA as `decode_stub_meta`;
    payloads `any_decode_fns` cannot decode fail loud."""
    decode, luma = any_decode_fns()
    cols = images.select("image_id", "bytes")

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"image_id": [], "w": [], "h": [], "fmt": [],
                   "n_bytes": [], "mean_luma": []}
            for iid, payload in zip(pdf["image_id"], pdf["bytes"]):
                payload = bytes(payload)
                fmt, img = decode(payload)
                out["image_id"].append(iid)
                out["w"].append(img.shape[1])
                out["h"].append(img.shape[0])
                out["fmt"].append(fmt)
                out["n_bytes"].append(len(payload))
                out["mean_luma"].append(float(luma(img).mean()))
            yield pd.DataFrame(out)

    return cols.mapInPandas(dec, schema=DECODE_META_SCHEMA)


def decode_codec_pixels(images: DataFrame) -> DataFrame:
    """Decoded luma samples (PIXELS_SCHEMA) per (image_id, bytes) row,
    through the same dispatch as `decode_codec_meta` — the input the
    PSNR>=40dB invariant consumes (operators/invariants.py). Pixel
    arrays are large; run this on the sample under check, not the
    full corpus."""
    decode, luma = any_decode_fns()
    cols = images.select("image_id", "bytes")

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"image_id": [], "w": [], "h": [], "pixels": []}
            for iid, payload in zip(pdf["image_id"], pdf["bytes"]):
                _, img = decode(bytes(payload))
                out["image_id"].append(iid)
                out["w"].append(img.shape[1])
                out["h"].append(img.shape[0])
                out["pixels"].append(luma(img).ravel())
            yield pd.DataFrame(out)

    return cols.mapInPandas(dec, schema=PIXELS_SCHEMA)


def _encode_images(df: DataFrame, fmt: str, gradient: bool, encode) -> DataFrame:
    """Shared body of the synthetic encoders: for each row (image_id, w,
    h, val) build a w×h gray image — constant `val & 0xFF`, or with
    `gradient` the pattern pixel(x, y) = (val*31 + x*7 + y*13) % 256 —
    and store `encode(image)` as `bytes`. Every other column passes
    through; `fmt` is set to the given constant."""
    cols = df.select(*[c for c in df.columns if c not in ("bytes", "fmt")])
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in cols.schema.fields
    ) + ", bytes binary, fmt string"

    def pixels(w: int, h: int, v: int):
        import numpy as np

        if not gradient:
            return np.full((h, w), v & 0xFF, np.uint8)
        xs = np.arange(w, dtype=np.int64) * 7
        ys = np.arange(h, dtype=np.int64) * 13
        return ((v * 31 + ys[:, None] + xs[None, :]) % 256).astype(np.uint8)

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["bytes"] = [
                encode(pixels(int(w), int(h), int(v)))
                for w, h, v in zip(pdf["w"], pdf["h"], pdf["val"])
            ]
            pdf["fmt"] = fmt
            yield pdf

    return cols.mapInPandas(enc, schema=schema)


def encode_gray_png_images(df: DataFrame) -> DataFrame:
    """REAL synthetic PNG payloads: a constant-gray w×h image per row
    (image_id, w, h, val), encoded with the from-spec codec — genuine
    spec-conformant PNG bytes whose every pixel is an arithmetic
    function of the row, so SQL oracles can predict downstream decoded
    statistics exactly. Adds `bytes` + fmt='png'."""
    png, _ = _codecs()
    return _encode_images(df, "png", False, png.encode_gray)


def encode_pattern_png_images(df: DataFrame) -> DataFrame:
    """REAL synthetic PNG payloads with per-pixel STRUCTURE: the
    gradient pixel(x, y) = (val*31 + x*7 + y*13) % 256 per row
    (image_id, w, h, val), so structure-sensitive kernels downstream
    (dHash block comparisons) get non-degenerate input while every
    pixel stays exact integer arithmetic a SQL oracle can recompute.
    Adds `bytes` + fmt='png'."""
    png, _ = _codecs()
    return _encode_images(df, "png", True, png.encode_gray)


def encode_pattern_jpeg_images(df: DataFrame, quality: int = 92) -> DataFrame:
    """REAL synthetic baseline-JPEG payloads: the same gradient pattern
    as `encode_pattern_png_images`, run through the from-spec LOSSY
    encoder. The decoded pixels are no longer an exact SQL-predictable
    function of the row (that is the point of a lossy fixture); the
    exact pattern remains the PSNR reference the invariant chain
    compares against. Adds `bytes` + fmt='jpeg'."""
    _, jpeg = _codecs()
    return _encode_images(
        df, "jpeg", True, lambda img: jpeg.encode_gray(img, quality=quality)
    )
